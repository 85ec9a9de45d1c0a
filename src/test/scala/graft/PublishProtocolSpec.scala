package graft

import java.nio.file.{Files, Path => NioPath, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType
import graft.sources.{Catalog, CommitCoordinator}

object PublishProtocolSpec {
  /** A coordinator that counts each primitive it forwards. */
  final class Counting(delegate: CommitCoordinator = CommitCoordinator.fileAtomics)
      extends CommitCoordinator {
    private val calls =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]
    private def hit(m: String): Unit =
      calls.computeIfAbsent(m, _ => new AtomicInteger).incrementAndGet()
    def counts: Map[String, Int] =
      Seq("createIfAbsent", "readSmall", "rename", "delete")
        .map(m => m -> Option(calls.get(m)).map(_.get).getOrElse(0)).toMap
    def reset(): Unit = calls.clear()

    def createIfAbsent(fs: FileSystem, path: Path, content: String): Boolean = {
      hit("createIfAbsent"); delegate.createIfAbsent(fs, path, content)
    }
    def readSmall(fs: FileSystem, path: Path): Option[String] = {
      hit("readSmall"); delegate.readSmall(fs, path)
    }
    def rename(fs: FileSystem, src: Path, dst: Path): Boolean = {
      hit("rename"); delegate.rename(fs, src, dst)
    }
    def delete(fs: FileSystem, path: Path, recursive: Boolean): Boolean = {
      hit("delete"); delegate.delete(fs, path, recursive)
    }
  }
}

/** The stage-and-swap publishes of [[Catalog]] ([[Catalog.replaceTable]],
  * [[Catalog.compactPartitioned]]) at the protocol level: a compaction
  * crashed at every coordinator pause heals to its pre-compaction rows,
  * the heal claim admits one healer of an expired swap marker, and the
  * coordinator traffic of one publish of each kind is pinned.
  */
class PublishProtocolSpec extends SparkSpec {
  import spark.implicits._
  import PublishProtocolSpec.Counting

  private final class Boom extends RuntimeException("injected crash")

  private val partSchema = StructType.fromDDL("v BIGINT, p INT")

  /** Two appends into `t`, partitioned by `p`: two files in each of the
    * partitions p=0 and p=1, so a compaction at one file per partition
    * rewrites both. */
  private def populatePartitioned(cat: Catalog): Unit =
    (0 until 2).foreach { i =>
      cat.appendPartitioned("t",
        (1L to 20L).map(v => (v + 100L * i, (v % 2).toInt)).toDF("v", "p"),
        Seq("p"), clusterInto = Some(2))
    }

  private def partRows(cat: Catalog): Seq[(Long, Int)] =
    cat.readWithSchema("t", partSchema).as[(Long, Int)].collect().toSeq.sorted

  private def copyTree(src: NioPath, dst: NioPath): Unit =
    scala.util.Using.resource(Files.walk(src)) { s =>
      s.forEach { f =>
        val d = dst.resolve(src.relativize(f))
        if (Files.isDirectory(f)) Files.createDirectories(d) else Files.copy(f, d)
      }
    }

  /** Names in `wh` a publish or its heal must not leave behind. */
  private def leftovers(wh: String): Seq[String] =
    new java.io.File(wh).listFiles().map(_.getName).toSeq.filter(n =>
      n.startsWith("t__compacting") || n.startsWith("t__replacing") ||
        n == "t__replaced" || n == "t__swapping" || n.startsWith("t__swapheal"))

  /** (relative path, length, mtime) of every entry under `root`. */
  private def snapshot(root: String): Seq[(String, Long, Long)] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) { s =>
      val b = Seq.newBuilder[(String, Long, Long)]
      s.forEach { f =>
        b += ((Paths.get(root).relativize(f).toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis))
      }
      b.result().sorted
    }

  test("a compaction crashed at every rename-phase pause heals to its pre-compaction rows") {
    val base = Files.createTempDirectory("graft-compact-sweep")
    val template = base.resolve("template")
    val tplCat = new Catalog(spark, template.toString)
    populatePartitioned(tplCat)
    val before = partRows(tplCat)
    var runs = 0
    /** A fresh copy of the template and a catalog over it whose
      * copy-then-delete coordinator throws at its `crashAt`-th pause
      * (never when 0), with the pause counter. */
    def fresh(crashAt: Int, ttlMs: Long = 15 * 60 * 1000L)
        : (String, Catalog, AtomicInteger) = {
      runs += 1
      val wh = base.resolve(s"wh$runs")
      copyTree(template, wh)
      val n = new AtomicInteger(0)
      val coord = CommitCoordinator.copyDeleteRename(pause = () => {
        if (n.incrementAndGet() == crashAt) throw new Boom
      })
      (wh.toString, new Catalog(spark, wh.toString, coord, ttlMs = ttlMs), n)
    }
    val (cleanWh, clean, pauses) = fresh(0)
    assert(clean.compactPartitioned("t", "p", partSchema,
      maxFilesPerPartition = 1).sorted === Seq("0", "1"))
    assert(partRows(clean) === before)
    assert(leftovers(cleanWh).isEmpty)
    val total = pauses.get
    assert(total > 0, "the clean run renamed nothing through the coordinator")
    info(s"$total pauses swept")
    (1 to total).foreach { k =>
      val (wh, cat, _) = fresh(k)
      intercept[Boom] {
        cat.compactPartitioned("t", "p", partSchema, maxFilesPerPartition = 1)
      }
      cat.recoverCompaction("t", "p")
      assert(partRows(cat) === before, s"crash at pause $k of $total changed the rows")
      assert(leftovers(wh).isEmpty, s"crash at pause $k of $total left ${leftovers(wh)}")
    }
    // a foreign catalog heals the owner's expired marker the same way
    val k = total / 2
    val (wh, owner, _) = fresh(k, ttlMs = 50L)
    intercept[Boom] {
      owner.compactPartitioned("t", "p", partSchema, maxFilesPerPartition = 1)
    }
    assert(new java.io.File(s"$wh/t__swapping").exists(),
      s"crash at pause $k should leave the swap marker")
    Thread.sleep(120)
    val foreign = new Catalog(spark, wh)
    foreign.recoverCompaction("t", "p")
    assert(partRows(foreign) === before, s"foreign heal of pause $k changed the rows")
    assert(leftovers(wh).isEmpty, s"foreign heal of pause $k left ${leftovers(wh)}")
  }

  test("the heal claim admits one healer of an expired swap marker") {
    val dir = Files.createTempDirectory("graft-heal-claim").toString
    val wh = s"$dir/wh"
    val plain = new Catalog(spark, wh)
    val schema = StructType.fromDDL("v BIGINT")
    plain.overwrite("t", (1L to 30L).toDF("v").repartition(3))
    def sum(): Long = plain.readWithSchema("t", schema).as[Long].collect().sum
    val oldSum = sum()
    // a short-TTL writer dies inside its move-aside: the marker stays
    val n = new AtomicInteger(0)
    val crashing = new Catalog(spark, wh, CommitCoordinator.copyDeleteRename(
      pause = () => if (n.incrementAndGet() == 3) throw new Boom), ttlMs = 50L)
    intercept[Boom] { crashing.replaceTable("t", (1L to 5L).toDF("v")) }
    Thread.sleep(120)
    assert(new java.io.File(s"$wh/t__swapping").exists())
    // a foreign healer's live claim on the expired marker
    val claim = Paths.get(s"$wh/t__swapheal")
    Files.write(claim, s"other ${System.currentTimeMillis() + 3600 * 1000L}".getBytes("UTF-8"))
    intercept[Catalog.SwapInFlight] { plain.recoverReplace("t") }
    val held = snapshot(wh)
    plain.recoverReplace("t", lenient = true)
    assert(snapshot(wh) === held, "a lenient entry must leave a claimed heal untouched")
    // the claim's holder crashed: its expiry passed, so the next healer
    // breaks it and completes the heal
    Files.write(claim, "other 0".getBytes("UTF-8"))
    plain.recoverReplace("t")
    assert(sum() === oldSum)
    assert(leftovers(wh).isEmpty, s"heal left ${leftovers(wh)}")
  }

  test("one replaceTable and one compactPartitioned keep their coordinator traffic") {
    val dir = Files.createTempDirectory("graft-coord-calls").toString
    val counting = new Counting
    val cat = new Catalog(spark, s"$dir/wh", counting)
    cat.overwrite("flat", (1L to 30L).toDF("v").repartition(3))
    populatePartitioned(cat)
    counting.reset()
    cat.replaceTable("flat", (1L to 10L).toDF("v"))
    val replace = counting.counts
    counting.reset()
    assert(cat.compactPartitioned("t", "p", partSchema,
      maxFilesPerPartition = 1).sorted === Seq("0", "1"))
    val compact = counting.counts
    info(s"replaceTable: $replace; compactPartitioned: $compact")
    // the counts of the two publishes before they shared one skeleton;
    // a change may only lower them
    def within(got: Map[String, Int], pin: Map[String, Int]): Unit =
      pin.foreach { case (m, n) => assert(got(m) <= n, s"$m: ${got(m)} > $n") }
    within(replace, Map("createIfAbsent" -> 3, "readSmall" -> 5, "rename" -> 2, "delete" -> 5))
    within(compact, Map("createIfAbsent" -> 3, "readSmall" -> 4, "rename" -> 4, "delete" -> 6))
  }
}
