package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.model.Trip
import graft.sources.{Catalog, NioRawLocalFileSystem}
import graft.streaming.OpLog
import graft.tools.TripPipelineDemo

/** The tables the catalog creates and truncates from the driver: what
  * the zero-row file holds, what its footer declares, and what a crash
  * at each step leaves behind.
  */
class DriverSideWriteSpec extends SparkSpec {
  import spark.implicits._

  /** Visible data files and every other entry of a table directory. */
  private def entries(dir: String): (Seq[String], Seq[String]) =
    new java.io.File(dir).listFiles().map(_.getName).toSeq.sorted
      .partition(n => n.startsWith("part-") && n.endsWith(".parquet"))

  test("truncate and ensureTable leave one zero-row file whose inferred schema is the declared one") {
    val dir = Files.createTempDirectory("graft-driver-write").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val schema = Trip.schemaWithDate
    // a staging table as a Spark write leaves it: part files, their
    // .crc files and _SUCCESS, plus a stale part file of an earlier batch
    val rows = Seq.tabulate(20)(i =>
      (s"r$i", "o", "d", "2024-01-02 10:00:00", "ds", s"k$i", java.sql.Date.valueOf("2024-01-02")))
    cat.overwrite("stg", rows.toDF(schema.fieldNames: _*).repartition(3))
    Files.writeString(java.nio.file.Paths.get(s"$dir/wh/stg/part-stale.snappy.parquet"), "stale")
    val (before, other) = entries(s"$dir/wh/stg")
    assert(before.size === 4 && other.contains("_SUCCESS") && other.exists(_.endsWith(".crc")))

    cat.truncate("stg", schema)
    cat.ensureTable("created", schema)
    assert(!new java.io.File(s"$dir/wh").list().exists(_.startsWith(".")),
      "ensureTable left its hidden creation directory behind")
    // Spark's own write of an empty frame, for the schema it reads back
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"$dir/wh/spark_empty")
    val sparkSchema = spark.read.parquet(s"$dir/wh/spark_empty").schema
    Seq("stg", "created").foreach { t =>
      val (files, rest) = entries(s"$dir/wh/$t")
      assert(files.size === 1, s"$t: $files")
      assert(rest === Seq(s".${files.head}.crc"), s"$t: $rest")
      val back = spark.read.parquet(s"$dir/wh/$t")
      assert(back.count() === 0, t)
      assert(back.schema === schema, t)
      assert(back.schema === sparkSchema, t)
    }
  }

  test("op-log rows keep their footer schema on the shared driver-side writer") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = Files.createTempDirectory("graft-driver-oplog").toString
    val cat = new Catalog(spark, dir)
    val log = new OpLog(cat, "ops",
      StructType(Seq(StructField("n", LongType), StructField("bytes", LongType))))
    log.ensure()
    log.beginAttempt(1L)
    log.commitValues(1L, Seq(Some(5L), None))
    val conf = spark.sessionState.newHadoopConf()
    val files = entries(s"$dir/ops")._1
    assert(files.size === 3, files)
    files.foreach { f =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$dir/ops/$f"), conf))
      try assert(in.getFooter.getFileMetaData.getSchema ===
        org.apache.parquet.schema.MessageTypeParser.parseMessageType(
          "message spark_schema { required int64 seq; optional int64 n; optional int64 bytes; }"), f)
      finally in.close()
    }
    assert(log.rows.collect().map(_.toSeq).toSet ===
      Set(Seq(1L, null, null), Seq(1L, 5L, null)))
  }

  test("a crash at each driver-side step leaves staging readable and the re-run converges") {
    val dir = Files.createTempDirectory("graft-driver-crash").toString
    val csvs = Seq((100, 0), (100, 50)).zipWithIndex.map { case ((n, off), i) =>
      val csv = s"$dir/trips$i.csv"
      Files.writeString(java.nio.file.Paths.get(csv), TripPipelineDemo.syntheticCsv(n, off))
      csv
    }
    def state(p: Pipeline) = (p.hist.collect().map(_.toSeq).toSet,
      p.summarized.collect().map(_.toSeq).toSet)
    val clean = new Pipeline(spark, s"$dir/clean")
    csvs.foreach(clean.runBatch)
    val expected = state(clean)

    val session = spark.newSession()
    session.conf.set("fs.graftcrash.impl", classOf[CrashingLocalFs].getName)
    session.conf.set("fs.graftcrash.impl.disable.cache", "true")
    def under(p: Path, table: String) = p.getParent.toUri.getPath.endsWith(s"/$table")
    def deleteOfOld(k: Int): (String, Path) => Boolean = {
      var n = 0
      (op, p) => op == "delete" && under(p, "stg_trip_data") &&
        (p.getName.startsWith("part-") || p.getName == "_SUCCESS") && { n += 1; n == k }
    }
    // (name, batch the crash hits, trap)
    val cases = Seq[(String, Int, (String, Path) => Boolean)](
      ("after the temp write", 1, (op, p) =>
        op == "rename" && under(p, "stg_trip_data") && p.getName.startsWith(".part-")),
      ("after the rename", 1, deleteOfOld(1)),
      ("between the deletes", 1, deleteOfOld(2)),
      ("between hist and view mkdirs", 0, (op, p) =>
        op == "mkdirs" && p.toUri.getPath.endsWith("/summarized_trip_data")))
    cases.foreach { case (name, crashed, trap) =>
      val wh = s"graftcrash://$dir/${name.replace(' ', '_')}"
      val pipe = new Pipeline(session, wh)
      csvs.take(crashed).foreach(pipe.runBatch)
      CrashingLocalFs.trap = trap
      try intercept[CrashingLocalFs.Crash](pipe.runBatch(csvs(crashed)))
      finally CrashingLocalFs.trap = CrashingLocalFs.Never
      // readable by schema inference, not only with the declared schema
      session.read.parquet(pipe.catalog.path(pipe.StagingTable)).count()
      csvs.drop(crashed).foreach(pipe.runBatch)
      assert(state(pipe) === expected, name)
      assert(pipe.catalog.read(pipe.StagingTable).count() === 0, name)
    }
  }
}

/** The checksummed local filesystem under the `graftcrash` scheme. Its
  * renames, deletes and mkdirs first ask [[CrashingLocalFs.trap]], which a
  * test arms to throw at one chosen call, standing in for a process
  * killed there.
  */
class CrashingLocalFs extends LocalFileSystem(new CrashingRawLocalFs) {
  override def getScheme: String = "graftcrash"
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingLocalFs.check("rename", src); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashingLocalFs.check("delete", p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    CrashingLocalFs.check("mkdirs", p); super.mkdirs(p)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    CrashingLocalFs.check("mkdirs", p); super.mkdirs(p, perm)
  }
}

object CrashingLocalFs {
  final class Crash extends RuntimeException("injected crash")
  val Never: (String, Path) => Boolean = (_, _) => false
  @volatile var trap: (String, Path) => Boolean = Never
  def check(op: String, p: Path): Unit = if (trap(op, p)) throw new Crash
}

class CrashingRawLocalFs extends NioRawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcrash:///")
  override def getScheme: String = "graftcrash"
}
