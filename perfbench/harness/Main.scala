package org.apache.spark.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{SparkSession, functions => F}
import graft.{GraftFunctions, GraftSession, Pipeline, SparkEntry}
import graft.operators.{TripQueries, Upsert}

/** JVM side of the benchmark: runs one workload's set-ups and passes as a
  * single closed-loop client, times each call into the program, checks
  * results outside the timer, and dumps raw records as JSON for
  * `ledger.py`. Usage: Main <spec file>, where the spec is written by
  * `run.py` (one tab-separated key and values per line).
  */
object Main {

  final case class Op(name: String, fn: String, module: String,
      startMs: Double, endMs: Double, ok: Boolean, error: String)

  final class Spec(lines: Seq[Array[String]]) {
    def one(k: String): String = all(k).head.head
    def all(k: String): Seq[Seq[String]] = lines.filter(_.head == k).map(_.toSeq.tail)
  }

  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, comparable to the
    * millisecond stamps Spark puts on its events. */
  def nowMs(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Peak heap in use right after the full collection that follows each
    * pass: the largest live set a pass left behind. */
  var liveAfterPassMb = 0.0
  /** Peak heap in use right after any collection, summed over the heap
    * pools, as the JVM reports it in its GC notifications. Most of these
    * are young collections the program's own allocation triggers. */
  @volatile var afterAnyGcMb = 0.0
  private var spanSeq = 0

  private object GcWatch extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val mb = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1048576.0
        synchronized { afterAnyGcMb = math.max(afterAnyGcMb, mb) }
      }
  }

  /** Runs the spec's workload and writes its dump to the spec's `out`. */
  def main(args: Array[String]): Unit = {
    val spec = new Spec(scala.io.Source.fromFile(args(0), "UTF-8")
      .getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toSeq)
    GcWatch.install()
    val cores = spec.one("cores").toInt
    val work = spec.one("work")
    val spark = GraftSession.builder("perfbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    try {
      val wl: Workload = spec.one("workload") match {
        case "trip_batches" => new TripBatches(spark, spec, work)
        case "catalog_slice" => new CatalogSlice(spark, spec, work)
      }
      val out = wl.run(spec.one("seconds").toDouble, spec.one("trace") == "1")
      Files.writeString(Paths.get(spec.one("out")), json.writeValueAsString(out))
    } finally spark.stop()
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val at = root.getStackTrace.find(_.getClassName.startsWith("graft."))
      .map(f => s" at ${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
      .getOrElse("")
    s"${root.getClass.getName}: ${Option(root.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}$at"
  }

  /** Time one call into the program. Jobs it launches carry the span id. */
  def timed(spark: SparkSession, name: String, fn: String, module: String)(body: => Unit): Op = {
    spanSeq += 1
    val span = s"$spanSeq|$name|$fn|$module"
    spark.sparkContext.setLocalProperty(Trace.SpanKey, span)
    val t0 = nowMs()
    val err = try { body; null } catch { case NonFatal(e) => describe(e) }
    val t1 = nowMs()
    spark.sparkContext.setLocalProperty(Trace.SpanKey, null)
    Op(span, fn, module, t0, t1, err == null, err)
  }

  /** A full collection, run once after each pass and never inside one. */
  def liveAfterPass(): Unit = {
    System.gc()
    liveAfterPassMb = math.max(liveAfterPassMb,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  def clear(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(clear))
    f.delete()
  }
}

import Main._

/** One workload: `setup` prepares a state, `pass` times calls against it.
  * Passes repeat, each after its own set-up, until `seconds` have been
  * measured; at least five set-ups are timed so `setup_s` is a median. */
abstract class Workload(val spark: SparkSession, val spec: Main.Spec, val work: String) {
  type State
  def setup(dir: String): State
  def pass(st: State, traced: Option[Tracer]): Seq[Op]
  def checks(st: State): Seq[(String, Boolean, String)]
  /** The known-defect probe: calls the measured workload leaves out
    * because the program fails them, run once on a state of its own after
    * the passes, their checks and the traced pass, outside every timer.
    * Returns its calls and its checks; neither counts in the result. */
  def probe(dir: String): (Seq[Op], Seq[(String, Boolean, String)]) = (Nil, Nil)
  def histSuffix: Option[String] = None
  /** Facts about the final state of a traced pass (file counts, bytes). */
  def facts(st: State): Map[String, Double] = Map.empty

  private var n = 0
  private def freshDir(): String = {
    n += 1
    val d = s"$work/state-$n"
    Main.clear(new File(d))
    new File(d).mkdirs()
    d
  }

  private def timedSetup(times: ArrayBuffer[Double]): State = {
    val t0 = nowMs()
    val st = setup(freshDir())
    times += (nowMs() - t0) / 1000.0
    st
  }

  /** Passes run until `seconds` have been measured. With `trace`, a
    * traced pass and one more untraced pass follow, so the overhead ratio
    * compares two passes that both run after the first, cold one. */
  def run(seconds: Double, trace: Boolean): Map[String, Any] = {
    val setupTimes = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = nowMs(); val r = body; phases(name) = (nowMs() - t0) / 1000.0; r
    }
    (1 to 4).foreach(_ => timedSetup(setupTimes))
    var measured = 0.0
    var last: State = null.asInstanceOf[State]
    while (passes.isEmpty || measured < seconds) {
      last = timedSetup(setupTimes)
      val t0 = nowMs()
      val ops = pass(last, None)
      measured += (nowMs() - t0) / 1000.0
      passes += Map("ops" -> ops.map(opJson))
      liveAfterPass()
    }
    val heap = Map("heap_after_gc_mb" -> liveAfterPassMb,
      "jvm.heap_after_program_gc_mb" -> afterAnyGcMb)
    val checked = phase("checks")(checks(last))
    var traced: Map[String, Any] = Map.empty
    if (trace) {
      val st = setup(freshDir())
      val tr = new Tracer(spark, histSuffix)
      tr.install()
      val t0 = nowMs()
      val ops = pass(st, Some(tr))
      val t1 = nowMs()
      tr.uninstall()
      val after = pass(setup(freshDir()), None)
      traced = traceJson(tr, ops, t0, t1) ++
        Map("facts" -> facts(st), "untraced_after" -> after.map(opJson))
    }
    val (probeOps, probeChecks) = phase("probe")(probe(freshDir()))
    Map(
      "workload" -> spec.one("workload"),
      "setup_s" -> setupTimes.toSeq,
      "passes" -> passes.toSeq,
      "heap" -> heap,
      "phases_s" -> phases.toSeq,
      "checks" -> checked.map(checkJson),
      "probe" -> Map("ops" -> probeOps.map(opJson), "checks" -> probeChecks.map(checkJson)),
      "trace" -> traced)
  }

  private def firstFrame(site: String): String =
    site.split("\n").find(_.trim.startsWith("graft.")).getOrElse(site.split("\n").head).trim

  private def checkJson(c: (String, Boolean, String)): Map[String, Any] =
    Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3)

  def opJson(o: Op): Map[String, Any] = Map(
    "span" -> o.name, "fn" -> o.fn, "module" -> o.module,
    "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok, "error" -> o.error)

  private def traceJson(tr: Tracer, ops: Seq[Op], t0: Double, t1: Double): Map[String, Any] =
    Map(
      "start_ms" -> t0, "end_ms" -> t1,
      "ops" -> ops.map(opJson),
      "jobs" -> tr.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
        // a job a query execution runs on another thread (broadcasts, AQE
        // stages) has no program frame of its own; the execution's call
        // site, captured on the calling thread, names the module
        val sqlSite = tr.sqlSites.getOrDefault(j.sqlId, "")
        Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "span" -> j.span,
          "module" -> Trace.moduleOf(j.callSite).orElse(Trace.moduleOf(sqlSite)).orNull,
          "site" -> firstFrame(j.callSite), "sql_site" -> firstFrame(sqlSite)) },
      "stages" -> tr.stages.values.asScala.toSeq.sortBy(_.id).map { s =>
        Map("id" -> s.id, "job" -> s.job, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shWriteBytes, "shuffle_write_ns" -> s.shWriteNs,
          "shuffle_read_bytes" -> s.shReadBytes, "shuffle_fetch_wait_ms" -> s.shFetchWaitMs,
          "input_bytes" -> s.inBytes, "output_bytes" -> s.outBytes) },
      "plans" -> tr.plans.asScala.toSeq.map { p =>
        Map("start_ms" -> p.start, "end_ms" -> p.end, "analysis_ms" -> p.analysisMs,
          "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs,
          "write_target" -> p.writeTarget, "hist_scan_bytes" -> p.histScanBytes,
          "written_parts" -> p.writtenParts, "written_rows" -> p.writtenRows) },
      "triggers" -> tr.triggers.asScala.toSeq.map(t => Map("ms" -> t.durations)))
}

/** The reference's batch DAG: a seed batch lands at set-up, then every
  * scheduled CSV file goes through `Pipeline.runBatch` and the history is
  * compacted once. */
final class TripBatches(spark: SparkSession, spec: Main.Spec, work: String)
    extends Workload(spark, spec, work) {
  type State = Pipeline
  private val batches = spec.all("batch").map(b => (b(0), b(1)))
  override def histSuffix = Some("/hist_trip_data")

  def setup(dir: String): Pipeline = {
    val p = new Pipeline(spark, s"$dir/warehouse")
    spec.all("setup_batch").foreach(b => p.runBatch(b.head))
    p
  }

  /** Bytes of the hist table on disk before each batch: the denominator of
    * the upsert's scan ratio. Walked between calls, outside the timer. */
  val histBytesBefore = ArrayBuffer.empty[Long]

  def pass(p: Pipeline, traced: Option[Tracer]): Seq[Op] = {
    val ops = batches.map { case (name, path) =>
      if (traced.isDefined)
        histBytesBefore += bytesUnder(new File(p.catalog.path(p.HistTable)))
      timed(spark, s"runBatch:$name", "Pipeline.runBatch", "Pipeline")(p.runBatch(path))
    }
    ops :+ timed(spark, "compactHist", "Pipeline.compactHist", "Pipeline")(
      p.compactHist(maxFilesPerPartition = 1))
  }

  override def facts(p: Pipeline): Map[String, Double] = {
    val hist = new File(p.catalog.path(p.HistTable))
    val parts = Option(hist.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
    val files = parts.map(d => d.listFiles().count(f =>
      f.isFile && f.getName.endsWith(".parquet")))
    Map(
      "hist_files" -> files.sum.toDouble,
      "hist_files_per_partition_max" -> (if (files.isEmpty) 0.0 else files.max.toDouble),
      "hist_partitions" -> parts.length.toDouble,
      "hist_bytes_on_disk_before_batches" -> histBytesBefore.sum.toDouble,
      "warehouse_bytes" -> bytesUnder(new File(p.catalog.path(""))).toDouble)
  }

  def checks(p: Pipeline): Seq[(String, Boolean, String)] =
    checksOf(p, spec.one("expected_distinct").toLong)

  /** A dirty file delivered twice, then a file whose every date_time is
    * malformed, on a fresh warehouse that has the seed batch. */
  override def probe(dir: String): (Seq[Op], Seq[(String, Boolean, String)]) = {
    val p = setup(dir)
    val ops = spec.all("probe_batch").map { b =>
      timed(spark, s"probe:runBatch:${b(0)}", "Pipeline.runBatch", "Pipeline")(p.runBatch(b(1)))
    }
    val failed = ops.filterNot(_.ok)
    val calls = ("runBatch_succeeds", failed.isEmpty,
      if (failed.isEmpty) s"${ops.size} calls returned"
      else failed.map(o => s"${o.name.split('|')(1)}: ${o.error}").mkString("; "))
    (ops, (calls +: checksOf(p, spec.one("probe_expected_distinct").toLong))
      .map { case (n, ok, d) => (s"probe:$n", ok, d) })
  }

  def checksOf(p: Pipeline, expected: Long): Seq[(String, Boolean, String)] = {
    val hist = p.hist
    val n = hist.count()
    val distinct = hist.select("trip_key").distinct().count()
    val nullDate = hist.filter(F.col("trip_date").isNull).count()
    val dupKeys = hist.groupBy("trip_key").count().filter(F.col("count") > 1)
    val dups = dupKeys.count()
    val dupNullDate = dupKeys.join(hist.filter(F.col("trip_date").isNull)
      .select("trip_key").distinct(), "trip_key").count()
    val full = TripQueries.weeklyAvgTripsPerRegion(hist)
      .select("region", "week_of_month", "weekly_avg")
    val view = p.summarized
    val onlyFull = full.exceptAll(view).count()
    val onlyView = view.exceptAll(full).count()
    val onlyFullNullBucket = full.exceptAll(view).filter(F.col("week_of_month").isNull).count()
    val staging = p.catalog.read(p.StagingTable).count()
    Seq(
      ("hist_rows_equal_distinct_keys", n == expected && distinct == expected,
        s"hist rows $n, distinct trip_keys stored $distinct, distinct keys delivered $expected; " +
          s"rows with NULL trip_date $nullDate"),
      ("hist_trip_key_unique", Upsert.holdsUniqueness(hist, "trip_key"),
        s"$dups trip_keys stored more than once, $dupNullDate of them with NULL trip_date " +
          "(the upsert's trip_date range prune never matches a NULL trip_date)"),
      ("view_equals_full_recompute", onlyFull == 0 && onlyView == 0,
        s"rows only in the full recompute $onlyFull ($onlyFullNullBucket with NULL week_of_month), " +
          s"rows only in the incremental view $onlyView"),
      ("staging_empty", staging == 0, s"staging rows $staging"))
  }
}

/** One pass over a slice of the query catalog on the generated tables.
  * Each entry's result is written as parquet, as `graft.Verify` does, for
  * the DuckDB oracle check that `run.py` runs afterwards. */
final class CatalogSlice(spark: SparkSession, spec: Main.Spec, work: String)
    extends Workload(spark, spec, work) {
  type State = String
  private val tables = spec.one("tables")
  private val entries = spec.one("entries").split(",").toSeq
  private val results = spec.one("results")

  /** The engine's side of set-up: the catalog and every input's footer.
    * The pass itself runs cold, as a fresh session would. */
  def setup(dir: String): String = {
    val qs = SparkEntry.queries
    entries.foreach(e => require(qs.contains(e), s"no catalog entry $e"))
    Seq("lineitem", "orders", "events", "documents")
      .foreach(t => spark.read.parquet(s"$tables/$t.parquet").schema)
    dir
  }

  def pass(dir: String, traced: Option[Tracer]): Seq[Op] = {
    val qs = SparkEntry.queries
    entries.map { e =>
      timed(spark, e, s"SparkEntry.queries($e)", "queries") {
        qs(e)(spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$results/$e")
      }
    }
  }

  def checks(dir: String): Seq[(String, Boolean, String)] = {
    val oracles = SparkEntry.oracleSql
    val json = entries.map(e => e -> oracles(e)).toMap
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Main.json.writeValueAsString(json))
    Nil
  }
}
