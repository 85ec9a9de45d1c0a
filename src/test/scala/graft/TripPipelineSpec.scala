package graft

import java.nio.file.Files
import graft.operators.{TripQueries, Upsert}
import graft.tools.TripPipelineDemo

/** Golden end-to-end tests of the reference-parity pipeline on the
  * synthetic trips fixture (FIXTURES.md §1: same shape as the
  * reference's trips.csv, tie-free region counts).
  */
class TripPipelineSpec extends SparkSpec {

  private lazy val env: (Pipeline, String) = {
    val dir = Files.createTempDirectory("graft-trips").toString
    val csv = s"$dir/trips.csv"
    Files.writeString(java.nio.file.Paths.get(csv), TripPipelineDemo.syntheticCsv(100))
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    pipe.runBatch(csv)
    (pipe, csv)
  }

  test("synthetic trips carry a distinct key per row index, so offsets overlap by exactly their shared rows") {
    // the key is Trip.tripKey: the five fields concatenated
    def keys(rows: Int, offset: Int): Set[String] =
      TripPipelineDemo.syntheticCsv(rows, offset).linesIterator.drop(1)
        .map(_.split(",").mkString).toSet
    val first = keys(20000, 0)
    assert(first.size === 20000)
    assert((first intersect keys(20000, 10000)).size === 10000)
  }

  test("batch load is idempotent: re-running the same file does not grow hist") {
    val (pipe, csv) = env
    val before = pipe.hist.count()
    assert(before === 100)
    pipe.runBatch(csv)
    assert(pipe.hist.count() === before)
    assert(Upsert.holdsUniqueness(pipe.hist, "trip_key"))

    // a dirty file (rows whose date_time does not parse land with a NULL
    // trip_date) delivered twice, then a file of malformed rows only, on
    // a warehouse of its own so the shared fixture keeps only dated
    // buckets: each keeps hist at one row per key and the incrementally
    // refreshed view, NULL bucket included, equal to a full recompute
    val dir = Files.createTempDirectory("graft-trips-dirty").toString
    val header = "region,origin_coord,destination_coord,datetime,datasource"
    def writeCsv(name: String, rows: Seq[String]): String = {
      val path = s"$dir/$name"
      Files.writeString(java.nio.file.Paths.get(path), (header +: rows).mkString("\n"))
      path
    }
    val dirty = writeCsv("dirty.csv",
      TripPipelineDemo.syntheticCsv(20, 200).linesIterator.drop(1).toSeq ++ Seq(
        "Avalon,POINT (7 45),POINT (7.3 44.8),not a date,app_one",
        "Brighton,POINT (7 45),POINT (7.3 44.8),2024-13-45 25:00:00,cheap_mobile"))
    val malformed = writeCsv("malformed.csv", Seq(
      "Caldera,POINT (7 45),POINT (7.3 44.8),yesterday,app_two",
      "Avalon,POINT (7 45),POINT (7.3 44.8),2024-02-30 10:00:00,app_three"))
    val dirtyPipe = new Pipeline(spark, s"$dir/warehouse")
    def viewRows(df: org.apache.spark.sql.DataFrame) =
      df.select("region", "week_of_month", "weekly_avg").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    Seq(csv -> 100, dirty -> 122, dirty -> 122, malformed -> 124).foreach {
      case (file, keys) =>
        dirtyPipe.runBatch(file)
        assert(dirtyPipe.hist.count() === keys, file)
        assert(Upsert.holdsUniqueness(dirtyPipe.hist, "trip_key"), file)
        assert(viewRows(dirtyPipe.summarized) ===
          viewRows(TripQueries.weeklyAvgTripsPerRegion(dirtyPipe.hist)), file)
    }
    assert(viewRows(dirtyPipe.summarized).exists(_._2 == null))
  }

  test("staging is truncated after each batch") {
    val (pipe, _) = env
    assert(pipe.catalog.read(pipe.StagingTable).count() === 0)
  }

  test("crash between hist append and view refresh: batch re-run converges") {
    // The write path's crash-recovery contract (VERDICT r10 #7): a batch
    // that dies AFTER the hist upsert commit but BEFORE the view refresh
    // leaves (a) its rows already in hist, (b) staging un-truncated, and
    // (c) the view stale. The operator's recovery story is cron-style
    // re-run of the SAME batch — the replay's anti-join sees every
    // already-committed key, appends nothing, and the refresh runs to
    // completion. Assert the re-run restores K1 uniqueness, grows
    // nothing, and leaves the view equal to a from-scratch recompute.
    val dir = Files.createTempDirectory("graft-trips-crash").toString
    val csv = s"$dir/trips.csv"
    Files.writeString(java.nio.file.Paths.get(csv), TripPipelineDemo.syntheticCsv(100))
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    // establish a healthy prior state with a first batch
    pipe.runBatch(csv)
    val histAfterB1 = pipe.hist.count()
    // second batch, 50% overlapping keys — run runBatch's own first two
    // steps and "crash" right after the hist append
    val csv2 = s"$dir/trips2.csv"
    Files.writeString(java.nio.file.Paths.get(csv2),
      TripPipelineDemo.syntheticCsv(100, 50))
    pipe.upsertHist(pipe.landStaging(csv2))
    // -- crash: no staging truncate, no view refresh --
    val histAfterCrash = pipe.hist.count()
    assert(histAfterCrash > histAfterB1, "crash scenario must commit new rows")
    assert(pipe.catalog.read(pipe.StagingTable).count() > 0,
      "crash scenario leaves staging populated")
    // recovery = re-run the same batch end to end
    pipe.runBatch(csv2)
    assert(pipe.hist.count() === histAfterCrash,
      "re-run must not duplicate the crashed batch's committed rows")
    assert(Upsert.holdsUniqueness(pipe.hist, "trip_key"))
    assert(pipe.catalog.read(pipe.StagingTable).count() === 0)
    val recovered = pipe.summarized.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    pipe.refreshSummarizedView()
    val full = pipe.summarized.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(recovered === full, "view after recovery must equal full recompute")
    assert(recovered.nonEmpty)
  }

  test("a batch on a warehouse with hist and view launches at most 3 jobs") {
    // staging write (its observed dates plan the prune and the refresh),
    // the 1-job anti-join append (dedup, anti-join and write in one task)
    // and the 1-job bucket refresh; tables are created and staging
    // truncated from the driver. Re-deriving the dates, inferring
    // staging's schema, broadcasting the hist keys or an exchange in the
    // dedup or the refresh would add jobs
    val dir = Files.createTempDirectory("graft-trips-jobs").toString
    val csv = s"$dir/trips.csv"
    val csv2 = s"$dir/trips2.csv"
    Files.writeString(java.nio.file.Paths.get(csv), TripPipelineDemo.syntheticCsv(100))
    Files.writeString(java.nio.file.Paths.get(csv2),
      TripPipelineDemo.syntheticCsv(100, 50))
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    val first = org.apache.spark.graft.JobCount(spark.sparkContext)(pipe.runBatch(csv))
    assert(first <= 3, s"runBatch on a fresh warehouse launched $first jobs")
    val jobs = org.apache.spark.graft.JobCount(spark.sparkContext)(pipe.runBatch(csv2))
    assert(jobs <= 3, s"runBatch launched $jobs jobs")
    assert(pipe.hist.count() === 150)
  }

  /** Trip CSVs of `(rows, offset)` under `dir`, for the per-session tests. */
  private def tripCsvs(dir: String, shapes: Seq[(Int, Int)]): Seq[String] =
    shapes.zipWithIndex.map { case ((n, off), i) =>
      val csv = s"$dir/trips$i.csv"
      Files.writeString(java.nio.file.Paths.get(csv), TripPipelineDemo.syntheticCsv(n, off))
      csv
    }

  /** A child session whose `spark.sql.files.openCostInBytes` is 1 KB, so
    * no scan or compaction of the fixtures fits one task. */
  private def kilobyteOpenCost: org.apache.spark.sql.SparkSession = {
    val small = spark.newSession()
    small.conf.set("spark.sql.files.openCostInBytes", "1024")
    small
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The shuffle and broadcast exchanges of `plans`, AQE stages included. */
  private def exchanges(plans: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    plans.flatMap(p => Plans.collect(p) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    })
  }

  test("batches on a session whose file-open cost is 1 KB keep their exchanges and results") {
    // staging and hist scans above spark.sql.files.openCostInBytes keep
    // the shuffled or broadcast plan; at or below it a batch runs with
    // neither, and the result must not depend on the branch
    val dir = Files.createTempDirectory("graft-trips-opencost").toString
    val csvs = tripCsvs(dir, Seq((100, 0), (100, 50)))
    def run(session: org.apache.spark.sql.SparkSession, wh: String) = {
      val pipe = new Pipeline(session, s"$dir/$wh")
      val plans = org.apache.spark.graft.ExecutedPlans(session)(csvs.foreach(pipe.runBatch))
      (pipe.hist.collect().map(_.toSeq).toSet,
        pipe.summarized.collect().map(_.toSeq).toSet, exchanges(plans))
    }
    val (hist, view, oneTask) = run(spark, "one-task")
    val (histX, viewX, exchanged) = run(kilobyteOpenCost, "exchange")
    assert(oneTask.isEmpty, oneTask.map(_.nodeName).mkString(", "))
    assert(exchanged.nonEmpty)
    assert(histX === hist)
    assert(viewX === view)
    assert(hist.size === 150)
    assert(view.nonEmpty)
  }

  test("compaction of a selection that fits one task runs one job; a 1 KB open cost shuffles") {
    // three overlapping batches leave three files in every trip_date
    // partition; both branches must end at one file per partition with
    // the same rows
    val dir = Files.createTempDirectory("graft-trips-compact1").toString
    val csvs = tripCsvs(dir, Seq((100, 0), (100, 50), (100, 120)))
    def filesPerPartition(pipe: Pipeline): Map[String, Int] =
      new java.io.File(pipe.catalog.path(pipe.HistTable)).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("trip_date="))
        .map(d => d.getName -> d.listFiles().count(f =>
          f.isFile && f.getName.endsWith(".parquet"))).toMap
    def compacted(session: org.apache.spark.sql.SparkSession, wh: String) = {
      val pipe = new Pipeline(session, s"$dir/$wh")
      csvs.foreach(pipe.runBatch)
      val before = pipe.hist.collect().map(_.toSeq).toSet
      assert(filesPerPartition(pipe).values.min > 1, wh)
      var jobs = 0
      val plans = org.apache.spark.graft.ExecutedPlans(session) {
        jobs = org.apache.spark.graft.JobCount(session.sparkContext) {
          assert(pipe.compactHist(maxFilesPerPartition = 1).nonEmpty, wh)
        }
      }
      val after = filesPerPartition(pipe)
      assert(after.size === 28, wh)
      assert(after.values.max === 1, s"$wh: $after")
      assert(pipe.hist.collect().map(_.toSeq).toSet === before, wh)
      (jobs, exchanges(plans), before)
    }
    val (jobs, oneTask, rows) = compacted(spark, "one-task")
    assert(jobs === 1)
    assert(oneTask.isEmpty, oneTask.map(_.nodeName).mkString(", "))
    val (_, shuffled, rowsX) = compacted(kilobyteOpenCost, "shuffle")
    assert(shuffled.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]))
    assert(rowsX === rows)
    assert(rows.size === 220)
  }

  test("batches and compaction on a warehouse with hist and view spawn no shell process") {
    // Hadoop's local filesystem without libhadoop forks chmod per created
    // file or dir and readlink per link-status probe; the engine's file:
    // filesystem does both in-process
    val dir = Files.createTempDirectory("graft-trips-spawns").toString
    val csvs = tripCsvs(dir, Seq((100, 0), (100, 50), (100, 120)))
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    pipe.runBatch(csvs.head)
    val spawned = ShellSpawns {
      pipe.runBatch(csvs(1))
      pipe.runBatch(csvs(2))
      pipe.compactHist(maxFilesPerPartition = 1)
    }
    assert(spawned.size === 0, s"shell spawns, first: ${spawned.take(3)}")
    assert(pipe.hist.count() === 220)
  }

  test("a header-only batch changes nothing and leaves staging empty") {
    // no rows: the staging write observes no dates and no NULL flag, so
    // the upsert appends nothing and the refresh touches no bucket; a
    // zero-byte file plans no task at all, so its write observes nothing
    val dir = Files.createTempDirectory("graft-trips-empty").toString
    def write(name: String, body: String): String = {
      val path = s"$dir/$name"
      Files.writeString(java.nio.file.Paths.get(path), body)
      path
    }
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    pipe.runBatch(write("trips.csv", TripPipelineDemo.syntheticCsv(100)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val hist = rows(pipe.hist)
    val view = rows(pipe.summarized)
    Seq(write("header.csv", TripPipelineDemo.syntheticCsv(0)),
        write("zero.csv", "")).foreach { empty =>
      assert(pipe.landStaging(empty).isEmpty, empty)
      pipe.runBatch(empty)
      assert(rows(pipe.hist) === hist, empty)
      assert(rows(pipe.summarized) === view, empty)
      assert(pipe.catalog.read(pipe.StagingTable).count() === 0, empty)
    }
  }

  test("incremental view refresh equals a full recompute across batches") {
    val dir = Files.createTempDirectory("graft-trips-incr").toString
    def writeCsv(name: String, rows: Int, dayBase: Int): String = {
      val csv = s"$dir/$name"
      // same synthetic generator, shifted into a different day range so
      // the second batch touches different (and some shared) buckets
      val body = TripPipelineDemo.syntheticCsv(rows).linesIterator.zipWithIndex.map {
        case (l, 0) => l
        case (l, i) => l.replaceFirst("2024-01-(\\d\\d)", f"2024-01-${(dayBase + i % 14) + 1}%02d")
      }.mkString("\n")
      Files.writeString(java.nio.file.Paths.get(csv), body)
      csv
    }
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    pipe.runBatch(writeCsv("b1.csv", 60, 0))   // days 01..14 (weeks 1-2)
    pipe.runBatch(writeCsv("b2.csv", 60, 14))  // days 15..28 (weeks 3-4)
    val incremental = pipe.summarized.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    pipe.refreshSummarizedView() // full recompute over all history
    val full = pipe.summarized.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(incremental === full)
    assert(incremental.nonEmpty)
  }

  test("compaction bounds per-partition files and preserves content") {
    import org.apache.spark.sql.{functions => F}
    val dir = Files.createTempDirectory("graft-trips-compact").toString
    val csv = s"$dir/trips.csv"
    Files.writeString(java.nio.file.Paths.get(csv), TripPipelineDemo.syntheticCsv(80))
    val pipe = new Pipeline(spark, s"$dir/warehouse")
    pipe.runBatch(csv)
    // accrete small files: three more appends into the same date
    // partitions with fresh keys (each spread over 4 tasks)
    (1 to 3).foreach { i =>
      val extra = pipe.hist
        .withColumn("trip_key", F.concat(F.col("trip_key"), F.lit(s"#$i")))
        .repartition(4)
      pipe.catalog.appendPartitioned(pipe.HistTable, extra, Seq("trip_date"))
    }
    val histDir = new java.io.File(pipe.catalog.path(pipe.HistTable))
    def filesPerPartition: Map[String, Int] = histDir.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("trip_date="))
      .map(d => d.getName -> d.listFiles().count(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.endsWith(".crc"))).toMap
    val before = pipe.hist.collect().map(_.toSeq).toSet
    assert(filesPerPartition.values.max > 2, filesPerPartition.toString)
    val compacted = pipe.compactHist(maxFilesPerPartition = 2)
    assert(compacted.nonEmpty)
    // every accreted partition collapsed to its byte-target file count
    // (tiny fixture -> 1), and nothing else changed
    val after = filesPerPartition
    assert(after.values.max <= 2, after.toString)
    assert(pipe.hist.collect().map(_.toSeq).toSet === before)
    assert(Upsert.holdsUniqueness(pipe.hist.filter(!F.col("trip_key").contains("#")), "trip_key"))
  }

  test("orc corpus interchange round-trips schema-first with bounded shards") {
    import spark.implicits._
    import graft.sources.CorpusIO
    val dir = Files.createTempDirectory("graft-orc").toString + "/out"
    val docs = (1L to 100L).map(i => (i, s"document body $i", s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    CorpusIO.writeOrc(docs, dir, shards = 3)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc"))
    assert(files.length === 3, files.map(_.getName).mkString(","))
    val back = CorpusIO.readOrc(spark, dir, docs.schema)
    // file reads are nullable regardless of the writer's schema; names
    // and types are the pinned contract
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      docs.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(_.toSeq).toSet === docs.collect().map(_.toSeq).toSet)
  }

  test("jsonl corpus export round-trips with bounded gzip shards") {
    import spark.implicits._
    import graft.sources.CorpusIO
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/out"
    val docs = (1L to 100L).map(i => (i, s"document body $i", s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    CorpusIO.writeJsonl(docs, dir, shards = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.length === 4, files.map(_.getName).mkString(","))
    val back = CorpusIO.readJsonl(spark, dir, docs.schema)
    assert(back.collect().map(_.toSeq).toSet === docs.collect().map(_.toSeq).toSet)
    // malformed third-party line: recorded as nulls, not a crash
    Files.writeString(java.nio.file.Paths.get(s"$dir/junk.json"), "{not json")
    val tolerant = CorpusIO.readJsonl(spark, dir, docs.schema)
    assert(tolerant.count() === 101)
    assert(tolerant.filter($"doc_id".isNull).count() === 1)
  }

  test("compaction skips partitions whose dir name cannot round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact-escape").toString
    val cat = new graft.sources.Catalog(spark, dir)
    // a partition value that hive-escapes in the dir name (colon) and
    // accretes several files — compaction must leave it untouched
    // rather than filter zero rows and swap away the live directory
    (1 to 3).foreach { i =>
      val df = Seq((i.toLong, "weird:value"), (i.toLong + 10, "plain"))
        .toDF("id", "part").repartition(2)
      cat.appendPartitioned("t", df, Seq("part"))
    }
    val before = cat.read("t").collect().map(_.toSeq).toSet
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType)))
    val compacted = cat.compactPartitioned("t", "part", schema,
      maxFilesPerPartition = 1)
    assert(compacted === Seq("plain"), compacted.toString)
    assert(cat.read("t").collect().map(_.toSeq).toSet === before)
  }

  test("compaction recovers a partition orphaned by a mid-swap crash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact-crash").toString
    val cat = new graft.sources.Catalog(spark, dir)
    (1 to 3).foreach { i =>
      val df = Seq((i.toLong, "a"), (i.toLong + 10, "b"))
        .toDF("id", "part").repartition(2)
      cat.appendPartitioned("t", df, Seq("part"))
    }
    val before = cat.read("t").collect().map(_.toSeq).toSet
    // simulate a crash between move-aside and move-in: the live dir of
    // part=a is gone and its only complete copy sits in staging
    val root = new java.io.File(cat.path("t"))
    val staging = new java.io.File(cat.path("t") + "__compacting")
    staging.mkdirs()
    assert(new java.io.File(root, "part=a")
      .renameTo(new java.io.File(staging, "part=a")))
    // an aside left mid-swap must be discarded, never restored as data
    new java.io.File(staging, "__old__part=b").mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType)))
    cat.compactPartitioned("t", "part", schema, maxFilesPerPartition = 1)
    assert(cat.read("t").collect().map(_.toSeq).toSet === before)
    assert(!staging.exists())
  }

  test("replaceTable swaps atomically and recovers every crash window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replace").toString
    val cat = new graft.sources.Catalog(spark, dir)
    cat.overwrite("t", Seq(1L, 2L, 3L).toDF("id"))
    // the replacement may READ the live table it replaces
    cat.replaceTable("t", cat.read("t").filter($"id" =!= 2L))
    assert(cat.read("t").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    val live = new java.io.File(cat.path("t"))
    val staging = new java.io.File(cat.path("t") + "__replacing")
    val aside = new java.io.File(cat.path("t") + "__replaced")
    // window 1: crash mid-stage (no _SUCCESS) — live wins, stage discarded
    staging.mkdirs()
    Files.writeString(staging.toPath.resolve("part-junk.parquet"), "junk")
    cat.recoverReplace("t")
    assert(cat.read("t").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    assert(!staging.exists())
    // window 2: crash between move-aside and swap-in — roll BACK to the
    // aside (the unambiguous heal: with holder-unique stages a fenced
    // foreign writer's stage could coexist with the crashed swapper's,
    // and guessing which to roll forward could publish a fenced
    // writer's data; the pre-op state always restores exactly, and the
    // never-committed op replays)
    Seq(7L, 8L).toDF("id").write.parquet(staging.toString)
    assert(live.renameTo(aside))
    cat.recoverReplace("t")
    assert(cat.read("t").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    assert(!staging.exists() && !aside.exists())
    // window 2b: FIRST-EVER replace (no aside exists) crashed before its
    // swap-in — roll FORWARD the complete stage so the table appears
    val cat2 = new graft.sources.Catalog(spark,
      Files.createTempDirectory("graft-replace-first").toString)
    val staging2 = new java.io.File(cat2.path("t") + "__replacing")
    Seq(9L).toDF("id").write.parquet(staging2.toString)
    cat2.recoverReplace("t")
    assert(cat2.read("t").collect().map(_.getLong(0)).toSet === Set(9L))
    assert(!staging2.exists())
    // window 3: live missing, stage incomplete — roll BACK to the aside
    assert(live.renameTo(aside))
    staging.mkdirs()
    Files.writeString(staging.toPath.resolve("part-junk.parquet"), "junk")
    cat.recoverReplace("t")
    assert(cat.read("t").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    assert(!staging.exists() && !aside.exists())
  }

  test("summarized view has YYYY-MM-0W buckets and positive averages") {
    val (pipe, _) = env
    val rows = pipe.summarized.collect()
    assert(rows.nonEmpty)
    val bucketRe = "\\d{4}-\\d{2}-0[1-5]".r
    rows.foreach { r =>
      assert(bucketRe.matches(r.getAs[String]("week_of_month")), r.toString)
      assert(r.getAs[Long]("weekly_avg") > 0)
    }
  }

  test("regions-with-datasource matches a hand computation") {
    val (pipe, _) = env
    val got = TripQueries.regionsWithDatasource(pipe.hist, "cheap_mobile")
      .collect().map(_.getString(0)).sorted.toSeq
    // cheap_mobile is every 4th row (i % 4 == 3); compute expected regions
    val expected = (0 until 100).filter(_ % 4 == 3).map { i =>
      Seq("Avalon", "Brighton", "Caldera")(i % (if (i % 7 == 0) 2 else 3))
    }.distinct.sorted
    assert(got === expected)
  }

  test("latest datasource query returns a single deterministic datasource") {
    val (pipe, _) = env
    val got = TripQueries.latestDatasourceOfTopRegions(pipe.hist).collect()
    assert(got.length >= 1)
    assert(got.map(_.getString(0)).distinct.length === got.length)
  }

  test("hist is date-partitioned and the pruned upsert hits partition filters") {
    val (pipe, _) = env
    // hive-style partition dirs exist
    val histDir = new java.io.File(pipe.catalog.path(pipe.HistTable))
    assert(histDir.listFiles().exists(_.getName.startsWith("trip_date=")))
    // a date-bounded read plans PartitionFilters, not a full scan
    import org.apache.spark.sql.{functions => F}
    val bounded = pipe.hist.filter(F.col("trip_date") === "2024-03-05")
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("trip_date"), plan.take(600))
  }

  test("weekly avg equals direct recomputation from hist") {
    val (pipe, _) = env
    import org.apache.spark.sql.{functions => F}
    val recomputed = TripQueries.weeklyAvgTripsPerRegion(pipe.hist)
    val viaCount = pipe.hist
      .groupBy(F.col("region"),
        TripQueries.weekBucket(F.col("date_time").cast("date")).as("week_of_month"))
      .agg(F.count(F.lit(1)).as("c"))
    // reference semantics: avg over identical group key == the count itself
    val joined = recomputed.join(viaCount, Seq("region", "week_of_month"))
    assert(joined.filter(F.col("weekly_avg") =!= F.col("c")).count() === 0)
  }

  test("csv source tolerates ragged rows: short rows null-pad, long rows truncate") {
    import org.apache.spark.sql.{functions => F}
    val dir = Files.createTempDirectory("graft-ragged").toString
    val csv = s"$dir/ragged.csv"
    // header + 1 good row + 1 short row (missing trailing cols) + 1 long row
    Files.writeString(java.nio.file.Paths.get(csv),
      """region,origin_coord,destination_coord,datetime,datasource
        |Avalon,POINT (1 2),POINT (3 4),2024-03-01 10:00:00,web
        |Brighton,POINT (5 6)
        |Caldera,POINT (7 8),POINT (9 0),2024-03-02 11:00:00,app,EXTRA
        |""".stripMargin)
    val df = graft.sources.TripCsvSource.read(spark, csv)
    val rows = df.collect()
    assert(rows.length === 3, "no row is silently dropped in permissive mode")
    val short = rows.find(_.getString(0) == "Brighton").get
    assert(short.isNullAt(2) && short.isNullAt(3) && short.isNullAt(4),
      "missing trailing fields land as NULL, not as a rejected row")
    val long = rows.find(_.getString(0) == "Caldera").get
    assert(long.getString(4) === "app", "extra field is dropped, bound stays positional")
    assert(df.columns.length === 5)
    // quarantine note: with an all-string schema nothing ever fails to
    // PARSE, so DROPMALFORMED does not fire on ragged rows — a pipeline
    // wanting to reject them filters on the null-padded tail instead:
    assert(df.filter(F.col("date_time").isNull).count() === 1,
      "the null tail is the quarantine signal for ragged rows")
  }

  test("corpus store tolerates additive schema evolution via mergeSchema") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    // a later snapshot adds a quality column — additive, no rewrite
    Seq((2L, "gamma", 0.9)).toDF("doc_id", "text", "quality")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "quality", "text"))
    assert(merged.count() === 3)
    assert(merged.filter(F.col("quality").isNull).count() === 2,
      "pre-evolution rows read as NULL quality, not as a schema error")
    assert(merged.filter(F.col("doc_id") === 2L).select("quality")
      .collect().head.getDouble(0) === 0.9)
  }

  test("maintenance lease: exclusion, re-entrancy, release, expiry break") {
    val dir = Files.createTempDirectory("graft-lease").toString
    val catA = new graft.sources.Catalog(spark, dir)
    val catB = new graft.sources.Catalog(spark, dir) // distinct holder id
    val leaseFile = new java.io.File(catA.path("idx_ops") + "__lease")
    // acquire runs the body, releases after — including under a throw
    var ran = 0
    catA.withMaintenanceLease("idx_ops") { ran += 1; assert(leaseFile.exists()) }
    assert(ran === 1 && !leaseFile.exists())
    intercept[RuntimeException] {
      catA.withMaintenanceLease("idx_ops") { throw new RuntimeException("boom") }
    }
    assert(!leaseFile.exists(), "lease released on body failure")
    // a second maintainer is refused LOUDLY while the window is live
    catA.withMaintenanceLease("idx_ops") {
      intercept[graft.sources.Catalog.MaintenanceLeaseHeld] {
        catB.withMaintenanceLease("idx_ops") { fail("must not enter") }
      }
      // scopes are independent: a different family's window proceeds
      catB.withMaintenanceLease("other_ops") { ran += 1 }
      // the SAME maintainer re-enters (nested family helpers)
      catA.withMaintenanceLease("idx_ops") { ran += 1 }
      assert(leaseFile.exists(), "inner exit must not drop the outer lease")
    }
    assert(ran === 3 && !leaseFile.exists())
    // a CRASHED holder's lease (expired timestamp) is broken, not honored
    Files.writeString(leaseFile.toPath, "dead-holder 12345")
    catB.withMaintenanceLease("idx_ops") { ran += 1 }
    assert(ran === 4 && !leaseFile.exists())
    // an unexpired foreign lease stays authoritative
    Files.writeString(leaseFile.toPath,
      s"live-holder ${System.currentTimeMillis() + 600000L}")
    intercept[graft.sources.Catalog.MaintenanceLeaseHeld] {
      catB.withMaintenanceLease("idx_ops") { fail("must not enter") }
    }
    assert(leaseFile.delete())
  }

  test("family compaction takes the family lease and refuses a foreign holder") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lease-compact").toString
    val cat = new graft.sources.Catalog(spark, dir)
    val foreign = new graft.sources.Catalog(spark, dir)
    // minimal empty family: compaction must still enter its lease window
    cat.ensurePartitionedTable("corpus")
    cat.ensurePartitionedTable("buckets")
    foreign.withMaintenanceLease("corpus_ops") {
      intercept[graft.sources.Catalog.MaintenanceLeaseHeld] {
        graft.streaming.Streams.compactDocDedup(cat, "corpus", "buckets", "corpus_tomb")
      }
    }
    // window over: the same call goes through
    graft.streaming.Streams.compactDocDedup(cat, "corpus", "buckets", "corpus_tomb")
  }

  test("O2 no-polling status reflects a running batch, then an idle engine") {
    // The reference's "no polling the DB to see ingestion progress"
    // (README.md:185-189) maps to sparkContext.statusTracker surfaced
    // as Pipeline.status. Assert it actually tracks execution: a
    // running job reads activeJobs >= 1 from another thread, and a
    // finished one reads 0 — the programmatic equivalent of watching
    // the Spark UI, no table polling anywhere.
    val (pipe, _) = env
    def activeJobs(): Int =
      """activeJobs=(\d+)""".r.findFirstMatchIn(pipe.status()).get.group(1).toInt
    assert(activeJobs() === 0, "engine should be idle before the job")
    import spark.implicits._
    val sawRunning = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watcher = new Thread(() => {
      val deadline = System.currentTimeMillis() + 30000
      while (!sawRunning.get() && System.currentTimeMillis() < deadline) {
        if (activeJobs() >= 1) sawRunning.set(true)
        Thread.sleep(10)
      }
    })
    watcher.start()
    // a deliberately slow job (test fixture only): each partition naps
    // long enough for the watcher to observe the tracker mid-flight
    spark.range(0, 4, 1, 4).mapPartitions { it =>
      Thread.sleep(800); it
    }.count()
    watcher.join(35000)
    assert(sawRunning.get(), "status never reported the running job")
    // the status store learns of the job's end from the listener bus,
    // asynchronously: drain it so the idle read sees that event
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    assert(activeJobs() === 0, "status must return to idle after the job")
  }
}
