package graft

import java.nio.file.Files
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.{functions => F}

  test("file-drop trip stream upserts each micro-batch with dedup") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("hist_trip_data", graft.model.Trip.schema)

    def writeBatch(file: String, rows: Seq[String]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$drop/$file"),
        ("region,origin_coord,destination_coord,datetime,datasource" +: rows).mkString("\n"))

    writeBatch("b1.csv", Seq(
      "A,POINT (1 2),POINT (3 4),2024-01-01 10:00:00,src1",
      "B,POINT (1 2),POINT (3 4),2024-01-01 11:00:00,src1"))
    val stream = Streams.tripFileStream(spark, drop)
    val q = Streams.streamingUpsert(stream, catalog, "hist_trip_data", cp).start()
    q.processAllAvailable()
    assert(catalog.read("hist_trip_data").count() === 2)

    // drop a second file containing one duplicate and one new row
    writeBatch("b2.csv", Seq(
      "A,POINT (1 2),POINT (3 4),2024-01-01 10:00:00,src1", // dup of b1 row
      "C,POINT (5 6),POINT (7 8),2024-01-01 12:00:00,src2"))
    q.processAllAvailable()
    q.stop()
    val hist = catalog.read("hist_trip_data")
    assert(hist.count() === 3)
    assert(graft.operators.Upsert.holdsUniqueness(hist, "trip_key"))
  }

  test("a streaming upsert trigger spawns no shell process for its checkpoint") {
    // offset/commit logs and source metadata go through FileContext, whose
    // stock local class forks readlink per rename and chmod per file
    val dir = Files.createTempDirectory("graft-stream-spawns").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("hist_trip_data", graft.model.Trip.schema)
    Files.writeString(java.nio.file.Paths.get(s"$drop/b1.csv"),
      "region,origin_coord,destination_coord,datetime,datasource\n" +
        "A,POINT (1 2),POINT (3 4),2024-01-01 10:00:00,src1\n")
    val spawned = ShellSpawns {
      val q = Streams.streamingUpsert(
        Streams.tripFileStream(spark, drop), catalog, "hist_trip_data", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(spawned.size === 0, s"shell spawns, first: ${spawned.take(3)}")
    assert(catalog.read("hist_trip_data").count() === 1)
  }

  test("streaming upsert recovers from its checkpoint without duplicates") {
    // the failure a real user hits first: the query dies, restarts from
    // the checkpoint, and overlapping/re-delivered input must not break
    // the hist uniqueness invariant (the reference's cron semantics,
    // continuously)
    val dir = Files.createTempDirectory("graft-stream-recover").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("hist_trip_data", graft.model.Trip.schema)
    def writeBatch(file: String, rows: Seq[String]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$drop/$file"),
        ("region,origin_coord,destination_coord,datetime,datasource" +: rows).mkString("\n"))
    def startQuery() = Streams.streamingUpsert(
      Streams.tripFileStream(spark, drop), catalog, "hist_trip_data", cp).start()

    writeBatch("b1.csv", Seq(
      "A,POINT (1 2),POINT (3 4),2024-01-01 10:00:00,src1",
      "B,POINT (1 2),POINT (3 4),2024-01-01 11:00:00,src1"))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(catalog.read("hist_trip_data").count() === 2)

    // kill + restart from the SAME checkpoint; deliver a file overlapping
    // the pre-crash input
    writeBatch("b2.csv", Seq(
      "A,POINT (1 2),POINT (3 4),2024-01-01 10:00:00,src1", // dup of b1
      "C,POINT (5 6),POINT (7 8),2024-01-01 12:00:00,src2"))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    assert(catalog.read("hist_trip_data").count() === 3)
    assert(graft.operators.Upsert.holdsUniqueness(
      catalog.read("hist_trip_data"), "trip_key"))

    // a third restart with an all-duplicates file: checkpointed source
    // state skips already-seen files, and the upsert absorbs re-delivery
    writeBatch("b3.csv", Seq(
      "A,POINT (1 2),POINT (3 4),2024-01-01 10:00:00,src1",
      "C,POINT (5 6),POINT (7 8),2024-01-01 12:00:00,src2"))
    val q3 = startQuery()
    q3.processAllAvailable(); q3.stop()
    val hist = catalog.read("hist_trip_data")
    assert(hist.count() === 3)
    assert(graft.operators.Upsert.holdsUniqueness(hist, "trip_key"))
  }

  test("watermarked windowed aggregation over a rate-free memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedEventCounts(df, window = "10 minutes", lateness = "5 minutes")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("win_agg")
      .start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((ts(1), "click", 1.50), (ts(2), "click", 2.25), (ts(11), "view", 3.00))
    q.processAllAvailable()
    val rows = spark.table("win_agg").collect()
    q.stop()
    val clicks = rows.find(_.getString(1) == "click").get
    assert(clicks.getLong(2) === 2L)
    assert(clicks.getDecimal(3).doubleValue() === 3.75)
  }

  test("sliding windows assign each event to window/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.slidingEventCounts(df, window = "10 minutes", slide = "5 minutes")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("slide_agg")
      .start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((ts(7), "click", 1.00))
    q.processAllAvailable()
    val rows = spark.table("slide_agg").collect()
    q.stop()
    // one event at 10:07 belongs to exactly the [10:00,10:10) and
    // [10:05,10:15) windows
    val starts = rows.map(_.getTimestamp(0).toString).sorted.toSeq
    assert(starts === Seq("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
    assert(rows.forall(_.getLong(2) == 1L))
  }

  test("streaming ANN serving answers each micro-batch from the persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    graft.operators.Similarity.lshBucketTable(corpus, bits = 2, dims = 16)
      .write.mode("overwrite").parquet(s"$dir/index")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var reads = 0
    val q = graft.streaming.Streams.streamingAnnServe(
        input.toDF().toDF("vec_id", "embedding"),
        () => { reads += 1; spark.read.parquet(s"$dir/index") },
        checkpoint = s"$dir/ckpt", k = 3, bits = 2, dims = 16) { out =>
      served ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    }.start()
    val queries = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    input.addData(queries(0), queries(1))
    q.processAllAvailable()
    val afterBatch1 = served.size
    input.addData(queries(2))
    q.processAllAvailable()
    q.stop()
    assert(afterBatch1 > 0 && served.size > afterBatch1, "both batches served")
    assert(reads === 1, "static-version index read once, cached across batches")
    // stream results equal the batch path on the same index
    val batchExpected = graft.operators.Similarity.lshTopKFromIndex(
        spark.read.parquet(s"$dir/index"),
        corpus.filter($"vec_id" < 3), k = 3, bits = 2, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(served.toSet === batchExpected)
  }

  test("streaming ANN serving swaps to a refreshed index when the version bumps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    def mkCorpus(ids: Range) = ids.map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val c1 = mkCorpus(0 until 10)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-swap").toString
    graft.operators.Similarity.lshBucketTable(c1, bits = 2, dims = 16)
      .write.mode("overwrite").parquet(s"$dir/index")
    var version = 1L
    var reads = 0
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val servedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.Streams.streamingAnnServe(
        input.toDF().toDF("vec_id", "embedding"),
        () => { reads += 1; spark.read.parquet(s"$dir/index") },
        checkpoint = s"$dir/ckpt", k = 3, bits = 2, dims = 16,
        indexVersion = () => version) { out =>
      servedIds ++= out.collect().map(_.getLong(1))
    }.start()
    val probe = c1.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).head
    input.addData(probe)
    q.processAllAvailable()
    assert(reads === 1)
    assert(servedIds.forall(_ < 10), "v1 index serves only v1 ids")
    // publish a refreshed index (disjoint ids), bump the version
    graft.operators.Similarity.lshBucketTable(mkCorpus(100 until 110), bits = 2, dims = 16)
      .write.mode("overwrite").parquet(s"$dir/index")
    version = 2L
    servedIds.clear()
    input.addData(probe)
    q.processAllAvailable()
    q.stop()
    assert(reads === 2, "version bump triggers exactly one re-read")
    assert(servedIds.nonEmpty && servedIds.forall(_ >= 100), "batch after bump serves the refreshed index")
  }

  test("streaming IVF-PQ index appends codes from the frozen model, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    def mk(ids: Range) = ids.map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val seedCorpus = mk(0 until 30).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-stream").toString
    val catalog = new graft.sources.Catalog(spark, s"$dir/wh")
    val (model, seedCodes) = graft.operators.Similarity
      .ivfPqIndex(seedCorpus, nlist = 8, m = 4, ksub = 8)
    catalog.ensureTable("codes", seedCodes.schema)
    catalog.append("codes", seedCodes)
    val b1 = mk(100 until 110); val b2 = mk(110 until 120)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streams.streamingIvfPqIndex(
        input.toDF().toDF("vec_id", "embedding"), model, catalog, "codes",
        checkpoint = s"$dir/ckpt", nlist = 8, m = 4, ksub = 8).start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b1: _*); q.processAllAvailable() // replay: must not duplicate
    val dup = mk(120 until 121)
    input.addData(dup ++ dup: _*) // same id twice WITHIN one trigger
    q.processAllAvailable()
    q.stop()
    val got = catalog.read("codes")
    assert(got.count() === 51L, "30 seed + 21 streamed; replay AND in-batch dup deduped")
    // incremental codes equal a batch rebuild against the same frozen pool
    val pool = graft.operators.Similarity.collectPool(model)
    val all = seedCorpus.unionByName((b1 ++ b2 ++ dup).toDF("vec_id", "embedding"))
    val expected = graft.operators.Similarity
      .ivfPqCodeTable(all, pool, 8, 4, 8, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    assert(got.collect().map(_.toSeq).toSet === expected)
  }

  test("streaming EWMA equals the batch fold when batches respect event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.Streams.EwmaEvent]
    val out = graft.streaming.Streams.streamingEwma(input.toDS())
    val q = out.toDF().toDF("user_id", "n_events", "ewma_cents").writeStream
      .outputMode("update").format("memory").queryName("ewma_stream").start()
    // batch 1: user 1 sees 40 then 20; batch 2: 100 arrives later
    input.addData(
      graft.streaming.Streams.EwmaEvent(1L, ts(1), 7L, 40L),
      graft.streaming.Streams.EwmaEvent(1L, ts(2), 8L, 20L))
    q.processAllAvailable()
    input.addData(graft.streaming.Streams.EwmaEvent(1L, ts(3), 9L, 100L))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("ewma_stream").orderBy($"n_events".desc).collect().head
    // batch twin: s=40; (20+40)>>1=30; (100+30)>>1=65
    assert(last.getLong(0) === 1L && last.getLong(1) === 3L && last.getLong(2) === 65L)
  }

  test("keyed-fold state scales with KEYS, not events") {
    // the 100 TB state contract, asserted (SCALE.md measures it at
    // sf1/sf10): mapGroupsWithState holds ONE row per distinct key, so
    // pushing 50x more events over the same key set must leave state
    // rows unchanged — a regression to per-event state (collect_list
    // buffering, unexpired timers) fails here, not at the next scale-up
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1704100000000L + s * 1000L)
    def run(keys: Int, eventsPerKey: Int, name: String): Long = {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.Streams.EwmaEvent]
      val q = graft.streaming.Streams.streamingEwma(input.toDS())
        .toDF("user_id", "n_events", "ewma_cents").writeStream
        .outputMode("update").format("memory").queryName(name).start()
      (0 until eventsPerKey).foreach { b =>
        input.addData((0 until keys).map(k =>
          graft.streaming.Streams.EwmaEvent(k.toLong, ts(b), (b * keys + k).toLong, 10L)): _*)
        if (b % 10 == 0) q.processAllAvailable()
      }
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      stateRows
    }
    val fewEvents = run(keys = 100, eventsPerKey = 2, "state_few")
    val manyEvents = run(keys = 100, eventsPerKey = 100, "state_many")
    assert(fewEvents === 100L, s"state must be one row per key, got $fewEvents")
    assert(manyEvents === 100L,
      s"50x events over the same keys must not grow state, got $manyEvents")
  }

  test("streaming OLS sketch: state is one row per group regardless of doc volume") {
    // the fit's streaming form is safe-forever for the same reason as
    // the health panel: its update-mode aggregate holds |groups| rows
    // of 9 sums — pushing 50x more docs over the same sources must not
    // grow state, and the accreted sums must equal the batch sketch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(docsPerSource: Int, name: String): (Long, Map[String, Seq[BigInt]]) = {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
      val feats = graft.operators.Regression.features(
        input.toDS().toDF("source", "text"), "source",
        x1 = F.length(F.col("text")), x2 = F.lit(1L), y = F.length(F.col("text")) * 2)
      val acc = scala.collection.mutable.Map.empty[String, Seq[BigInt]]
      val q = graft.operators.Regression.sketchAgg(feats)
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      (0 until docsPerSource).foreach { b =>
        input.addData((0 until 5).map(k => (s"s$k", "x" * (b % 7 + 1))): _*)
        if (b % 10 == 0) q.processAllAvailable()
      }
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      spark.table(name).orderBy($"g").collect().foreach(r =>
        acc(r.getString(0)) = (1 to 9).map(i => BigInt(r.getLong(i))))
      q.stop()
      (stateRows, acc.toMap)
    }
    val (few, _) = run(2, "ols_few")
    val (many, sums) = run(100, "ols_many")
    assert(few === 5L && many === 5L,
      s"state must be one row per source, got $few/$many")
    // accreted sums == batch sketch over the identical rows
    val batch = (0 until 100).flatMap(b => (0 until 5).map(k =>
      (s"s$k", ("x" * (b % 7 + 1)).length.toLong)))
    val expect = batch.groupBy(_._1).map { case (g, rs) =>
      g -> graft.operators.Regression.sketch(rs.map(r => (r._2, 1L, r._2 * 2)))
    }
    assert(sums === expect)
  }

  test("sessionize closes sessions after the event-time gap and expires state") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.SessionEvent]
    val out = Streams.sessionize(input.toDS(),
      gapMs = 10 * 60 * 1000L, watermarkDelay = "1 minute")
    val q = out.writeStream.outputMode("append").format("memory").queryName("sessions").start()
    def ev(u: Long, t: String) = Streams.SessionEvent(u, java.sql.Timestamp.valueOf(t))
    input.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:05:00"),
      ev(2, "2024-01-01 10:01:00"))
    q.processAllAvailable()
    // sessions still open: watermark has not passed last-event + gap
    assert(spark.table("sessions").isEmpty)
    // push the watermark far past both timeouts, then trigger one more
    // batch so the (now expired) timers fire
    input.addData(ev(3, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    input.addData(ev(3, "2024-01-01 12:30:00"))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows.contains((1L, 2L, 5 * 60 * 1000000L)), rows.toString)
    assert(rows.contains((2L, 1L, 0L)), rows.toString)
    // user 3's first session split on the in-batch 30-min gap too
    assert(rows.contains((3L, 1L, 0L)), rows.toString)
  }

  test("session_window aggregation finalizes sessions once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val agg = Streams.sessionWindowAgg(df, gap = "10 minutes", lateness = "1 minute")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("sess_win").start()
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:05:00"), 1L),
      (ts("2024-01-01 10:01:00"), 2L))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 12:00:00"), 3L)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("sess_win").collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(rows.contains((1L, 2L)), rows.toString) // user 1: one session, two events
    assert(rows.contains((2L, 1L)), rows.toString)
  }

  test("stream-stream interval join attributes purchases to in-horizon views") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Long)]
    val pIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Long)]
    val views = vIn.toDF().toDF("ts", "user_id", "event_id")
    val purchases = pIn.toDF().toDF("ts", "user_id", "event_id")
    val joined = Streams.attributedPurchases(purchases, views, horizon = "1 hour", lateness = "5 minutes")
    val q = joined.writeStream.outputMode("append").format("memory").queryName("attrib").start()
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    vIn.addData((ts("2024-01-01 10:00:00"), 1L, 100L), // in-horizon view
      (ts("2024-01-01 08:00:00"), 2L, 101L))           // stale view (> 1h before)
    pIn.addData((ts("2024-01-01 10:30:00"), 1L, 200L),
      (ts("2024-01-01 10:30:00"), 2L, 201L))
    q.processAllAvailable()
    val rows = spark.table("attrib").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows === Set((200L, 100L)), rows.toString)
  }

  test("streaming incremental dedup: bucket-table probe catches cross-batch dups") {
    val dir = Files.createTempDirectory("graft-docstream").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("corpus",
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    catalog.ensureTable("corpus_buckets",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, band INT, bk BIGINT"))
    def drop1(file: String, rows: (Long, String)*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$drop/$file"),
        rows.map { case (id, t) =>
          s"""{"doc_id":$id,"text":"$t"}"""
        }.mkString("\n"))
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely different content about distributed spark engines"
    val t3 = "a third body of text with nothing shared across documents"
    val t4 = "fresh material arriving in the second micro batch entirely new"
    val t5 = "twin texts landing together inside one single micro batch"
    val q = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", cp).start()
    try {
      drop1("b1.jsonl", 1L -> t1, 2L -> t2, 3L -> t3)
      q.processAllAvailable()
      assert(catalog.read("corpus").count() === 3)
      // batch 2: a normalized dup of doc 1 (case/whitespace), a fresh
      // doc, an intra-batch twin pair, and a re-dropped id
      drop1("b2.jsonl",
        10L -> t1.toUpperCase.replace(" ", "  "),
        11L -> t4, 12L -> t5, 13L -> t5, 3L -> t3)
      q.processAllAvailable()
      // batch 3: duplicates a doc ADMITTED IN BATCH 2 — only the
      // persisted bucket table can catch it
      drop1("b3.jsonl", 20L -> t5)
      q.processAllAvailable()
    } finally q.stop()
    val corpusIds = catalog.read("corpus").collect()
      .map(_.getLong(0)).toSet
    assert(corpusIds === Set(1L, 2L, 3L, 11L, 12L),
      s"admitted $corpusIds")
    assert(graft.operators.Upsert.holdsUniqueness(catalog.read("corpus"), "doc_id"))
    // the bucket index stays exactly in sync with the corpus: one row
    // per (admitted doc, band), no rows for rejected docs — so later
    // batches probe buckets instead of re-shingling the corpus
    val buckets = catalog.read("corpus_buckets")
    assert(buckets.count() === 5L * 4L)
    assert(buckets.select("id").collect().map(_.getLong(0)).toSet === corpusIds)
    // append-only mode has no generation stamps to scrub, so its replay
    // soundness rests on every append job being ALL-OR-NOTHING — pinned
    // here as the single-file commit shape (one data file per
    // micro-batch append, atomic under the v1 committer)
    def dataFiles(table: String): Int =
      new java.io.File(catalog.path(table))
        .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles("corpus") <= 3 && dataFiles("corpus_buckets") <= 3,
      "append-only dedup appends must commit as one file per batch")
  }

  test("streaming doc dedup recovers from its checkpoint: corpus and index stay in sync") {
    val dir = Files.createTempDirectory("graft-docstream-recover").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("corpus",
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    catalog.ensureTable("corpus_buckets",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, band INT, bk BIGINT"))
    def drop1(file: String, rows: (Long, String)*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$drop/$file"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    def start() = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", cp).start()
    val t1 = "first corpus document about streaming recovery semantics today"
    val t2 = "second unrelated body of text with fresh vocabulary inside"
    drop1("b1.jsonl", 1L -> t1, 2L -> t2)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(catalog.read("corpus").count() === 2)
    // restart from the SAME checkpoint: a near-dup of a PRE-crash doc
    // must still be caught (the persisted bucket table, not stream
    // state, is the dedup memory), and a re-dropped id must be skipped
    drop1("b2.jsonl",
      10L -> t1.toUpperCase, // normalized dup of doc 1, post-restart
      11L -> "entirely new admitted content body for this batch",
      2L -> t2) // re-delivered id
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val ids = catalog.read("corpus").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 11L), s"admitted $ids")
    assert(graft.operators.Upsert.holdsUniqueness(catalog.read("corpus"), "doc_id"))
    // index exactly mirrors the corpus across the restart boundary
    val buckets = catalog.read("corpus_buckets")
    assert(buckets.select("id").collect().map(_.getLong(0)).toSet === ids)
    assert(buckets.count() === ids.size * 4L)
  }

  test("attrib join state plateaus at a fixed watermark while volume grows") {
    // the (rate x delay)-bounded-state claim, MEASURED (previously only
    // argued): with event rate, horizon, lateness, and micro-batch size
    // all fixed, tripling the stream's volume (= duration) must grow
    // the OUTPUT ~linearly while max join state stays flat — eviction
    // at the watermark is what makes a 100 TB/day stream survivable
    val small = graft.tools.AttribPlateau.measure(spark, 30000,
      rate = 100, tileRows = 10000, users = 97,
      horizon = "60 seconds", lateness = "10 seconds")
    val big = graft.tools.AttribPlateau.measure(spark, 90000,
      rate = 100, tileRows = 10000, users = 97,
      horizon = "60 seconds", lateness = "10 seconds")
    assert(big.outRows > 2L * small.outRows,
      s"throughput must rise with volume: ${small.outRows} -> ${big.outRows}")
    assert(big.maxStateRows <= (small.maxStateRows * 1.3).toLong,
      s"state must plateau: ${small.maxStateRows} -> ${big.maxStateRows}")
  }

  test("streaming dedup killed between index and corpus append: replay converges") {
    // the crash window the index-first protocol argues about
    // (Streams.scala crash-window note): buckets are written FIRST, so
    // dying before the corpus append leaves the index LEADING the
    // corpus. This was asserted only by design until now — here the
    // crash actually happens (injected append failure), and replay must
    // converge with no lost docs, no duplicate docs, and no duplicate
    // index rows.
    val dir = Files.createTempDirectory("graft-docstream-kill").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("corpus",
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    catalog.ensureTable("corpus_buckets",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, band INT, bk BIGINT"))
    val crashing = new graft.sources.Catalog(spark, wh) {
      override def append(table: String, df: org.apache.spark.sql.DataFrame): Unit = {
        if (table == "corpus")
          throw new RuntimeException("injected kill between index and corpus append")
        super.append(table, df)
      }
    }
    def drop1(file: String, rows: (Long, String)*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$drop/$file"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    val t1 = "first corpus document body written before the injected crash"
    val t2 = "second unrelated text that must also survive the replay path"
    val t3 = "twin texts landing together inside the crashing micro batch"
    drop1("b1.jsonl", 1L -> t1, 2L -> t2, 3L -> t3, 4L -> t3) // intra-batch twins
    val q1 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      crashing, "corpus", "corpus_buckets", cp).start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    assert(died.getMessage.contains("injected kill"), died.getMessage)
    // mid-window state: index leads (admitted docs bucketed), corpus
    // has nothing, the batch is NOT committed in the checkpoint
    assert(catalog.read("corpus").count() === 0L, "corpus must trail the crash")
    assert(catalog.read("corpus_buckets").count() === 3L * 4L,
      "index must lead: 3 admitted docs x 4 bands")
    // replay with a healthy catalog from the SAME checkpoint: the batch
    // re-admits (corpus is the admission authority), stale bucket rows
    // produce only filtered self-pairs, and the bucket re-append
    // anti-joins already-bucketed ids
    val q2 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", cp).start()
    q2.processAllAvailable()
    // cross-batch probe still works after the recovery: a dup of a
    // pre-crash doc must be caught by the recovered index
    drop1("b2.jsonl", 10L -> t1.toUpperCase, 11L -> "genuinely fresh post recovery content")
    q2.processAllAvailable()
    q2.stop()
    val ids = catalog.read("corpus").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 3L, 11L), s"admitted $ids")
    assert(graft.operators.Upsert.holdsUniqueness(catalog.read("corpus"), "doc_id"))
    val buckets = catalog.read("corpus_buckets")
    assert(buckets.select("id").collect().map(_.getLong(0)).toSet === ids,
      "index must exactly mirror the corpus after replay")
    assert(buckets.count() === ids.size * 4L, "no duplicate index rows")
  }

  test("streaming dedup hygiene: contaminated docs rejected across batches, PII redacted") {
    val dir = Files.createTempDirectory("graft-docstream-hyg").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"; val cp = s"$dir/cp"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    catalog.ensureTable("corpus",
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    catalog.ensureTable("corpus_buckets",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, band INT, bk BIGINT"))
    def drop1(file: String, rows: (Long, String)*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$drop/$file"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    val bench = Seq((900L, "secret eval question about ancient rome empire"))
      .toDF("doc_id", "text")
    val clean1 = "regular training document with plenty of ordinary words inside"
    val dirty1 = "prefix words secret eval question about ancient rome empire suffix"
    val clean2 = "another independent body of text for the second micro batch"
    val dirty2 = "different framing yet question about ancient rome empire still leaks"
    val pii = "contact me at alice@example.com for the full 1234567 report today"
    val q = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", cp,
      benchmark = Some(bench), redactPii = true).start()
    try {
      drop1("b1.jsonl", 1L -> clean1, 2L -> dirty1)
      q.processAllAvailable()
      // the benchmark gram cache must stay live in later micro-batches
      drop1("b2.jsonl", 3L -> clean2, 4L -> dirty2, 5L -> pii)
      q.processAllAvailable()
    } finally q.stop()
    val corpus = catalog.read("corpus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corpus.keySet === Set(1L, 3L, 5L), s"admitted ${corpus.keySet}")
    // streaming admission == the batch operator's verdicts on the same docs
    val all = Seq(1L -> clean1, 2L -> dirty1, 3L -> clean2, 4L -> dirty2,
      5L -> pii).toDF("doc_id", "text")
    val batchKept = graft.operators.Hygiene.decontaminate(all, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpus.keySet === batchKept)
    // admitted PII text lands redacted — and the bucket index was built
    // from the SAME redacted text (future dups of the redacted form hit)
    assert(corpus(5L) === "contact me at <EMAIL> for the full <NUM> report today")
    assert(catalog.read("corpus_buckets").select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L, 5L))
  }

  test("streaming dedup drops in-horizon duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val dd = Streams.dedupStream(df, Seq("user_id"), lateness = "1 hour")
    val q = dd.writeStream.outputMode("append").format("memory").queryName("dedup").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    input.addData((t, 1L), (t, 1L), (t, 2L))
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n === 2)
  }

  test("incremental inverted index: appended postings serve BM25 equal to a rebuild, term-pruned") {
    // the q_bm25_stream contract, pinned at unit scale: three
    // independent appends (the micro-batch shape), then a serve that
    // touches only the index must reproduce the batch scorer
    // bit-for-bit — and its postings scan must be term-pruned at the
    // parquet source, not filtered post-scan
    val dir = Files.createTempDirectory("graft-bm25idx").toString
    val post = s"$dir/post"; val dls = s"$dir/dl"
    val docs = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "gamma delta"), (4L, "scan scan scan hash")).toDF("doc_id", "text")
    Seq(Seq(1L), Seq(2L, 3L), Seq(4L)).foreach { ids =>
      val b = docs.filter($"doc_id".isin(ids: _*))
      graft.operators.Retrieval.postings(b).write.mode("append").parquet(post)
      graft.operators.Retrieval.docLengths(b).write.mode("append").parquet(dls)
    }
    val served = graft.operators.Retrieval.bm25FromIndex(
      spark.read.parquet(post), spark.read.parquet(dls),
      Seq("hash", "scan", "merge"), k = 10)
    val batch = graft.operators.Retrieval.bm25TopK(
      docs, Seq("hash", "scan", "merge"), k = 10)
    assert(served.collect().toSeq === batch.collect().toSeq)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(term"),
      "term IN must reach the postings parquet scan: " + p.take(1500))
  }

  test("bucketed postings index: compaction is serve-transparent and partitions prune") {
    // the q_bm25_stream production layout, pinned: micro-batch appends
    // accrete part files per term-hash bucket; stage-and-swap
    // compaction must reduce files WITHOUT changing a single served
    // bit, and the serve must prune bucket PARTITIONS before its
    // row-group term pruning
    val dir = Files.createTempDirectory("graft-bm25cmp").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val docs = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "gamma delta"), (4L, "scan scan scan hash")).toDF("doc_id", "text")
    def bucketed(p: org.apache.spark.sql.DataFrame) = p.withColumn("bk",
      F.pmod(F.xxhash64(F.col("term")), F.lit(8)).cast("int"))
    Seq(Seq(1L), Seq(2L, 3L), Seq(4L)).foreach { ids =>
      val b = docs.filter($"doc_id".isin(ids: _*))
      cat.appendPartitioned("postings",
        bucketed(graft.operators.Retrieval.postings(b)), Seq("bk"))
      cat.append("dl", graft.operators.Retrieval.docLengths(b))
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "term STRING, doc_id BIGINT, tf BIGINT, bk INT")
    val terms = Seq("hash", "scan", "merge")
    def serve = {
      val bkRow = spark.range(1).select(terms.map(t =>
        F.pmod(F.xxhash64(F.lit(t)), F.lit(8)).cast("int").as(t)): _*).head()
      val bks = terms.indices.map(bkRow.getInt).distinct
      graft.operators.Retrieval.bm25FromIndex(
        cat.readWithSchema("postings", schema).filter(F.col("bk").isin(bks: _*)),
        cat.read("dl"), terms, k = 10)
    }
    def partFiles: Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/wh/postings"))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = serve.collect().toSeq
    val filesBefore = partFiles
    val swapped = cat.compactPartitioned("postings", "bk", schema,
      maxFilesPerPartition = 1)
    assert(swapped.nonEmpty, "multi-file buckets must trigger compaction")
    val after = serve
    assert(after.collect().toSeq === before,
      "compaction must not change a served bit")
    assert(partFiles < filesBefore,
      s"compaction must reduce files: $filesBefore -> $partFiles")
    val p = after.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*bk""".r.findFirstIn(p).isDefined,
      "bucket pruning must appear in PartitionFilters: " + p.take(1500))
  }

  test("vector index deletes: tombstoned codes stop serving, ids re-ingest, compaction scrubs") {
    val dir = Files.createTempDirectory("graft-vectomb").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 8, m = 4, ksub = 8)
    val codesSchema = graft.streaming.Streams.vectorCodesSchema(offline.schema)
    graft.streaming.Streams.ensureVectorIndexTables(
      cat, "codes", "codes_tomb", codesSchema)
    val log = new graft.streaming.OpLog(spark, cat, "codes_ops",
      graft.streaming.OpLog.countPayload)
    val pool = graft.operators.Similarity.collectPool(model)
    def code(df: org.apache.spark.sql.DataFrame, seq: Long) =
      graft.operators.Similarity
        .ivfPqCodeTable(df, pool, 8, 4, 8, "vec_id", "embedding")
        .withColumn("seq", F.lit(seq))
        .withColumn("pbk",
          F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(16L)).cast("int"))
    // seed with the offline build, REGISTERED in the op log (so derived
    // bases go above it and no future op can collide with the seed)
    cat.appendPartitioned("codes", code(vecs, 0L), Seq("pbk"))
    log.commitCount(0L, 30L)
    graft.streaming.Streams.deleteVectors(cat, "codes", codesSchema,
      "codes_tomb", Seq(3L, 7L).toDF("neighbor_id"), seq = Some(1L))
    def liveCodes = graft.operators.Tombstones.live(
      cat.readWithSchema("codes", codesSchema),
      cat.read("codes_tomb"), "neighbor_id")
    assert(liveCodes.filter($"neighbor_id".isin(3L, 7L)).isEmpty,
      "tombstoned vectors must leave the live view")
    // deleting twice is a no-op; re-ingest lands a fresh generation
    graft.streaming.Streams.deleteVectors(cat, "codes", codesSchema,
      "codes_tomb", Seq(3L).toDF("neighbor_id"), seq = Some(2L))
    cat.appendPartitioned("codes",
      code(vecs.filter($"vec_id" === 3L), 5L), Seq("pbk"))
    log.commitCount(5L, 1L)
    assert(liveCodes.filter($"neighbor_id" === 3L).count() === 1L,
      "the re-ingested generation must be live again")
    // serve from live codes equals a fresh build on the surviving set
    val surviving = vecs.filter($"vec_id" =!= 7L)
    val queries = vecs.filter($"vec_id" < 3L)
    val served = graft.operators.Similarity.ivfPqTopKFromIndex(
        model, liveCodes.drop("seq", "pbk"), queries, k = 3,
        nlist = 8, nprobe = 8, m = 4, ksub = 8)
      .collect().map(_.toSeq).toSet
    val rebuilt = graft.operators.Similarity.ivfPqTopKFromIndex(
        model, graft.operators.Similarity.ivfPqCodeTable(
          surviving, pool, 8, 4, 8, "vec_id", "embedding"),
        queries, k = 3, nlist = 8, nprobe = 8, m = 4, ksub = 8)
      .collect().map(_.toSeq).toSet
    assert(served === rebuilt,
      "tombstoned serve must equal a rebuild on the surviving vectors")
    // physical scrub: dead generations gone, tombstones cleared, live
    // view unchanged
    val before = liveCodes.collect().map(_.toSeq).toSet
    graft.streaming.Streams.compactVectorIndex(
      cat, "codes", codesSchema, "codes_tomb")
    val raw = cat.readWithSchema("codes", codesSchema)
    assert(raw.collect().map(_.toSeq).toSet === before,
      "compaction must not change the live view")
    assert(raw.filter($"neighbor_id" === 7L).isEmpty, "ghost codes must be gone")
    assert(raw.filter($"neighbor_id" === 3L).select("seq").head().getLong(0) === 5L,
      "only the fresh generation of a re-ingested id may survive")
    assert(cat.read("codes_tomb").isEmpty, "applied tombstones must clear")
  }

  test("vector single-op replace: new codes and old-generation tombstone land in ONE op; replays converge") {
    val dir = Files.createTempDirectory("graft-vecreplace").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 8, m = 4, ksub = 8)
    val codesSchema = graft.streaming.Streams.vectorCodesSchema(offline.schema)
    graft.streaming.Streams.ensureVectorIndexTables(
      cat, "codes", "codes_tomb", codesSchema)
    val log = new graft.streaming.OpLog(spark, cat, "codes_ops",
      graft.streaming.OpLog.countPayload)
    val pool = graft.operators.Similarity.collectPool(model)
    def code(df: org.apache.spark.sql.DataFrame, seq: Long) =
      graft.operators.Similarity
        .ivfPqCodeTable(df, pool, 8, 4, 8, "vec_id", "embedding")
        .withColumn("seq", F.lit(seq))
        .withColumn("pbk",
          F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(16L)).cast("int"))
    cat.appendPartitioned("codes", code(vecs, 0L), Seq("pbk"))
    log.commitCount(0L, 20L)
    // replace vec 3 with its NEGATED embedding — one op
    val modified = vecs.filter($"vec_id" === 3L)
      .select($"vec_id",
        F.transform($"embedding", x => -x.cast("double")).as("embedding"))
    graft.streaming.Streams.replaceVectors(cat, "codes", codesSchema,
      "codes_tomb", modified, model, nlist = 8, m = 4, ksub = 8)
    def liveCodes = graft.operators.Tombstones.live(
      log.visible(cat.readWithSchema("codes", codesSchema)),
      log.visible(cat.read("codes_tomb")), "neighbor_id")
    assert(liveCodes.filter($"neighbor_id" === 3L).count() === 1L,
      "exactly one live generation for the replaced id")
    val expected = graft.operators.Similarity
      .ivfPqCodeTable(modified, pool, 8, 4, 8, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    assert(liveCodes.filter($"neighbor_id" === 3L).drop("seq", "pbk")
      .collect().map(_.toSeq).toSet === expected,
      "the live code must be the NEW embedding's code")
    // replaying the committed op is a no-op (done short-circuit)
    val seqUsed = log.maxSeq.get
    val before = liveCodes.collect().map(_.toSeq).toSet
    graft.streaming.Streams.replaceVectors(cat, "codes", codesSchema,
      "codes_tomb", modified, model, nlist = 8, m = 4, ksub = 8,
      seq = Some(seqUsed))
    assert(liveCodes.collect().map(_.toSeq).toSet === before,
      "replaying a committed replace must not change the live view")
    // a crashed attempt (marker + partial codes, no commit) scrubs and
    // redoes under the SAME seq
    val crashSeq = log.nextBaseSeq
    log.beginAttempt(crashSeq)
    cat.appendPartitioned("codes",
      code(vecs.filter($"vec_id" === 5L), crashSeq).limit(1), Seq("pbk"))
    val mod5 = vecs.filter($"vec_id" === 5L)
      .select($"vec_id",
        F.transform($"embedding", x => -x.cast("double")).as("embedding"))
    graft.streaming.Streams.replaceVectors(cat, "codes", codesSchema,
      "codes_tomb", mod5, model, nlist = 8, m = 4, ksub = 8,
      seq = Some(crashSeq))
    assert(liveCodes.filter($"neighbor_id" === 5L).count() === 1L,
      "the replayed replace must converge to one live generation")
    // compaction kills the old generations physically
    graft.streaming.Streams.compactVectorIndex(
      cat, "codes", codesSchema, "codes_tomb")
    val raw = cat.readWithSchema("codes", codesSchema)
    assert(raw.filter($"neighbor_id" === 3L).count() === 1L &&
      raw.filter($"neighbor_id" === 3L).select("seq").head().getLong(0) === seqUsed,
      "only the replacing generation survives compaction")
    assert(cat.read("codes_tomb").isEmpty, "applied tombstones must clear")
  }

  test("vector recrawl stream: replace-mode writer re-codes live ids; admit-mode drops them") {
    val dir = Files.createTempDirectory("graft-vec-recrawl").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 12L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 8, m = 4, ksub = 8)
    val codesSchema = graft.streaming.Streams.vectorCodesSchema(offline.schema)
    graft.streaming.Streams.ensureVectorIndexTables(
      cat, "codes", "codes_tomb", codesSchema)
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    vecs.coalesce(1).write.parquet(s"$in/b1")
    def src = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/b1")
    val q1 = graft.streaming.Streams.streamingIvfPqIndex(
      src, model, cat, "codes", s"$dir/cp1", nlist = 8, m = 4, ksub = 8,
      tombTable = Some("codes_tomb"), codesSchema = Some(codesSchema)).start()
    q1.processAllAvailable(); q1.stop()
    // the recrawl re-embeds id 4 (negated vector, different code)
    val in2 = s"$dir/in2"; new java.io.File(in2).mkdirs()
    val reEmbedded = vecs.filter($"vec_id" === 4L)
      .select($"vec_id",
        F.transform($"embedding", x => (-x).cast("float")).as("embedding"))
    reEmbedded.coalesce(1).write.parquet(s"$in2/b1")
    def src2 = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in2/b1")
    val log = new graft.streaming.OpLog(spark, cat, "codes_ops",
      graft.streaming.OpLog.countPayload)
    def liveCodes = graft.operators.Tombstones.live(
      log.visible(cat.readWithSchema("codes", codesSchema)),
      log.visible(cat.read("codes_tomb")), "neighbor_id")
    val pool = graft.operators.Similarity.collectPool(model)
    val oldCode = liveCodes.filter($"neighbor_id" === 4L)
      .drop("seq", "pbk").collect().map(_.toSeq).toSet
    // admit-mode drops the already-live id
    val qAdmit = graft.streaming.Streams.streamingIvfPqIndex(
      src2, model, cat, "codes", s"$dir/cp2", nlist = 8, m = 4, ksub = 8,
      tombTable = Some("codes_tomb"), codesSchema = Some(codesSchema)).start()
    qAdmit.processAllAvailable(); qAdmit.stop()
    assert(liveCodes.filter($"neighbor_id" === 4L)
      .drop("seq", "pbk").collect().map(_.toSeq).toSet === oldCode,
      "admit-mode must keep the original code")
    // replace-mode re-codes it
    val qRepl = graft.streaming.Streams.streamingIvfPqIndex(
      src2, model, cat, "codes", s"$dir/cp3", nlist = 8, m = 4, ksub = 8,
      tombTable = Some("codes_tomb"), codesSchema = Some(codesSchema),
      replaceMode = true).start()
    qRepl.processAllAvailable(); qRepl.stop()
    val expected = graft.operators.Similarity
      .ivfPqCodeTable(reEmbedded, pool, 8, 4, 8, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    assert(liveCodes.filter($"neighbor_id" === 4L)
      .drop("seq", "pbk").collect().map(_.toSeq).toSet === expected,
      "replace-mode must carry the re-embedded id's NEW code")
    assert(liveCodes.count() === 12L, "one live code per id")
  }

  test("persisted-index drift rebalance: atomic model+codes swap; no-fire passthrough; crashed rebuild invisible") {
    val dir = Files.createTempDirectory("graft-vecrebal").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val rnd = new scala.util.Random(41)
    // ids >= 15 drift: every coordinate collapses toward 2.0 + 0.01x —
    // the planted skew of the batch twin at unit scale
    val base = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val drifted = base.map { case (i, v) =>
      (i, if (i >= 15) v.map(x => 2.0f + x * 0.01f) else v)
    }.toDF("vec_id", "embedding")
    val (model0, offline) = graft.operators.Similarity.ivfPqIndex(
      drifted.filter($"vec_id" < 15), nlist = 8, m = 4, ksub = 8)
    val codesSchema = graft.streaming.Streams.vectorCodesSchema(offline.schema)
    graft.streaming.Streams.ensureVectorIndexTables(
      cat, "codes", "codes_tomb", codesSchema)
    graft.streaming.Streams.seedVectorIndexModel(
      cat, "codes", "model", model0, seq = 0L)
    val pool0 = graft.operators.Similarity.collectPool(model0)
    val log = new graft.streaming.OpLog(spark, cat, "codes_ops",
      graft.streaming.OpLog.countPayload)
    cat.appendPartitioned("codes",
      graft.operators.Similarity
        .ivfPqCodeTable(drifted, pool0, 8, 4, 8, "vec_id", "embedding")
        .withColumn("seq", F.lit(1L))
        .withColumn("pbk",
          F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(16L)).cast("int")),
      Seq("pbk"))
    log.commitCount(1L, 30L)
    // simulate a CRASHED rebuild: attempt + model/code rows, no commit —
    // nothing of it may serve
    val crashSeq = log.nextBaseSeq
    log.beginAttempt(crashSeq)
    cat.append("model", model0.withColumn("seq", F.lit(crashSeq)))
    val modelBefore = graft.streaming.Streams
      .liveVectorModel(cat, "codes", "model").collect().map(_.toSeq).toSet
    assert(modelBefore === model0.collect().map(_.toSeq).toSet,
      "a crashed rebuild's model rows must not become live")
    // the drift fires the trigger; the rebuild must equal a fresh build
    val fired = graft.streaming.Streams.rebalanceVectorIndexIfSkewed(
      cat, "codes", codesSchema, "codes_tomb", "model", drifted,
      nlist = 8, m = 4, ksub = 8)
    assert(fired, "planted drift must fire the trigger")
    val (freshModel, freshCodes) = graft.operators.Similarity.ivfPqIndex(
      drifted, nlist = 8, m = 4, ksub = 8)
    assert(graft.streaming.Streams.liveVectorModel(cat, "codes", "model")
      .collect().map(_.toSeq).toSet ===
      freshModel.collect().map(_.toSeq).toSet,
      "the live model must be the fresh pool")
    val queries = drifted.filter($"vec_id" < 3L)
    val served = graft.streaming.Streams.serveVectorIndex(
        cat, "codes", codesSchema, "codes_tomb", "model", queries, k = 3,
        nlist = 8, nprobe = 8, m = 4, ksub = 8)
      .collect().map(_.toSeq).toSet
    val rebuilt = graft.operators.Similarity.ivfPqTopKFromIndex(
        freshModel, freshCodes, queries, k = 3,
        nlist = 8, nprobe = 8, m = 4, ksub = 8)
      .collect().map(_.toSeq).toSet
    assert(served === rebuilt,
      "rebalanced serve must equal a fresh build bit-for-bit")
    // maintenance GC: compaction scrubs the dead/garbage codes; the
    // next rebalance entry scrubs the abandoned model rows and then
    // passes through (freshly balanced-enough index fires only on the
    // genuinely skewed occupancy it measures)
    graft.streaming.Streams.compactVectorIndex(
      cat, "codes", codesSchema, "codes_tomb")
    val codesRaw = cat.readWithSchema("codes", codesSchema)
    assert(codesRaw.select("seq").distinct().count() === 1L,
      "only the committed rebuild generation survives compaction")
    val firedAgain = graft.streaming.Streams.rebalanceVectorIndexIfSkewed(
      cat, "codes", codesSchema, "codes_tomb", "model", drifted,
      nlist = 8, m = 4, ksub = 8)
    assert(cat.readWithSchema("model", graft.streaming.Streams.vectorModelSchema)
      .filter($"seq" === crashSeq).isEmpty,
      "the crashed rebuild's model rows must be GC'd at the next entry")
    if (!firedAgain) {
      // passthrough arm: live view untouched by a no-fire entry
      assert(graft.streaming.Streams.liveVectorModel(cat, "codes", "model")
        .collect().map(_.toSeq).toSet ===
        freshModel.collect().map(_.toSeq).toSet)
    }
  }

  test("streaming dedup deletes: tombstoned docs stop rejecting, ids re-ingest, compaction scrubs") {
    val dir = Files.createTempDirectory("graft-deduptomb").toString
    val drop = s"$dir/drop"; val drop2 = s"$dir/drop2"
    val wh = s"$dir/wh"; val cp = s"$dir/cp"; val cp2 = s"$dir/cp2"
    new java.io.File(drop).mkdirs(); new java.io.File(drop2).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    val corpusSchema = Streams.dedupCorpusSchema
    val bucketSchema = Streams.dedupBucketSchema
    Streams.ensureDedupIndexTables(
      catalog, "corpus", "corpus_buckets", "corpus_tomb")
    def drop1(d: String, file: String, rows: (Long, String)*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$d/$file"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    val t1 = "first corpus document body that will be taken down later on"
    val t2 = "second document body that stays live through the whole test"
    drop1(drop, "b1.jsonl", 1L -> t1, 2L -> t2)
    val q1 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", cp,
      tombTable = Some("corpus_tomb")).start()
    q1.processAllAvailable(); q1.stop()
    assert(catalog.read("corpus").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // takedown doc 1; its id frees and its buckets stop rejecting
    Streams.deleteDocsFromDedup(catalog, "corpus",
      "corpus_tomb", Seq(1L).toDF("doc_id"), seq = Some(10L))
    // b2: doc 1 re-ingests REPLACED (fresh text — the id must be free),
    // doc 10 is a near-copy of the DELETED text (must be admitted: no
    // ghost rejection), doc 11 is a near-copy of live doc 2 (must be
    // rejected by the still-live buckets)
    drop1(drop2, "b2.jsonl",
      1L -> "completely new replacement content for the re crawled page",
      10L -> t1.toUpperCase,
      11L -> t2.toUpperCase)
    val q2 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop2, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", cp2,
      tombTable = Some("corpus_tomb")).start()
    q2.processAllAvailable(); q2.stop()
    val live = graft.operators.Tombstones.live(
      catalog.readWithSchema("corpus", corpusSchema),
      catalog.read("corpus_tomb"), "doc_id")
    assert(live.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 10L), "dead text must not reject; live text must")
    assert(live.filter($"doc_id" === 1L).head().getString(1)
      .startsWith("completely new"), "id 1 must carry the new generation")
    // physical scrub: dead generations gone from BOTH tables, tombstones
    // cleared, live view unchanged
    val before = live.select("doc_id", "text").collect().toSet
    Streams.compactDocDedup(catalog, "corpus", "corpus_buckets", "corpus_tomb")
    val corpusRaw = catalog.readWithSchema("corpus", corpusSchema)
    assert(corpusRaw.select("doc_id", "text").collect().toSet === before,
      "compaction must not change the live view")
    assert(corpusRaw.filter($"doc_id" === 1L).count() === 1L,
      "doc 1's dead generation must be scrubbed")
    val liveIds = corpusRaw.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(catalog.readWithSchema("corpus_buckets", bucketSchema)
      .select("id").collect().map(_.getLong(0)).toSet === liveIds,
      "bucket index must exactly mirror the live corpus after scrub")
    assert(catalog.read("corpus_tomb").isEmpty, "applied tombstones must clear")
  }

  test("dedup single-op replace: new text re-buckets and old generation dies in ONE op; replays converge") {
    val dir = Files.createTempDirectory("graft-dedupreplace").toString
    val catalog = new graft.sources.Catalog(spark, s"$dir/wh")
    Streams.ensureDedupIndexTables(
      catalog, "corpus", "corpus_buckets", "corpus_tomb")
    val log = new graft.streaming.OpLog(spark, catalog, "corpus_ops",
      graft.streaming.OpLog.countPayload)
    def pbkOf(c: org.apache.spark.sql.Column) =
      F.pmod(F.xxhash64(c), F.lit(16L)).cast("int")
    val t1 = "first corpus document body that will be editorially replaced"
    val t2 = "second document body that stays untouched through the test"
    val seed = Seq(1L -> t1, 2L -> t2).toDF("doc_id", "text")
    catalog.appendPartitioned("corpus", seed
        .withColumn("seq", F.lit(0L))
        .withColumn("pbk", pbkOf($"doc_id")), Seq("pbk"))
    catalog.appendPartitioned("corpus_buckets",
      graft.operators.Dedup.bucketTableMd5(seed)
        .withColumn("seq", F.lit(0L))
        .withColumn("pbk", pbkOf($"id")), Seq("pbk"))
    log.commitCount(0L, 2L)
    val newText = "a completely rewritten body with entirely different shingles"
    Streams.replaceDocsInDedup(catalog, "corpus", "corpus_buckets",
      "corpus_tomb", Seq(1L -> newText).toDF("doc_id", "text"))
    def live = graft.operators.Tombstones.live(
      log.visible(catalog.readWithSchema("corpus", Streams.dedupCorpusSchema)),
      log.visible(catalog.read("corpus_tomb")), "doc_id")
    def liveBuckets = graft.operators.Tombstones.live(
      log.visible(
        catalog.readWithSchema("corpus_buckets", Streams.dedupBucketSchema)),
      log.visible(catalog.read("corpus_tomb"))
        .withColumnRenamed("doc_id", "id"), "id")
    assert(live.filter($"doc_id" === 1L).count() === 1L &&
      live.filter($"doc_id" === 1L).select("text").head().getString(0) === newText,
      "the live corpus must carry exactly the new generation's text")
    // the live bucket rows for doc 1 must derive from the NEW text
    val expected = graft.operators.Dedup
      .bucketTableMd5(Seq(1L -> newText).toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(liveBuckets.filter($"id" === 1L).drop("seq", "pbk")
      .collect().map(_.toSeq).toSet === expected,
      "the index must re-shingle the replacement text")
    // a near-copy of the OLD text must now be ADMITTED (its buckets
    // died with the generation); a near-copy of the NEW text rejected
    val probeOld = graft.operators.Dedup.incrementalCandidatesFromBuckets(
      graft.operators.Dedup.bucketTableMd5(
        Seq(50L -> t1.toUpperCase).toDF("doc_id", "text")),
      liveBuckets.drop("seq", "pbk"))
    assert(probeOld.isEmpty,
      "the replaced-away text must stop attracting candidates")
    val probeNew = graft.operators.Dedup.incrementalCandidatesFromBuckets(
      graft.operators.Dedup.bucketTableMd5(
        Seq(51L -> newText.toUpperCase).toDF("doc_id", "text")),
      liveBuckets.drop("seq", "pbk"))
    assert(!probeNew.isEmpty,
      "the replacement text's near-copies must hit the new buckets")
    // replaying the committed op is a no-op; compaction scrubs the dead
    // generation from BOTH tables
    val seqUsed = log.maxSeq.get
    val before = live.select("doc_id", "text").collect().toSet
    Streams.replaceDocsInDedup(catalog, "corpus", "corpus_buckets",
      "corpus_tomb", Seq(1L -> newText).toDF("doc_id", "text"),
      seq = Some(seqUsed))
    assert(live.select("doc_id", "text").collect().toSet === before)
    Streams.compactDocDedup(catalog, "corpus", "corpus_buckets", "corpus_tomb")
    val corpusRaw = catalog.readWithSchema("corpus", Streams.dedupCorpusSchema)
    assert(corpusRaw.filter($"doc_id" === 1L).count() === 1L &&
      corpusRaw.filter($"doc_id" === 1L).select("seq").head().getLong(0) === seqUsed,
      "only the replacing generation survives compaction")
    assert(catalog.read("corpus_tomb").isEmpty, "applied tombstones must clear")
  }

  test("dedup recrawl stream: replace-mode writer overwrites live text; admit-mode drops it") {
    val dir = Files.createTempDirectory("graft-dedup-recrawl").toString
    val drop = s"$dir/drop"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, s"$dir/wh")
    Streams.ensureDedupIndexTables(
      catalog, "corpus", "corpus_buckets", "corpus_tomb")
    val t1 = "original page body before the recrawl found newer content"
    Files.writeString(java.nio.file.Paths.get(s"$drop/b1.jsonl"),
      s"""{"doc_id":1,"text":"$t1"}""")
    val q1 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", s"$dir/cp1",
      tombTable = Some("corpus_tomb")).start()
    q1.processAllAvailable(); q1.stop()
    // the recrawl delivers NEW text under the same id: admit-mode
    // (insert-if-absent) must drop it, replace-mode must overwrite
    val t2 = "freshly recrawled body with completely different words now"
    val drop2 = s"$dir/drop2"; new java.io.File(drop2).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$drop2/b2.jsonl"),
      s"""{"doc_id":1,"text":"$t2"}""")
    val qAdmit = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop2, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", s"$dir/cp2",
      tombTable = Some("corpus_tomb")).start()
    qAdmit.processAllAvailable(); qAdmit.stop()
    val log = new graft.streaming.OpLog(spark, catalog, "corpus_ops",
      graft.streaming.OpLog.countPayload)
    def live = graft.operators.Tombstones.live(
      log.visible(catalog.readWithSchema("corpus", Streams.dedupCorpusSchema)),
      log.visible(catalog.read("corpus_tomb")), "doc_id")
    assert(live.select("text").head().getString(0) === t1,
      "admit-mode must drop the already-live id")
    val qRepl = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop2, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", s"$dir/cp3",
      tombTable = Some("corpus_tomb"), replaceMode = true).start()
    qRepl.processAllAvailable(); qRepl.stop()
    assert(live.count() === 1L &&
      live.select("text").head().getString(0) === t2,
      "replace-mode must overwrite the live generation")
    // the index mirrors the NEW text's shingles
    val liveBuckets = graft.operators.Tombstones.live(
      log.visible(
        catalog.readWithSchema("corpus_buckets", Streams.dedupBucketSchema)),
      log.visible(catalog.read("corpus_tomb"))
        .withColumnRenamed("doc_id", "id"), "id")
    val expected = graft.operators.Dedup
      .bucketTableMd5(Seq(1L -> t2).toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(liveBuckets.drop("seq", "pbk").collect().map(_.toSeq).toSet
      === expected, "the bucket index must re-shingle the recrawled text")
  }

  test("tomb-mode dedup crash between appends: scrub-then-redo replay converges exactly-once") {
    // the OpLog protocol on the dedup family: a crash AFTER the bucket
    // append but BEFORE the corpus append leaves a half-written op;
    // the replay must scrub the attempt's rows and redo — never
    // probe-and-skip (a partial multi-file append could have landed a
    // subset of a doc's band rows, and skipping would lose the rest)
    val dir = Files.createTempDirectory("graft-deduponce").toString
    val drop = s"$dir/drop"; val wh = s"$dir/wh"
    new java.io.File(drop).mkdirs()
    val catalog = new graft.sources.Catalog(spark, wh)
    val crashing = new graft.sources.Catalog(spark, wh) {
      override def appendPartitioned(
          table: String, df: org.apache.spark.sql.DataFrame,
          partitionCols: Seq[String], clusterInto: Option[Int],
          sortWithin: Seq[String]): Unit = {
        if (table == "corpus")
          throw new RuntimeException("injected kill between bucket and corpus append")
        super.appendPartitioned(table, df, partitionCols, clusterInto, sortWithin)
      }
    }
    Streams.ensureDedupIndexTables(catalog, "corpus", "corpus_buckets", "corpus_tomb")
    Files.writeString(java.nio.file.Paths.get(s"$drop/b1.jsonl"),
      Seq(1L -> "first document body with enough words to shingle cleanly",
        2L -> "second document body that is entirely different text")
        .map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    val q1 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      crashing, "corpus", "corpus_buckets", s"$dir/cp",
      tombTable = Some("corpus_tomb")).start()
    val died = intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(died.getMessage.contains("injected kill") ||
      Option(died.getCause).exists(_.getMessage.contains("injected kill")))
    // the crash left the index leading the corpus
    assert(!catalog.readWithSchema("corpus_buckets", Streams.dedupBucketSchema).isEmpty,
      "bucket rows must lead the crash")
    assert(catalog.readWithSchema("corpus", Streams.dedupCorpusSchema).isEmpty,
      "corpus must trail the crash")
    // replay from the same checkpoint with a healthy catalog
    val q2 = Streams.streamingDocDedup(
      Streams.docFileStream(spark, drop, maxFilesPerTrigger = 1),
      catalog, "corpus", "corpus_buckets", s"$dir/cp",
      tombTable = Some("corpus_tomb")).start()
    q2.processAllAvailable(); q2.stop()
    // the replay ran under a fresh DERIVED seq (the crashed attempt's
    // base is burned), so the attempt's partial bucket rows survive as
    // INVISIBLE garbage until compaction — the visible view must
    // already be exactly-once
    val ops = new graft.streaming.OpLog(spark, catalog, "corpus_ops",
      graft.streaming.OpLog.countPayload)
    val corpus = ops.visible(
      catalog.readWithSchema("corpus", Streams.dedupCorpusSchema))
    val buckets = ops.visible(
      catalog.readWithSchema("corpus_buckets", Streams.dedupBucketSchema))
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(corpus.select("seq").distinct().count() === 1L,
      "the visible corpus must hold exactly one generation per doc")
    assert(buckets.groupBy("id").count().select("count").distinct().count() === 1L,
      "every visible doc must carry the full band set exactly once")
    assert(buckets.select("seq").distinct().count() === 1L,
      "visible bucket rows must all belong to the committed redo generation")
    assert(ops.committed.count() === 1L, "exactly one committed op")
    // compaction scrubs the abandoned attempt's garbage physically
    Streams.compactDocDedup(catalog, "corpus", "corpus_buckets", "corpus_tomb")
    assert(catalog.readWithSchema("corpus_buckets", Streams.dedupBucketSchema)
      .select("seq").distinct().count() === 1L,
      "compaction must scrub the crashed attempt's bucket rows")
  }

  test("generational compaction is partition-local: untouched partitions stay byte-identical") {
    // kill ONE doc, compact with the small-file threshold disabled, and
    // pin that ONLY the partitions holding that doc's rows were
    // rewritten — every other partition's files are byte-identical.
    // At 100 TB this is the difference between a bounded maintenance
    // pass and a full corpus rewrite.
    val dir = Files.createTempDirectory("graft-partloc").toString
    val wh = s"$dir/wh"
    val cat = new graft.sources.Catalog(spark, wh)
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    // one unique term per doc so each doc's postings land in one bucket
    val docs = (0L until 20L).map(i => (i, s"tok$i tok$i uniq$i"))
      .toDF("doc_id", "text")
    idx.ingest(docs, seq = 0L)
    def md5s(table: String): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$wh/$table"))
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val h = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          f.getPath.stripPrefix(s"$wh/") -> h.map("%02x".format(_)).mkString
        }.toMap
    }
    val postBefore = md5s("postings"); val regBefore = md5s("doc_lengths")
    idx.delete(Seq(7L).toDF("doc_id"), seq = 1L)
    idx.compact(maxFilesPerPartition = Int.MaxValue)
    val postAfter = md5s("postings"); val regAfter = md5s("doc_lengths")
    // doc 7's partitions: its terms' bk values and its rk value
    val row = spark.range(1).select(
      F.pmod(F.xxhash64(F.lit("tok7")), F.lit(8L)).cast("int"),
      F.pmod(F.xxhash64(F.lit("uniq7")), F.lit(8L)).cast("int"),
      F.pmod(F.xxhash64(F.lit(7L)), F.lit(8L)).cast("int")).head()
    val deadBks = Set(row.getInt(0), row.getInt(1)).map(v => s"postings/bk=$v/")
    val deadRk = s"doc_lengths/rk=${row.getInt(2)}/"
    def untouched(before: Map[String, String], after: Map[String, String],
        dead: String => Boolean): Unit = {
      val keepB = before.filter { case (p, _) => !dead(p) }
      val keepA = after.filter { case (p, _) => !dead(p) }
      assert(keepA === keepB,
        "untouched partitions must keep byte-identical files")
    }
    untouched(postBefore, postAfter, p => deadBks.exists(p.startsWith))
    untouched(regBefore, regAfter, _.startsWith(deadRk))
    assert(deadBks.forall(d => postAfter.keys.forall(p =>
      !p.startsWith(d) || !postBefore.contains(p))),
      "affected bucket partitions must have been rewritten")
    assert(cat.readWithSchema("postings", graft.streaming.Bm25Index.postSchema)
      .filter($"doc_id" === 7L).isEmpty, "the dead doc's postings must be gone")
    assert(cat.readWithSchema("doc_lengths", graft.streaming.Bm25Index.dlSchema)
      .filter($"doc_id" === 7L).isEmpty, "the dead doc's registry row must be gone")
  }

  test("bm25 index delete/replace: tombstoned serve equals a rebuild; compaction kills ghosts physically") {
    // the q_bm25_stream_del contract at unit scale, plus the physical
    // pins the oracle can't see: after compact() the dead generations
    // are GONE from the postings files, the applied tombstones are
    // cleared, and the serve never touches a corpus-sized sidecar
    val dir = Files.createTempDirectory("graft-bm25del").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    val docs = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "gamma delta"), (4L, "scan scan scan hash")).toDF("doc_id", "text")
    idx.ingest(docs.filter($"doc_id" <= 2), seq = 0L)
    idx.ingest(docs.filter($"doc_id" > 2), seq = 1L)
    idx.delete(Seq(2L, 3L).toDF("doc_id"), seq = 2L)
    // replace arm: doc 2 re-ingests MODIFIED — a new generation
    idx.ingest(Seq((2L, "merge merge hash")).toDF("doc_id", "text"), seq = 3L)
    val terms = Seq("hash", "scan", "merge")
    val liveCorpus = Seq(
      (1L, "alpha hash scan"), (2L, "merge merge hash"),
      (4L, "scan scan scan hash")).toDF("doc_id", "text")
    val expected = graft.operators.Retrieval.bm25TopK(liveCorpus, terms, k = 10)
      .collect().toSeq
    val before = idx.serve(terms, k = 10)
    assert(before.collect().toSeq === expected,
      "tombstoned serve must equal a rebuild on the surviving corpus, bit-for-bit")
    // serve reads NO corpus-sized table: postings (bucket+term pruned)
    // and the |ops|-row stats/marker/tombstone sidecars only
    val planBefore = before.queryExecution.executedPlan.toString
    assert(!planBefore.contains("doc_lengths"),
      "serve must not scan the doc registry: " + planBefore.take(1500))
    assert(planBefore.contains("In(term"),
      "term IN must reach the postings scan: " + planBefore.take(1500))
    idx.compact(maxFilesPerPartition = 1)
    val after = idx.serve(terms, k = 10)
    assert(after.collect().toSeq === expected,
      "compaction must not change a served bit")
    // ghost pins: doc 3 is physically gone, doc 2 has ONLY the new
    // generation, the applied tombstones are cleared, stats fold to one
    // committed row describing exactly the live corpus
    val post = cat.readWithSchema("postings", graft.streaming.Bm25Index.postSchema)
    assert(post.filter($"doc_id" === 3L).isEmpty, "ghost postings must be gone")
    assert(post.filter($"doc_id" === 2L).select("seq").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(3L),
      "only the re-ingested generation of doc 2 may survive")
    assert(cat.readWithSchema("tombstones", graft.streaming.Bm25Index.tombSchema).isEmpty,
      "applied tombstones must be cleared")
    val st = cat.readWithSchema("ops", graft.streaming.Bm25Index.opsSchema)
      .agg(F.sum("n_docs"), F.sum("total_dl")).head()
    assert((st.getLong(0), st.getLong(1)) === ((3L, 10L)),
      "the additive op log must sum to the live corpus (n_docs=3, total_dl=10)")
    val reg = cat.readWithSchema("doc_lengths", graft.streaming.Bm25Index.dlSchema)
    assert(reg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 3L, 2L -> 3L, 4L -> 4L), "registry must hold live docs only")
  }

  test("bm25 recrawl stream: replace-mode writer overwrites live generations; ingest-mode drops them") {
    // the RECRAWL production shape: a re-fetched page streams in and
    // must OVERWRITE its live generation (one replace op per
    // micro-batch) — where the insert-if-absent writer would silently
    // drop it as already-present
    val dir = Files.createTempDirectory("graft-bm25recrawl").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    idx.ingest(Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "gamma delta")).toDF("doc_id", "text"), seq = 0L)
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    Seq((1L, "recrawled alpha now says merge merge"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/b1")
    def src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
      .option("maxFilesPerTrigger", "1").parquet(s"$in/b1")
    // ingest-mode arm: the recrawl is DROPPED (id already live)
    val qDrop = idx.writer(src, s"$dir/cp_drop").start()
    qDrop.processAllAvailable(); qDrop.stop()
    val terms = Seq("hash", "scan", "merge")
    val unchanged = graft.operators.Retrieval.bm25TopK(Seq(
        (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
        (3L, "gamma delta")).toDF("doc_id", "text"), terms, k = 10)
      .collect().toSeq
    assert(idx.serve(terms, k = 10).collect().toSeq === unchanged,
      "insert-if-absent must drop an already-live id")
    // replace-mode arm: the same batch OVERWRITES doc 1
    val qRepl = idx.writer(src, s"$dir/cp_repl", replaceMode = true).start()
    qRepl.processAllAvailable(); qRepl.stop()
    val replaced = graft.operators.Retrieval.bm25TopK(Seq(
        (1L, "recrawled alpha now says merge merge"),
        (2L, "hash hash merge beta"), (3L, "gamma delta"))
        .toDF("doc_id", "text"), terms, k = 10)
      .collect().toSeq
    assert(idx.serve(terms, k = 10).collect().toSeq === replaced,
      "replace-mode must overwrite the live generation, bit-equal to a rebuild")
    idx.compact(maxFilesPerPartition = 1)
    assert(idx.serve(terms, k = 10).collect().toSeq === replaced,
      "compaction must not change a served bit")
  }

  test("bm25 index ops are exactly-once: replayed ops and a crash between appends converge") {
    val dir = Files.createTempDirectory("graft-bm25once").toString
    val wh = s"$dir/wh"
    val cat = new graft.sources.Catalog(spark, wh)
    // injected crash: the registry append dies, leaving postings written
    // but dl/stats/marker missing — the widest replay window
    val crashing = new graft.sources.Catalog(spark, wh) {
      override def appendPartitioned(
          table: String, df: org.apache.spark.sql.DataFrame,
          partitionCols: Seq[String], clusterInto: Option[Int],
          sortWithin: Seq[String]): Unit = {
        if (table == "doc_lengths")
          throw new RuntimeException("injected kill between postings and registry append")
        super.appendPartitioned(table, df, partitionCols, clusterInto, sortWithin)
      }
    }
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    val crashingIdx = new graft.streaming.Bm25Index(spark, crashing, buckets = 8)
    idx.ensure()
    val docs = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta")).toDF("doc_id", "text")
    idx.ingest(docs, seq = 0L)
    val postCount = cat.readWithSchema(
      "postings", graft.streaming.Bm25Index.postSchema).count()
    // replay of a COMMITTED op: marker short-circuits, nothing appended
    idx.ingest(docs, seq = 0L)
    assert(cat.readWithSchema("postings", graft.streaming.Bm25Index.postSchema)
      .count() === postCount, "replaying a committed op must append nothing")
    // crash mid-op, then replay with a healthy catalog
    val b2 = Seq((3L, "scan merge")).toDF("doc_id", "text")
    val died = intercept[RuntimeException] { crashingIdx.ingest(b2, seq = 1L) }
    assert(died.getMessage.contains("injected kill"))
    val post = cat.readWithSchema("postings", graft.streaming.Bm25Index.postSchema)
    assert(post.filter($"seq" === 1L).count() === 2L,
      "postings must lead the crash")
    assert(cat.readWithSchema("doc_lengths", graft.streaming.Bm25Index.dlSchema)
      .filter($"seq" === 1L).isEmpty, "registry must trail the crash")
    idx.ingest(b2, seq = 1L)
    assert(cat.readWithSchema("postings", graft.streaming.Bm25Index.postSchema)
      .filter($"seq" === 1L).count() === 2L, "replay must not duplicate postings")
    assert(cat.readWithSchema("ops", graft.streaming.Bm25Index.opsSchema)
      .filter($"seq" === 1L && $"n_docs".isNotNull).count() === 1L,
      "replay must commit the op's stats exactly once")
    // the converged index serves the full 3-doc corpus exactly
    val terms = Seq("hash", "scan", "merge")
    val all = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "scan merge")).toDF("doc_id", "text")
    assert(idx.serve(terms, k = 10).collect().toSeq ===
      graft.operators.Retrieval.bm25TopK(all, terms, k = 10).collect().toSeq)
    // delete replay: a committed delete re-applied must subtract once
    idx.delete(Seq(1L).toDF("doc_id"), seq = 2L)
    idx.delete(Seq(1L).toDF("doc_id"), seq = 2L)
    val st = cat.readWithSchema("ops", graft.streaming.Bm25Index.opsSchema)
      .agg(F.sum("n_docs"), F.sum("total_dl")).head()
    assert((st.getLong(0), st.getLong(1)) === ((2L, 6L)),
      "replayed delete must not double-subtract")
  }

  test("bm25 index derives its base seq: stale bases fail loudly, restarts converge, garbage compacts away") {
    val dir = Files.createTempDirectory("graft-bm25base").toString
    val wh = s"$dir/wh"
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    val cat = new graft.sources.Catalog(spark, wh)
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    val docs = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta")).toDF("doc_id", "text")
    def dropParquet(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val t = s"$dir/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val f = new java.io.File(t).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    dropParquet(docs.filter($"doc_id" === 1L), "f1")
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = idx.writer(stream, s"$dir/cp1").start()
    try q.processAllAvailable() finally q.stop()
    // a fresh stream reusing an ATTEMPTED base must fail at
    // construction — the alternative is every batch silently no-opping
    // against the committed-op short-circuit
    val stale = intercept[IllegalArgumentException] {
      idx.writer(stream, s"$dir/cp2", baseSeq = Some(0L))
    }
    assert(stale.getMessage.contains("high-water mark"))
    // an abandoned attempt (marker + partial postings, never committed,
    // never replayed — its checkpoint is gone): invisible now, GC'd at
    // compact
    val garbageSeq = idx.nextSeq
    cat.append("ops", spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(garbageSeq, null, null)),
      graft.streaming.Bm25Index.opsSchema))
    cat.appendPartitioned("postings",
      Seq(("ghost", 99L, 1L, 1L, garbageSeq, 3)).toDF(
        "term", "doc_id", "tf", "dl", "seq", "bk"), Seq("bk"))
    // a NEW stream with a fresh checkpoint derives a base above the
    // garbage and re-delivers doc 1 (at-least-once source): admission
    // against the committed-live registry must drop it, not duplicate it
    dropParquet(docs.filter($"doc_id" === 2L), "f2")
    val q2 = idx.writer(stream, s"$dir/cp3").start()
    try q2.processAllAvailable() finally q2.stop()
    val terms = Seq("hash", "scan", "merge")
    assert(idx.serve(terms, k = 10).collect().toSeq ===
      graft.operators.Retrieval.bm25TopK(docs, terms, k = 10).collect().toSeq,
      "re-delivered docs must not duplicate; the garbage row must not serve")
    idx.compact(maxFilesPerPartition = 2)
    assert(cat.readWithSchema("postings", graft.streaming.Bm25Index.postSchema)
      .filter($"doc_id" === 99L).isEmpty,
      "abandoned-attempt garbage must be physically scrubbed at compaction")
    assert(idx.serve(terms, k = 10).collect().toSeq ===
      graft.operators.Retrieval.bm25TopK(docs, terms, k = 10).collect().toSeq)
  }

  test("bm25 index heals compaction and replace crash windows before any probe") {
    // the two orphan windows: (a) a compaction that died between
    // move-aside and move-in leaves a bucket partition's ONLY copy in
    // postings__compacting — a replayed op's per-seq probe must not run
    // against the amputated table (it would skip the scrub, re-append,
    // and the next compaction's staging delete would destroy the
    // orphaned committed rows of OTHER ops); (b) a registry
    // replaceTable that died between move-aside and swap-in leaves the
    // live dir missing — the next op must roll it back instead of
    // throwing path-not-found forever
    val dir = Files.createTempDirectory("graft-bm25heal").toString
    val wh = s"$dir/wh"
    val cat = new graft.sources.Catalog(spark, wh)
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    val docs = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "gamma delta"), (4L, "scan scan scan hash")).toDF("doc_id", "text")
    idx.ingest(docs, seq = 0L)
    val terms = Seq("hash", "scan", "merge")
    val expected = idx.serve(terms, k = 10).collect().toSeq
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$wh/$s")
    // (a) amputate one live bucket partition into the staging dir —
    // exactly the state a crash between move-aside and move-in leaves
    val bk = fs.listStatus(p("postings"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bk="))
      .head.getPath.getName
    fs.mkdirs(p("postings__compacting"))
    assert(fs.rename(p(s"postings/$bk"), p(s"postings__compacting/$bk")))
    // a crashed attempt for seq=7 exists (marker, no commit) — the
    // replay path MUST restore the orphan before its scrub probe
    cat.append("ops", spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(7L, null, null)),
      graft.streaming.Bm25Index.opsSchema))
    idx.ingest(Seq((9L, "merge gamma")).toDF("doc_id", "text"), seq = 7L)
    assert(!fs.exists(p("postings__compacting")),
      "the dead stage must be restored and discarded")
    val healedCorpus = Seq(
      (1L, "alpha hash scan"), (2L, "hash hash merge beta"),
      (3L, "gamma delta"), (4L, "scan scan scan hash"),
      (9L, "merge gamma")).toDF("doc_id", "text")
    assert(idx.serve(terms, k = 10).collect().toSeq ===
      graft.operators.Retrieval.bm25TopK(healedCorpus, terms, k = 10)
        .collect().toSeq,
      "no committed row may be lost to the compaction crash window")
    // (b) the registry's compaction window: amputate one rk partition
    // into its staging dir — the next ingest must restore it before the
    // admission probe (a missing partition would re-admit its docs as
    // fresh generations)
    val rk = fs.listStatus(p("doc_lengths"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("rk="))
      .head.getPath.getName
    fs.mkdirs(p("doc_lengths__compacting"))
    assert(fs.rename(p(s"doc_lengths/$rk"), p(s"doc_lengths__compacting/$rk")))
    idx.ingest(Seq((10L, "delta hash")).toDF("doc_id", "text"), seq = 8L)
    assert(!fs.exists(p("doc_lengths__compacting")),
      "the registry's dead stage must be restored and discarded")
    assert(cat.readWithSchema("doc_lengths", graft.streaming.Bm25Index.dlSchema)
      .count() === 6L, "all six live docs must be registered after healing")
    // (c) replace window on the tombstone table: live dir missing,
    // aside holds the only copy — the next serve must roll back instead
    // of throwing path-not-found
    assert(fs.rename(p("tombstones"), p("tombstones__replaced")))
    assert(idx.serve(terms, k = 10).collect().nonEmpty)
    assert(fs.exists(p("tombstones")) && !fs.exists(p("tombstones__replaced")),
      "tombstones must heal from the aside copy")
  }

  test("op log compaction: one file, sums/state/visibility preserved, scrubbed attempts fold away") {
    val dir = Files.createTempDirectory("graft-oplogcompact").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val log = new graft.streaming.OpLog(spark, cat, "t_ops",
      graft.streaming.Bm25Index.statsPayload)
    log.ensure()
    def stats(n: Long, dl: Long) = Seq((n, dl)).toDF("n_docs", "total_dl")
    log.beginAttempt(0L); log.commit(0L, stats(5L, 50L))
    log.beginAttempt(1L) // abandoned (never commits, below the HWM)
    log.beginAttempt(2L); log.commit(2L, stats(3L, 30L))
    log.beginAttempt(3L) // crashed in-flight at the HWM — must survive
    def opsFiles: Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/wh/t_ops"))
        .count(_.getName.endsWith(".parquet"))
    }
    def sums: (Long, Long) = {
      val r = log.rows.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0L)),
        F.coalesce(F.sum("total_dl"), F.lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val filesBefore = opsFiles
    assert(filesBefore >= 6, s"six appends should leave >= 6 files: $filesBefore")
    assert(sums === ((8L, 80L)))
    assert(log.garbageSeqs === Seq(1L))
    log.compact(scrubbedSeqs = log.garbageSeqs)
    assert(opsFiles === 1, "the folded log must be one file")
    assert(sums === ((8L, 80L)), "the additive payload sum must not move")
    assert(log.maxSeq === Some(3L), "derived bases must still clear the HWM")
    assert(log.state(0L) === ((true, true)) && log.state(2L) === ((true, true)),
      "committed ops stay done (a replay with a stale seq must still no-op)")
    assert(log.state(3L) === ((false, true)),
      "the crashed in-flight attempt must still replay as scrub-then-redo")
    assert(log.state(1L) === ((false, false)),
      "the scrubbed abandoned attempt returns to never-seen")
    assert(log.garbageSeqs.isEmpty)
    val data = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("seq", "v")
    assert(log.visible(data).select("v").as[String].collect().sorted
      === Seq("a", "b", "c"),
      "only the open seq is invisible; committed and never-seen rows serve")
    // a second compaction of the already-minimal log is a no-op rewrite
    log.compact()
    assert(opsFiles === 1 && sums === ((8L, 80L)) && log.state(3L) === ((false, true)))
    // crash window: live dir moved aside mid-replace — the next accessor
    // heals instead of throwing path-not-found or, worse, ensure()
    // creating a fresh empty log over the aside copy
    val fs = new org.apache.hadoop.fs.Path(s"$dir/wh")
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/wh/t_ops"),
      new org.apache.hadoop.fs.Path(s"$dir/wh/t_ops__replaced")))
    log.ensure()
    assert(log.maxSeq === Some(3L),
      "ensure() on a mid-replace log must heal, not recreate empty")
  }

  test("op log checkpoint: history folds to one summary row; stale seqs refuse loudly") {
    val dir = Files.createTempDirectory("graft-oplogckpt").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    (0 until 3).foreach(i => idx.ingest(
      Seq((i.toLong, s"alpha beta doc$i")).toDF("doc_id", "text"), i.toLong))
    val log = new graft.streaming.OpLog(spark, cat, "ops",
      graft.streaming.Bm25Index.statsPayload)
    log.beginAttempt(3L) // crashed in-flight — must survive the fold
    val servedBefore = idx.serve(Seq("alpha", "beta"), k = 10)
      .collect().map(_.toSeq)
    log.checkpoint()
    assert(log.rows.count() === 2L,
      "one summary row plus the open attempt")
    val s = log.rows.filter(F.col("n_docs").isNotNull).head()
    assert(s.getLong(0) === 2L && s.getLong(1) === 3L,
      "the summary sits at the committed HWM and carries the exact sums")
    assert(log.maxSeq === Some(3L))
    // serve reads ONLY the summary + open rows now — bit-identical
    assert(idx.serve(Seq("alpha", "beta"), k = 10).collect().map(_.toSeq)
      === servedBefore, "a checkpoint must not move a served bit")
    // replay probes: open attempt still replayable; fresh seqs fine;
    // folded seqs refuse loudly instead of double-applying
    assert(log.replayState(3L) === ((false, true)))
    assert(log.replayState(7L) === ((false, false)))
    val ex = intercept[IllegalStateException](log.replayState(1L))
    assert(ex.getMessage.contains("high-water mark"))
    // the guard is wired into the op entry points: a hand-tracked
    // stale seq on a REPLACE (the arm that would duplicate a
    // generation) dies before writing anything
    intercept[IllegalStateException](
      idx.replace(Seq((0L, "alpha rewritten")).toDF("doc_id", "text"), 1L))
    assert(idx.serve(Seq("alpha", "beta"), k = 10).collect().map(_.toSeq)
      === servedBefore, "the refused op must not have touched the index")
    // life goes on above the HWM: derived seqs ingest normally
    idx.ingest(Seq((100L, "alpha gamma")).toDF("doc_id", "text"), idx.nextSeq)
    assert(idx.serve(Seq("alpha"), k = 10).count() === 4L)
    // the family helper reaches the checkpoint too: maintenance with
    // checkpointOps re-folds summary + post-checkpoint ops into one row
    // (the abandoned open attempt survives for GC accounting)
    val served4 = idx.serve(Seq("alpha", "beta"), k = 10).collect().map(_.toSeq)
    idx.compact(checkpointOps = true)
    assert(log.rows.count() === 2L,
      "summary + the abandoned open attempt")
    assert(idx.serve(Seq("alpha", "beta"), k = 10).collect().map(_.toSeq)
      === served4, "checkpoint via the family compaction moves no bit")
  }

  test("serve cost is FLAT in op-history length: churned eras fold to a constant snapshot and plan") {
    // The composed long-uptime loop: months of lifecycle churn with
    // periodic maintenance, compressed into eras of
    // ingest/replace/delete ops with compact(checkpointOps = true) at
    // each era's end. The claim under test is the BOUND, not a single
    // fold: serve cost must stop growing with the total number of ops
    // EVER run — after every maintenance pass the op log (= the |ops|
    // rows OpLog.snapshot collects per serve) folds back to exactly one
    // summary row regardless of era count, the serve plan keeps the
    // same shape (same number of parquet scans — visibility stays two
    // pushed literal predicates, never a growing join), and the served
    // corpus stays exactly the live one.
    val dir = Files.createTempDirectory("graft-flatserve").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val idx = new graft.streaming.Bm25Index(spark, cat, buckets = 8)
    idx.ensure()
    val log = new graft.streaming.OpLog(spark, cat, "ops",
      graft.streaming.Bm25Index.statsPayload)
    val live = scala.collection.mutable.Map.empty[Long, String]
    def servedIds(): Set[Long] = {
      val df = idx.serve(Seq("alpha"), k = 1000)
      df.collect() // materialize so the adaptive final plan is real
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    def serveScanShape(): Int = {
      val df = idx.serve(Seq("alpha"), k = 1000)
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    var eraOneSnapshotRows = -1L
    var eraOneShape = -1
    (0 until 3).foreach { era =>
      (0 until 2).foreach { cycle =>
        val base = era * 100 + cycle * 10
        val fresh = (0 until 4).map(j =>
          (base + j.toLong, s"alpha tok${base + j}"))
        idx.ingest(fresh.toDF("doc_id", "text"), idx.nextSeq)
        fresh.foreach { case (id, t) => live(id) = t }
        // edit one of this cycle's docs, take another down
        idx.replace(Seq((base.toLong, s"alpha edited$base"))
          .toDF("doc_id", "text"), idx.nextSeq)
        live(base.toLong) = s"alpha edited$base"
        idx.delete(Seq(base + 1L).toDF("doc_id"), idx.nextSeq)
        live.remove(base + 1L)
        assert(servedIds() === live.keySet.toSet,
          s"era $era cycle $cycle: served corpus != live corpus")
      }
      idx.compact(checkpointOps = true)
      // the fold: however many ops this era added, the log — and with
      // it the per-serve snapshot collect — is back to ONE summary row
      val logRows = log.rows.count()
      val snapRows = log.snapshot().rows.count()
      assert(logRows === 1L,
        s"era $era: op log holds $logRows rows after maintenance — " +
          "history is leaking past the checkpoint")
      val shape = serveScanShape()
      if (era == 0) { eraOneSnapshotRows = snapRows; eraOneShape = shape }
      else {
        assert(snapRows === eraOneSnapshotRows,
          s"era $era: snapshot grew to $snapRows rows (era 1: " +
            s"$eraOneSnapshotRows) — serve cost is growing with op history")
        assert(shape === eraOneShape,
          s"era $era: serve plan has $shape parquet scans (era 1: " +
            s"$eraOneShape) — the plan shape moved with op history")
      }
      assert(servedIds() === live.keySet.toSet,
        s"era $era: maintenance moved the served corpus")
    }
    // 18 lifecycle ops across 3 eras; the bound held at every era end
  }

  test("vector serve cost is FLAT in op-history length: churned eras fold to a constant snapshot and plan") {
    // the same composed long-uptime bound the bm25 case pins, for the
    // VECTOR family (replaceVectors / deleteVectors /
    // compactVectorIndex / serveVectorIndex share the bm25 family's
    // OpLog snapshot+checkpoint machinery but had no era-churn proof):
    // after every maintenance pass the op log folds to ONE summary row
    // regardless of era count, the serve plan keeps its parquet-scan
    // count, and the served id set equals the live one exactly.
    val dir = Files.createTempDirectory("graft-flatserve-vec").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    // deterministic per-(id, salt) embedding so an edit is reproducible
    def emb(id: Long, salt: Int): Array[Float] =
      Array.tabulate(8)(d => (((id * 31 + d * 17 + salt * 7) % 13) - 6) / 6.0f)
    def batch(rows: Seq[(Long, Int)]) =
      rows.map { case (id, salt) => (id, emb(id, salt)) }
        .toDF("vec_id", "embedding")
    val seedIds = (0L until 16L).map(_ -> 0)
    val (model0, offline) = graft.operators.Similarity.ivfPqIndex(
      batch(seedIds), nlist = 8, m = 4, ksub = 8)
    val codesSchema = graft.streaming.Streams.vectorCodesSchema(offline.schema)
    graft.streaming.Streams.ensureVectorIndexTables(
      cat, "codes", "codes_tomb", codesSchema)
    graft.streaming.Streams.seedVectorIndexModel(
      cat, "codes", "model", model0, seq = 0L)
    val log = new graft.streaming.OpLog(spark, cat, "codes_ops",
      graft.streaming.OpLog.countPayload)
    val live = scala.collection.mutable.Map.empty[Long, Int]
    def ingest(rows: Seq[(Long, Int)]): Unit = {
      graft.streaming.Streams.replaceVectors(cat, "codes", codesSchema,
        "codes_tomb", batch(rows),
        graft.streaming.Streams.liveVectorModel(cat, "codes", "model"),
        nlist = 8, m = 4, ksub = 8)
      rows.foreach { case (id, salt) => live(id) = salt }
    }
    ingest(seedIds)
    val queries = batch(Seq(999L -> 0))
    def serveDf() = graft.streaming.Streams.serveVectorIndex(
      cat, "codes", codesSchema, "codes_tomb", "model", queries, k = 1000,
      nlist = 8, nprobe = 8, m = 4, ksub = 8)
    def servedIds(): Set[Long] = {
      val df = serveDf()
      df.collect()
      df.select("neighbor_id").collect().map(_.getLong(0)).toSet
    }
    def serveScanShape(): Int = {
      val df = serveDf()
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    var eraOneSnapshotRows = -1L
    var eraOneShape = -1
    (0 until 3).foreach { era =>
      (0 until 2).foreach { cycle =>
        val base = 100L + era * 100 + cycle * 10
        ingest((0 until 4).map(j => (base + j) -> 0))
        ingest(Seq(base -> (era + 1))) // edit one of this cycle's vectors
        graft.streaming.Streams.deleteVectors(cat, "codes", codesSchema,
          "codes_tomb", Seq(base + 1L).toDF("neighbor_id"))
        live.remove(base + 1L)
        assert(servedIds() === live.keySet.toSet,
          s"era $era cycle $cycle: served vectors != live vectors")
      }
      graft.streaming.Streams.compactVectorIndex(
        cat, "codes", codesSchema, "codes_tomb", checkpointOps = true)
      val logRows = log.rows.count()
      val snapRows = log.snapshot().rows.count()
      assert(logRows === 1L,
        s"era $era: op log holds $logRows rows after maintenance — " +
          "history is leaking past the checkpoint")
      val shape = serveScanShape()
      if (era == 0) { eraOneSnapshotRows = snapRows; eraOneShape = shape }
      else {
        assert(snapRows === eraOneSnapshotRows,
          s"era $era: snapshot grew to $snapRows rows (era 1: " +
            s"$eraOneSnapshotRows) — serve cost is growing with op history")
        assert(shape === eraOneShape,
          s"era $era: serve plan has $shape parquet scans (era 1: " +
            s"$eraOneShape) — the plan shape moved with op history")
      }
      assert(servedIds() === live.keySet.toSet,
        s"era $era: maintenance moved the served vector set")
    }
  }

  test("dedup serve cost is FLAT in op-history length: churned eras fold to a constant snapshot and plan") {
    // the same composed long-uptime bound for the DEDUP family
    // (replaceDocsInDedup / deleteDocsFromDedup / compactDocDedup /
    // liveDedupDocs): one summary row after every maintenance pass, a
    // constant serve plan shape, and the served corpus exactly the
    // live one at every step.
    val dir = Files.createTempDirectory("graft-flatserve-dedup").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    graft.streaming.Streams.ensureDedupIndexTables(
      cat, "corpus", "corpus_buckets", "corpus_tomb")
    val log = new graft.streaming.OpLog(spark, cat, "corpus_ops",
      graft.streaming.OpLog.countPayload)
    val live = scala.collection.mutable.Map.empty[Long, String]
    def text(id: Long, rev: Int) =
      s"document $id revision $rev with its own distinct run of words " +
        s"number ${id * 7 + rev} in the corpus"
    def ingest(rows: Seq[(Long, Int)]): Unit = {
      // replace is the editorial ingest arm (no admission screen):
      // deterministic, so the live map IS the expected corpus
      graft.streaming.Streams.replaceDocsInDedup(cat, "corpus",
        "corpus_buckets", "corpus_tomb",
        rows.map { case (id, rev) => (id, text(id, rev)) }.toDF("doc_id", "text"))
      rows.foreach { case (id, rev) => live(id) = text(id, rev) }
    }
    def serveDf() = graft.streaming.Streams.liveDedupDocs(
      cat, "corpus", "corpus_tomb")
    def served(): Map[Long, String] = {
      val df = serveDf()
      df.collect()
      df.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    def serveScanShape(): Int = {
      val df = serveDf()
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    var eraOneSnapshotRows = -1L
    var eraOneShape = -1
    (0 until 3).foreach { era =>
      (0 until 2).foreach { cycle =>
        val base = 100L + era * 100 + cycle * 10
        ingest((0 until 4).map(j => (base + j) -> 0))
        ingest(Seq(base -> (era + 1))) // edit one of this cycle's docs
        graft.streaming.Streams.deleteDocsFromDedup(cat, "corpus",
          "corpus_tomb", Seq(base + 1L).toDF("doc_id"))
        live.remove(base + 1L)
        assert(served() === live.toMap,
          s"era $era cycle $cycle: served corpus != live corpus")
      }
      graft.streaming.Streams.compactDocDedup(
        cat, "corpus", "corpus_buckets", "corpus_tomb", checkpointOps = true)
      val logRows = log.rows.count()
      val snapRows = log.snapshot().rows.count()
      assert(logRows === 1L,
        s"era $era: op log holds $logRows rows after maintenance — " +
          "history is leaking past the checkpoint")
      val shape = serveScanShape()
      if (era == 0) { eraOneSnapshotRows = snapRows; eraOneShape = shape }
      else {
        assert(snapRows === eraOneSnapshotRows,
          s"era $era: snapshot grew to $snapRows rows (era 1: " +
            s"$eraOneSnapshotRows) — serve cost is growing with op history")
        assert(shape === eraOneShape,
          s"era $era: serve plan has $shape parquet scans (era 1: " +
            s"$eraOneShape) — the plan shape moved with op history")
      }
      assert(served() === live.toMap,
        s"era $era: maintenance moved the served corpus")
    }
  }

  private val sf001 = "/root/testdata/sf0.01"

  test("a stream replay never shows its width on the shared session") {
    val width = graft.queries.QueryCatalog.replayShuffleWidth(spark, sf001, "events")
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== width.toString)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() =>
      while (running.get) {
        seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
        Thread.sleep(1)
      })
    sampler.start()
    try SparkEntry.queries("q_sessionize_stream")(spark, sf001).collect()
    finally { running.set(false); sampler.join() }
    assert(!seen.contains(width.toString), s"shared session read $seen")
  }

  test("the shared session's listeners see a stream replay's progress and collects") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val progress = new java.util.concurrent.atomic.AtomicInteger
    val collects = new java.util.concurrent.atomic.AtomicInteger
    val sl = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collects.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.streams.addListener(sl)
    spark.listenerManager.register(ql)
    try {
      // the result is not collected: every collect seen is a micro-batch's
      SparkEntry.queries("q_sessionize_stream")(spark, sf001)
      org.apache.spark.sql.graftshim.ClonedSession.drainListeners(spark)
    } finally {
      spark.streams.removeListener(sl)
      spark.listenerManager.unregister(ql)
    }
    assert(progress.get >= 1)
    assert(collects.get >= 1)
  }

  test("a stream replay reports its stateful operator at the replay width") {
    val width = graft.queries.QueryCatalog.replayShuffleWidth(spark, sf001, "events")
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== width.toString)
    val ev = spark.read.parquet(s"$sf001/events.parquet").select("user_id", "event_id")
    val progress = graft.queries.Replay(spark,
        graft.queries.Replay.scratch("spec_replay_width"), Some(width)) { r =>
      r.tiles(ev.withColumn("__tile", (F.col("event_id") % 2 + 1).cast("int")), 2, sf001)
      r.collect(r.source(ev.schema).groupBy("user_id").count(), "update")(_ => ())
    }
    val widths = progress.flatMap(_.stateOperators).map(_.numShufflePartitions)
    assert(widths.nonEmpty)
    assert(widths.toSet === Set(width.toLong))
  }

  test("stream-replay shuffle width sizes sources on any Hadoop filesystem scheme") {
    // 12 x 256 KiB of source bytes: 12 reduce partitions under a
    // 64-wide session, on the local path and on the same directory
    // reached through a non-`file:` scheme
    val dir = Files.createTempDirectory("graft-replay-width").toString
    val src = new java.io.File(dir, "events.parquet")
    src.mkdirs()
    (0 until 12).foreach { i =>
      Files.write(new java.io.File(src, s"part-$i").toPath, new Array[Byte](256 * 1024))
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("fs.graftlocal.impl", classOf[SchemeAliasedLocalFs].getName)
    spark.conf.set("fs.graftlocal.impl.disable.cache", "true")
    try {
      val local = graft.queries.QueryCatalog.replayShuffleWidth(spark, dir, "events")
      val aliased = graft.queries.QueryCatalog.replayShuffleWidth(
        spark, s"graftlocal://$dir", "events")
      assert(local === 12)
      assert(aliased === local)
      assert(graft.queries.QueryCatalog.replayShuffleWidth(spark, dir, "absent") === 8)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.unset("fs.graftlocal.impl")
      spark.conf.unset("fs.graftlocal.impl.disable.cache")
    }
  }
}

/** The local filesystem under a scheme of its own, standing in for a
  * remote store that `java.io.File` cannot see. */
class SchemeAliasedLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
}
