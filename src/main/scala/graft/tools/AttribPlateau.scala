package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.GraftSession

/** Measures the WATERMARK-BOUNDED-STATE claim for the two-sided
  * interval-join twin ([[graft.streaming.Streams.attributedPurchases]]):
  * SCALE.md argued attrib's join state is (rate × delay)-bounded at a
  * production watermark, but every prior probe scaled the watermark
  * window WITH the corpus (the events table replays its fixed time span
  * at growing density), so state grew linearly and the time-bounded
  * claim stayed an argument. Here the watermark delay, horizon, and
  * EVENT RATE are all FIXED and only the stream's duration (= volume)
  * grows: if eviction works, max state rows/bytes PLATEAU while
  * throughput and output rise linearly.
  *
  * Generator: `rate` events/sec of event time, event i at
  * epoch + i/rate, alternating view/purchase over `users` users, split
  * into fixed-size event-time-ordered tiles (constant micro-batch
  * volume — throughput grows via MORE batches, so end-of-batch state
  * snapshots are comparable across volumes). Horizon 60 s + lateness
  * 10 s: in-window events ≈ rate × 70 ≪ any measured volume.
  *
  * Run: `tools/run.sh graft.tools.AttribPlateau 100000 300000 1000000`
  * Writes scale/attrib_plateau.json.
  */
object AttribPlateau {
  def main(args: Array[String]): Unit = {
    val volumes =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(100000, 300000, 1000000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-attrib-plateau", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val rows = volumes.map { n =>
      val r = measure(spark, n, rate = 100, tileRows = 50000,
        users = 997, horizon = "60 seconds", lateness = "10 seconds")
      println(f"[plateau] n=$n%8d  out=${r.outRows}%9d  maxStateRows=${r.maxStateRows}%8d  maxStateMiB=${r.maxStateBytes / 1048576.0}%7.1f  ${r.sec}%6.1f s")
      f""""$n": {"out_rows": ${r.outRows}, "max_state_rows": ${r.maxStateRows}, "max_state_bytes": ${r.maxStateBytes}, "sec": ${r.sec}%.1f}"""
    }
    val json = rows.mkString(
      """{"fixed": {"rate_per_sec": 100, "horizon": "60 s", "lateness": "10 s", "tile_rows": 50000}, "volumes": {""",
      ", ", "}}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("scale"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("scale/attrib_plateau.json"), json + "\n")
    println(json)
    spark.stop()
  }

  final case class Result(outRows: Long, maxStateRows: Long,
    maxStateBytes: Long, sec: Double)

  /** One fixed-rate replay at volume `n`; shared by the CLI sweep and
    * the StreamingSpec plateau pin.
    */
  def measure(
      spark: SparkSession,
      n: Int,
      rate: Int,
      tileRows: Int,
      users: Int,
      horizon: String,
      lateness: String): Result = {
    val dir = java.nio.file.Files.createTempDirectory("graft-attrib-plateau").toString
    val tiles = (n + tileRows - 1) / tileRows
    // event i: ts = epoch + i/rate sec (fixed event-time rate), user
    // cycling, strict view/purchase alternation so every purchase has
    // in-horizon views from its own user's recent past
    val ev = spark.range(n.toLong).select(
      F.timestamp_micros(F.lit(1700000000000000L) +
        F.col("id") * (1000000L / rate)).as("ts"),
      F.col("id").as("event_id"),
      (F.col("id") % users).as("user_id"),
      F.when(F.col("id") % 2 === 0, "view").otherwise("purchase").as("event_type"))
    val outRows = new java.util.concurrent.atomic.AtomicLong(0)
    graft.queries.Replay(spark, dir, Some(8)) { r =>
      r.tiles(ev.withColumn("__tile", (F.col("event_id") / tileRows).cast("int") + 1),
        tiles, dir)
      def src() = r.source(ev.schema)
      val joined = graft.streaming.Streams.attributedPurchases(
        src().filter(F.col("event_type") === "purchase"),
        src().filter(F.col("event_type") === "view"),
        horizon = horizon, lateness = lateness)
      val t0 = System.nanoTime()
      val progress = r.run(joined.writeStream.outputMode("append")
        .option("checkpointLocation", r.cp)
        .foreachBatch { (b: DataFrame, _: Long) =>
          outRows.addAndGet(b.count()); ()
        })
      val sec = (System.nanoTime() - t0) / 1e9
      // recentProgress keeps the latest ~100 batch snapshots; tiles are
      // sized so every batch's end-of-batch state snapshot is retained
      val states = progress.flatMap(p => Option(p.stateOperators)).flatten
      Result(outRows.get,
        if (states.isEmpty) 0L else states.map(_.numRowsTotal).max,
        if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max,
        sec)
    }
  }
}
