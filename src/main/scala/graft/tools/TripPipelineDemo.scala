package graft.tools

import java.nio.file.Files
import graft.{GraftSession, Pipeline}
import graft.operators.{TripQueries, Upsert}

/** End-to-end drive of the trip pipeline on a synthetic batch: the
  * reference's `make all` flow (O1) in one process. Run with
  * `sbt "runMain graft.tools.TripPipelineDemo"`.
  */
object TripPipelineDemo {

  /** Deterministic synthetic batch mirroring the shape of the reference's
    * trips.csv (same columns, same WKT/timestamp text formats) — NOT a copy
    * of the data.
    */
  /** @param offset shifts the row index, so two calls with overlapping
    *   [offset, offset+rows) windows produce batches with exactly that
    *   key overlap — the knob the pipeline bench uses to exercise the
    *   dedup upsert with a controlled duplicate fraction.
    * @param tsHeader header name of the timestamp column. The reference's
    *   files say `datetime` while the table column is `date_time` —
    *   positional bind covers the mismatch (and the demo + unit specs
    *   keep exercising it). The bench passes `date_time` so its tail is
    *   not pages of intentional CSVHeaderChecker warnings.
    */
  def syntheticCsv(rows: Int = 100, offset: Int = 0,
      tsHeader: String = "datetime"): String = {
    val regions = Seq("Avalon", "Brighton", "Caldera")
    val sources = Seq("app_one", "app_two", "app_three", "cheap_mobile")
    val sb = new StringBuilder(
      s"region,origin_coord,destination_coord,$tsHeader,datasource\n")
    (offset until offset + rows).foreach { i =>
      val r = regions(i % (if (i % 7 == 0) 2 else 3)) // skew region counts
      val s = sources(i % sources.length)
      // every other field's period divides 4,200: whole degrees of
      // longitude per 4,200 rows keep every row's key distinct (and rows
      // below 4,200 as they were)
      val lon = 7.0 + (i % 50) * 0.01 + i / 4200
      val lat = 45.0 + (i % 40) * 0.01
      val day = 1 + (i % 28)
      val ts = f"2024-03-$day%02d ${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d"
      sb.append(s"$r,POINT ($lon $lat),POINT (${lon + 0.3} ${lat - 0.2}),$ts,$s\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("trip-pipeline-demo", 4)

    val dir = Files.createTempDirectory("graft-demo").toString
    val csv = s"$dir/trips.csv"
    Files.writeString(java.nio.file.Paths.get(csv), syntheticCsv())

    val pipe = new Pipeline(spark, s"$dir/warehouse")
    pipe.runBatch(csv)
    val afterFirst = pipe.hist.count()
    pipe.runBatch(csv) // idempotence: same batch again must not grow hist
    val afterSecond = pipe.hist.count()

    println(s"hist rows after batch 1: $afterFirst")
    println(s"hist rows after batch 2 (same file): $afterSecond")
    println(s"unique trip_key invariant: ${Upsert.holdsUniqueness(pipe.hist, "trip_key")}")
    println(s"staging rows after truncate: ${pipe.catalog.read(pipe.StagingTable).count()}")

    println("--- summarized_trip_data (weekly avg per region) ---")
    pipe.summarized.orderBy("region", "week_of_month").show(50, truncate = false)

    println("--- regions with datasource cheap_mobile ---")
    TripQueries.regionsWithDatasource(pipe.hist).orderBy("region").show()

    println("--- latest datasource of top-2 regions ---")
    TripQueries.latestDatasourceOfTopRegions(pipe.hist).show()

    println(s"pipeline status: ${pipe.status()}")
    spark.stop()
  }
}
