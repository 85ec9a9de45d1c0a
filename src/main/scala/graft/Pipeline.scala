package graft

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Observation, SparkSession, functions => F}
import graft.model.Trip
import graft.operators.{TripQueries, Upsert}
import graft.sources.{Catalog, TripCsvSource}

/** The batch pipeline DAG (reference O1, `make all` -> Makefile:13):
  * ensure tables -> ingest CSV to staging -> derive trip_key -> dedup
  * upsert into hist -> truncate staging -> refresh the summarized view.
  * Designed to be idempotent per batch, exactly like the reference's
  * cron-style re-runnable flow (README.md:27).
  *
  * Status reporting (reference O2 — "watch the Spark UI, no polling"):
  * Spark's UI/REST and `sparkContext.statusTracker` give this for free;
  * [[status]] exposes the programmatic form.
  */
final class Pipeline(spark: SparkSession, warehouse: String) {

  val catalog = new Catalog(spark, warehouse)

  val StagingTable = "stg_trip_data"
  val HistTable = "hist_trip_data"
  val ViewTable = "summarized_trip_data"

  /** CREATE TABLE IF NOT EXISTS for the staging + historical layer
    * (create_objects.sql:2-19) and the view, with no Spark job: a new
    * hist comes with an empty view, so the incremental refresh always has
    * a view to refresh. A hist that predates its view (a crash between
    * the two directories) gets the view recomputed in full, once. On a
    * warehouse that has all three this is three existence checks.
    */
  def ensureTables(): Unit = {
    catalog.ensureTable(StagingTable, Trip.schemaWithDate)
    if (!catalog.exists(HistTable)) {
      catalog.ensurePartitionedTable(HistTable)
      catalog.ensurePartitionedTable(ViewTable)
    } else if (!catalog.exists(ViewTable)) refreshSummarizedView()
  }

  /** One batch end-to-end (populate_postgres.sql:2-34), in 3 Spark jobs
    * on a fresh warehouse and on one that already holds hist and the
    * view: the staging write (1), the pruned anti-join append into hist
    * (1: at batch size the dedup, the anti-join and the write share one
    * task), the staging truncate (none: a zero-row file written from the
    * driver) and the touched-bucket view refresh (1: its aggregate runs
    * in the write's own stage).
    *
    * The historical table is laid out partitioned by `trip_date`
    * (derived from date_time), and the upsert prunes the historical
    * side to the batch's date window: trips arrive time-bounded, so at
    * 100 TB the anti-join reads a handful of partitions instead of the
    * full key history. trip_date is derived from a keyed column, so
    * equal keys always imply equal dates and pruning cannot miss a
    * collision. The batch's dates that plan both the prune and the view
    * refresh ride the staging write as observed metrics, so no job
    * re-reads the batch for them.
    *
    * Each step is idempotent: a crash anywhere in the batch converges
    * when the same file is re-run, since the re-run's anti-join appends
    * nothing already committed.
    */
  def runBatch(csvPath: String): Unit = {
    ensureTables()
    val dates = landStaging(csvPath)
    upsertHist(dates)
    // TRUNCATE staging (S5) and REFRESH MATERIALIZED VIEW (S6)
    catalog.truncate(StagingTable, Trip.schemaWithDate)
    refreshSummarizedViewIncremental(dates)
  }

  /** COPY ... FROM csv (S2) + UPDATE ... SET trip_key = CONCAT(...) (P3):
    * land the file positionally, all strings, keyed and dated, so
    * staging holds exactly this batch. Returns the batch's distinct
    * trip dates, None standing for rows whose date_time does not parse,
    * observed on the write itself: it has no shuffle, so the observe
    * sits in its result stage and counts each row once.
    */
  private[graft] def landStaging(csvPath: String): Seq[Option[LocalDate]] = {
    val keyed = TripCsvSource.read(spark, csvPath)
      .withColumn("trip_key", Trip.tripKey)
      .withColumn("trip_date", F.to_date(F.col("date_time")))
    val obs = Observation()
    catalog.overwrite(StagingTable, keyed.observe(obs,
      F.collect_set(F.unix_date(F.col("trip_date"))).as("days"),
      F.max(F.col("trip_date").isNull).as("has_null")))
    // a batch with no rows reports NULL has_null (and an empty set), one
    // whose write ran no task reports nothing at all
    val stats = obs.get
    val days = stats.get("days").map(_.asInstanceOf[Seq[Int]]).getOrElse(Nil)
    days.map(d => Option(LocalDate.ofEpochDay(d.toLong))) ++
      (if (stats.get("has_null").contains(true)) Seq(None) else Nil)
  }

  /** INSERT ... ON CONFLICT DO NOTHING (J3): dedup upsert of staging
    * into hist, pruned to the batch's date range (and its NULL-date
    * partition when the batch holds unparseable dates).
    */
  private[graft] def upsertHist(dates: Seq[Option[LocalDate]]): Unit = {
    val known = dates.flatten
    val range =
      if (known.isEmpty) None
      else Some((known.minBy(_.toEpochDay), known.maxBy(_.toEpochDay)))
    val stg = catalog.readWithSchema(StagingTable, Trip.schemaWithDate)
    val existing = hist
    // when the batch and the whole hist both fit one task, join them in
    // it: a shuffled hash join of two single-partition sides needs no
    // exchange, and the hinted hist side no broadcast job, so the dedup,
    // the anti-join and the write share one stage. A larger hist keeps
    // the planner's choice
    val (batch, keys) =
      if (catalog.fitsOneTask(stg) && catalog.fitsOneTask(existing))
        (stg.coalesce(1), existing.coalesce(1).hint("shuffle_hash"))
      else (catalog.oneTaskIfSmall(stg), existing)
    catalog.appendPartitioned(HistTable,
      Upsert.newRowsPruned(batch, keys, "trip_key", "trip_date",
        range, dates.contains(None)),
      Seq("trip_date"))
  }

  /** Materialized-view full refresh: recompute + overwrite, stored
    * partitioned by week bucket so incremental refreshes can replace
    * individual buckets (SURVEY.md §1.4).
    */
  def refreshSummarizedView(): Unit =
    catalog.overwritePartitioned(ViewTable,
      TripQueries.weeklyAvgTripsPerRegion(hist), Seq("week_of_month"))

  /** Incremental materialized-view refresh: recompute ONLY the week
    * buckets the batch's trip dates fall into — the historical scan is
    * pruned to those weeks' date ranges (partition pruning on
    * trip_date), and Spark's dynamic partition overwrite replaces just
    * the recomputed buckets on disk. A full refresh scans ALL history
    * every batch; at 100 TB with time-bounded batch arrivals this scans
    * a handful of week partitions instead. Rows whose date_time does
    * not parse fall in the view's NULL bucket, recomputed from the
    * NULL-date hist partition when the batch holds any.
    */
  def refreshSummarizedViewIncremental(dates: Seq[Option[LocalDate]]): Unit = {
    // affected week-of-month windows: [monthStart + 7*(w-1), +7) capped
    // at month end — the same blocks the view buckets by
    val windows = dates.flatten.map { d =>
      val start = d.withDayOfMonth(1).plusDays(((d.getDayOfMonth - 1) / 7) * 7L)
      val end0 = start.plusDays(6)
      val monthEnd = d.withDayOfMonth(d.lengthOfMonth)
      (start, if (end0.isAfter(monthEnd)) monthEnd else end0)
    }.distinct
    val ranges = windows.map { case (s, e) =>
      F.col("trip_date").between(
        F.lit(java.sql.Date.valueOf(s)), F.lit(java.sql.Date.valueOf(e)))
    }
    val nullBucket =
      if (dates.contains(None)) Some(F.col("trip_date").isNull) else None
    (ranges ++ nullBucket).reduceOption(_ || _).foreach { prune =>
      val recomputed =
        TripQueries.weeklyAvgTripsPerRegion(catalog.oneTaskIfSmall(hist.filter(prune)))
      catalog.overwritePartitioned(ViewTable, recomputed,
        Seq("week_of_month"), dynamic = true)
    }
  }

  /** Declared view schema — read schema-first: bucket strings like
    * "2024-01-03" would otherwise be type-INFERRED into dates by
    * partition discovery.
    */
  private val viewSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("region", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("weekly_avg", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("week_of_month", org.apache.spark.sql.types.StringType)))

  /** Compact accreted small files in the historical table (each batch's
    * pruned anti-join append adds files to the dates it touches). Run
    * periodically, like the reference's cron cadence (README.md:27).
    */
  def compactHist(maxFilesPerPartition: Int = 8): Seq[String] =
    catalog.compactPartitioned(HistTable, "trip_date", Trip.schemaWithDate,
      maxFilesPerPartition)

  def hist: DataFrame = catalog.readWithSchema(HistTable, Trip.schemaWithDate)
  def summarized: DataFrame =
    catalog.readWithSchema(ViewTable, viewSchema)
      .select("region", "week_of_month", "weekly_avg")

  /** Programmatic ingestion status (O2): live job/stage counts. */
  def status(): String = {
    val t = spark.sparkContext.statusTracker
    val active = t.getActiveJobIds().length
    val stages = t.getActiveStageIds().length
    s"activeJobs=$active activeStages=$stages"
  }
}

/** Ad-hoc SQL execution channel (reference O3): SQL text in, DataFrame
  * out, with the engine's custom functions registered.
  */
object SqlRunner {
  def run(spark: SparkSession, sqlText: String): DataFrame = {
    GraftFunctions.register(spark)
    spark.sql(sqlText)
  }
}
