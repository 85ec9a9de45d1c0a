package graft.model

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, functions => F}

/** The trip record — the reference's single logical entity.
  *
  * Mirrors the staging/historical DDL of the reference
  * (src/sqls/create_objects.sql:2-19): six nullable string columns, with
  * `date_time` kept as text and cast per-query, and `trip_key` derived at
  * load (src/sqls/populate_postgres.sql:10-11).
  */
final case class Trip(
    region: String,
    origin_coord: String,
    destination_coord: String,
    date_time: String,
    datasource: String,
    trip_key: String)

object Trip {

  /** Fixed, DDL-declared schema — never inferred (README.md:35-43 of the
    * reference argues tables precede data). All columns nullable, matching
    * the explicit `NULL`s in the DDL.
    */
  val schema: StructType = StructType(Seq(
    StructField("region", StringType, nullable = true),
    StructField("origin_coord", StringType, nullable = true),
    StructField("destination_coord", StringType, nullable = true),
    StructField("date_time", StringType, nullable = true),
    StructField("datasource", StringType, nullable = true),
    StructField("trip_key", StringType, nullable = true)
  ))

  /** CSV input schema: the file has 5 columns (no trip_key) and its header
    * spells the 4th column `datetime` while the table column is `date_time`
    * (trips.csv:1 vs create_objects.sql:6). Postgres COPY binds by
    * *position* (populate_postgres.sql:2-7), so we declare the landing
    * schema positionally with the table's names and ignore the file header.
    */
  val csvSchema: StructType = StructType(schema.fields.dropRight(1))

  val columns: Seq[String] = schema.fieldNames.toSeq

  /** Physical historical-table schema: the logical trip columns plus the
    * derived `trip_date` partition column (SURVEY.md §7.4 scale design).
    */
  val schemaWithDate: StructType =
    schema.add(StructField("trip_date", DateType, nullable = true))

  /** Row identity used for dedup, exactly as the reference derives it:
    * CONCAT(region, origin_coord, destination_coord, date_time, datasource)
    * (populate_postgres.sql:10-11). `concat` is null-tolerant in Postgres'
    * CONCAT sense (skips NULLs), which Spark's `concat_ws("")` reproduces;
    * plain Spark `concat` would null the whole key on any null field.
    */
  def tripKey: Column =
    F.concat_ws("",
      F.col("region"), F.col("origin_coord"), F.col("destination_coord"),
      F.col("date_time"), F.col("datasource"))
}
