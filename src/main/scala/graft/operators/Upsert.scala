package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Insert-if-absent dedup upsert (reference J3 + K1): the engine's one
  * write-path operator that needs real design.
  *
  * The reference expresses this as `INSERT ... ON CONFLICT (trip_key) DO
  * NOTHING` against a unique index (populate_postgres.sql:14-28,
  * create_objects.sql:22). Spark has no indexes, so uniqueness is an
  * *invariant of this operator*: after every batch,
  * `count(distinct key) == count(*)` on the historical table.
  *
  * Decomposition (SURVEY.md §2.4):
  *   1. collapse duplicates inside the incoming batch (the unique index
  *      also collapses intra-batch dupes in the reference) — dropDuplicates
  *      on the key = partial-agg-friendly hash aggregate;
  *   2. left-anti join against existing keys — only the KEY column of hist
  *      is scanned (column pruning reaches the parquet footer), so the
  *      anti-join shuffles 32-byte keys, not rows;
  *   3. append the survivors.
  *
  * Scale notes (100 TB hist):
  *  - the anti-join build side is `hist.select(key)` — with a sha2 key
  *    that is ~3% of table bytes; AQE picks broadcast when a partition-
  *    pruned key set fits, shuffle-hash otherwise;
  *  - with a date-partitioned hist table, callers should pre-filter hist
  *    to the partitions a batch can collide with (batches are usually
  *    time-bounded), turning the full-table key scan into a pruned one;
  *  - the operator never collects to the driver and has exactly one
  *    shuffle (the join), since dropDuplicates re-uses the same hash
  *    partitioning on the key.
  */
object Upsert {

  /** Rows of `batch` whose `key` is absent from `existing`, deduped within
    * the batch. Pure transformation — callers append the result.
    */
  def newRows(batch: DataFrame, existing: DataFrame, key: String): DataFrame =
    batch
      .dropDuplicates(key)
      .join(existing.select(key), Seq(key), "left_anti")

  /** Admission batches above this many keys take the shuffle anti-join
    * of [[newRows]] instead of the broadcast probe: a backfill-sized
    * batch genuinely wants the shuffle, and its key set would no longer
    * be broadcast-sized. */
  val maxProbeKeys: Long = 4L * 1024 * 1024

  /** Probe-side upsert for micro-batches against a corpus-sized key
    * set, for callers that have not counted the batch: one count job
    * (bounded by [[maxProbeKeys]]) decides the plan of [[newRowsSized]].
    * `batch` must be cheap to evaluate twice (micro-batch sources are;
    * callers with expensive upstreams should localCheckpoint first).
    */
  def newRowsProbed(batch: DataFrame, existing: DataFrame, key: String): DataFrame = {
    val deduped = batch.dropDuplicates(key)
    newRowsSized(deduped, existing, key,
      deduped.select(key).limit(maxProbeKeys.toInt + 1).count())
  }

  /** Insert-if-absent admission of an already-deduped batch whose key
    * count `keys` the caller observed (e.g. riding the batch's
    * checkpoint as a metric): no extra count job. At most
    * [[maxProbeKeys]] keys run the probe plan, which turns the
    * anti-join into two BROADCASTS of batch-bounded key sets instead
    * of a full-table key shuffle.
    *
    * [[newRows]] plans as a shuffle join when `existing` is big — at
    * 10B registered ids that is an O(corpus) key shuffle per
    * MICRO-BATCH, the one corpus-sized cost left in the incremental
    * index path. But a micro-batch is bounded by construction
    * (`maxFilesPerTrigger`), so the probe flips the lookup around:
    *   1. broadcast the batch's keys and semi-join the existing side
    *      against them — the state side is ONLY SCANNED (key column,
    *      parquet-pruned), never shuffled; the hits are a subset of the
    *      batch's keys, so they are broadcast-sized too;
    *   2. broadcast the hits back and anti-join the batch against
    *      them.
    * Zero Exchange touches the state side (pinned in PlanSpec); the
    * two broadcasts move O(|batch|) bytes. With the state table
    * hive-partitioned by a key-hash bucket, callers additionally prune
    * the scan to the batch's bucket values before passing it in.
    * Larger batches fall back to the anti-join of [[newRows]], whose
    * in-batch dedup the caller has already done.
    */
  def newRowsSized(
      dedupedBatch: DataFrame,
      existing: DataFrame,
      key: String,
      keys: Long): DataFrame =
    if (keys > maxProbeKeys)
      dedupedBatch.join(existing.select(key), Seq(key), "left_anti")
    else {
      val hits = existing.select(key)
        .join(F.broadcast(dedupedBatch.select(key)), Seq(key), "leftsemi")
      dedupedBatch.join(F.broadcast(hits), Seq(key), "leftanti")
    }

  /** Partition-pruned upsert for time-bounded batches: when batches are
    * known to only ever collide with a bounded window of history (trips
    * arrive within hours, events within days), scanning ALL historical
    * keys is wasted I/O at 100 TB. This variant prunes the historical
    * side to the batch's `range` = [min, max] of `boundCol` (+/- nothing
    * — collisions require equal keys, and equal keys imply equal bound
    * values since the bound participates in the key), so with a
    * date-partitioned hist table the anti-join reads only the
    * overlapping partitions. A NULL bound (an unparseable date) can only
    * collide with NULL-bound history, so when the batch holds any
    * (`hasNull`) the prune also keeps `boundCol IS NULL`; a well-formed
    * batch keeps the plain range. The bounds come from the caller's
    * write of the batch (observed metrics), so pruning costs no job; a
    * batch with neither a range nor a NULL is empty and appends nothing.
    */
  def newRowsPruned(
      batch: DataFrame,
      existing: DataFrame,
      key: String,
      boundCol: String,
      range: Option[(Any, Any)],
      hasNull: Boolean): DataFrame = {
    val inRange = range.map { case (lo, hi) => F.col(boundCol).between(lo, hi) }
    val nulls = if (hasNull) Some(F.col(boundCol).isNull) else None
    (inRange ++ nulls).reduceOption(_ || _) match {
      case Some(prune) => newRows(batch, existing.filter(prune), key)
      case None => batch.dropDuplicates(key).limit(0)
    }
  }

  /** The dedup invariant the unique index guaranteed in the reference. */
  def holdsUniqueness(df: DataFrame, key: String): Boolean = {
    val row = df.agg(
      F.count(F.lit(1)).as("n"),
      F.count_distinct(F.col(key)).as("d")).head()
    row.getLong(0) == row.getLong(1)
  }
}
