package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import graft.operators.Tombstones
import graft.sources.Catalog

/** Maintenance for a generation-stamped index family (the BM25
  * postings/registry pair, the dedup corpus/bucket pair, the IVF-PQ
  * codes table): physically apply the COMMITTED tombstones and scrub
  * abandoned-attempt garbage ([[OpLog.Snapshot.garbageSeqs]]),
  * rewriting ONLY the hive partitions that hold affected rows, then
  * clear exactly the tombstone snapshot that was applied.
  *
  * Partition-local by construction: each table's affected partitions
  * are derived DRIVER-SIDE from the collected tombstone ids when the
  * table is id-hash-partitioned (its [[Stamped.hashCol]] is its id —
  * zero probe jobs), or probed (bounded by the partition count) when
  * the partition key is not a function of the id (the BM25 postings'
  * term-hash buckets); [[graft.sources.Catalog.compactPartitioned]]
  * rewrites those plus any partition over the small-file threshold —
  * untouched partitions' files are byte-identical afterwards
  * (spec-pinned). At 100 TB a maintenance pass that dropped 0.1% dead
  * rows by rewriting the whole corpus table would be the wrong plan;
  * this one's cost tracks the affected partitions.
  *
  * The tombstone clear is an ANTI-JOIN against the applied snapshot,
  * not a truncate: a tombstone appended by a concurrent delete between
  * the snapshot and the clear survives un-applied (it keeps filtering
  * logically at serve and is applied by the next compaction) instead of
  * being silently discarded — which would resurrect the deleted doc.
  *
  * Serve-transparent: the logical live-filter over the pre-compaction
  * layout and the physical layout afterwards describe the same rows.
  * Tombstones of UNCOMMITTED ops that may still replay (at the op
  * log's high-water mark) are left untouched. Assumes the single-writer
  * maintenance discipline (no compaction concurrent with another
  * compaction of the same family).
  *
  * Job shape (guide §1.2/§2.4/§2.6 — this pass used to be the single
  * biggest fixed cost inside the lifecycle twins): ONE |ops|-row
  * snapshot collect + ONE tombstone-table collect answer every
  * driver-side question (replay state, garbage seqs, per-table forced
  * partitions for id-hash tables, the applied set the clear anti-joins
  * against — the tombstone set is bounded by deletes since the last
  * compaction, the same bound that lets serve broadcast it, so the
  * driver copy costs what the broadcast build already did); the
  * per-table rewrites run CONCURRENTLY (2-3 staged jobs in flight,
  * guide §2.6, under lease delegation so fencing still applies); and
  * the closing op-log fold is computed from the already-collected
  * snapshot instead of re-scanning the log.
  */
object Generations {

  /** One table of a stamped family: hive-partitioned on `partCol`, id
    * column `idCol` (what tombstones kill by), generation column `seq`.
    * `partCol` holds the family's hash bucket of `hashCol`
    * ([[Family.partition]]); when `hashCol` is the id, compaction maps a
    * tombstone id to its partition DRIVER-SIDE ([[idHashPartition]])
    * instead of probing. `sortWithin` clusters rows inside each written
    * file (the postings' `term`, for row-group pruning). */
  final case class Stamped(
      table: String,
      partCol: String,
      schema: StructType,
      idCol: String,
      hashCol: String,
      sortWithin: Seq[String] = Nil)

  /** One index family: its op log, its flat tombstone table
    * (`tombIdCol` is the id a tombstone kills) and its stamped
    * partitioned tables. Every op and maintenance pass of the family
    * goes through this one description:
    *  - [[ensure]] materializes the tables (an op may be the first one
    *    ever run on the family) and checks the layout `stamp` on the
    *    first table when the opener knows it;
    *  - [[heal]] closes the crash windows of the stamped tables'
    *    partition swaps and the tombstone table's replace, before any
    *    probe or read;
    *  - [[scrub]] removes one crashed attempt's rows from every table;
    *  - [[op]] runs an op body through [[OpLog.span]], and [[writer]]
    *    runs one op per micro-batch of a stream;
    *  - inside an op, [[live]] reads a table's committed live rows,
    *    [[probe]] checkpoints the op's batch and [[append]] writes a
    *    generation;
    *  - [[Generations.compact]] is its maintenance pass.
    * The hash modulus every stored partition value bakes in is the one
    * the layout `stamp` records ([[stampBuckets]]), so the writer, the
    * compaction and the serve prune read one definition. A view that
    * omits a table (a delete, which writes tombstones only and reads
    * the first table) heals and scrubs only what it names. */
  final case class Family(
      cat: Catalog,
      log: OpLog,
      tombTable: String,
      tombSchema: StructType,
      tombIdCol: String,
      tables: Seq[Stamped],
      stamp: Option[String] = None) {

    /** The hash modulus of the partition values, when the stamp is known. */
    val buckets: Option[Int] = stampBuckets(stamp)

    private def modulus: Int = buckets.getOrElse(throw new IllegalStateException(
      s"family of '${tables.head.table}' was opened without its layout stamp, " +
        "which records the partition hash modulus"))

    private def stamped(table: String): Stamped = tables.find(_.table == table)
      .getOrElse(throw new IllegalArgumentException(
        s"'$table' is not a stamped table of this family view"))

    def ensure(): Unit = {
      tables.foreach(t => cat.ensurePartitionedTable(t.table))
      cat.ensureTable(tombTable, tombSchema)
      // stored partition values (and, for dedup/vector, row contents)
      // bake in the family's hash moduli: refuse a mismatched reopen
      stamp.foreach(cat.ensureLayoutMeta(tables.head.table, _))
      log.ensure()
    }

    /** Idempotent fs-metadata probes, no jobs. `lenient` for READ
      * entries: an in-flight publish's swap marker means nothing is
      * crashed — skip rather than throw SwapInFlight (write entries stay
      * strict: appending under a marker would poison the crash-heal's
      * manifest comparison). Two windows it closes, both fatal if a
      * probe ran first:
      *  - a crash inside a partitioned compaction's swap leaves a
      *    partition's only copy in the staging dir; a scrub probe would
      *    then miss the crashed seq's rows and the redo's append would
      *    recreate the partition dir, after which the next compaction's
      *    staging delete destroys other ops' committed rows;
      *  - a crash inside the tombstone table's replace leaves the live
      *    dir missing, and every read throws path-not-found. */
    def heal(lenient: Boolean = false): Unit = {
      tables.foreach(t => cat.recoverCompaction(t.table, t.partCol, lenient))
      cat.recoverReplace(tombTable, lenient)
    }

    /** Crashed-replay rollback: remove every row stamped `seq` (see
      * [[OpLog]] for why scrub-then-redo, not probe-and-skip). Each
      * stamped table rewrites only the partitions holding the seq
      * ([[Catalog.scrubSeqs]]); the flat tombstone table is rewritten
      * through the crash-safe [[Catalog.replaceTable]] only when it
      * holds the seq. */
    def scrub(seq: Long): Unit = {
      tables.foreach(t => cat.scrubSeqs(t.table, t.partCol, t.schema, Seq(seq)))
      val tombs = cat.readWithSchema(tombTable, tombSchema)
      if (!tombs.filter(F.col("seq") === seq).isEmpty)
        cat.replaceTable(tombTable, tombs.filter(F.col("seq") =!= seq))
    }

    /** One exactly-once op of this family: heal and ensure, then
      * [[OpLog.span]]. `body` gets the op's snapshot and seq and returns
      * the commit values. */
    def op(seq: Option[Long])(body: (OpLog.Snapshot, Long) => Seq[Long]): Unit =
      log.span(seq, { heal(); ensure() }, scrub)(body)

    /** A continuous op stream: micro-batch `id` runs `batchOp` at seq
      * `base + id`, where `base` is DERIVED from the op log's high-water
      * mark at writer construction — so a restarted stream (from its
      * checkpoint or from scratch) can never collide with a committed
      * op. A caller-supplied `baseSeq` is validated loudly against the
      * same mark instead of silently no-opping every batch. Replayed
      * in-flight batches run under the new base's seq and converge via
      * committed-only reads. */
    def writer(stream: DataFrame, checkpoint: String, baseSeq: Option[Long])(
        batchOp: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
      heal()
      ensure()
      val base = baseSeq.map(log.requireFreshBase).getOrElse(log.nextBaseSeq)
      stream.writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, id: Long) => batchOp(batch, base + id) }
    }

    /** The LIVE rows of `table` as of `snap`'s committed ops: committed
      * generations minus committed tombstones. Uncommitted (crashed /
      * in-flight) rows never influence admission, victim selection or
      * serving — the property that makes replay-under-a-new-seq
      * converge. Visibility is literal seq filters pushed into both
      * parquet scans. `keep` narrows the table's rows before the
      * tombstone join (a serve's query-term semi-join, which the
      * optimizer does not push below that join itself). */
    def live(snap: OpLog.Snapshot, table: String,
        keep: DataFrame => DataFrame = identity): DataFrame = {
      val t = stamped(table)
      val tombs = snap.visible(cat.readWithSchema(tombTable, tombSchema))
      Tombstones.live(snap.visible(keep(cat.readWithSchema(t.table, t.schema))),
        if (t.idCol == tombIdCol) tombs else tombs.withColumnRenamed(tombIdCol, t.idCol),
        t.idCol)
    }

    /** `table`'s partition value, the one partition expression of every
      * stamped table: `pmod(xxhash64(hashCol), modulus)` as an int. */
    def partition(table: String): Column =
      F.pmod(F.xxhash64(F.col(stamped(table).hashCol)), F.lit(modulus.toLong))
        .cast("int")

    /** Driver-side twin of [[partition]] for one value of `table`'s
      * hashed column. */
    def partitionOf(table: String, value: Any): Int = {
      val t = stamped(table)
      hashPartition(modulus, CatalystTypeConverters.convertToCatalyst(value),
        t.schema(t.hashCol).dataType)
    }

    /** Checkpoint an op's deduplicated batch (`deduped` carries
      * `table`'s hashed column). Which of `table`'s partitions the batch
      * touches (≤ the modulus) and its row count `n` — plus `extra`
      * aggregates — RIDE the checkpoint materialization as observed
      * metrics instead of costing their own jobs; the observe sits in
      * the checkpoint action's result stage, so it counts exactly once
      * under task retries. */
    def probe(table: String, deduped: DataFrame, extra: Column*): Probe = {
      val obs = org.apache.spark.sql.Observation()
      val rows = deduped
        .observe(obs, F.collect_set(partition(table)).as("parts"),
          (F.count(F.lit(1)).as("n") +: extra): _*)
        .localCheckpoint() // reused by the op's reads and appends
      val observed = obs.get
      Probe(rows, F.col(stamped(table).partCol)
        .isin(observed("parts").asInstanceOf[Seq[Any]]: _*), observed)
    }

    /** Append `rows` to `table` as generation `seq`, partitioned by
      * [[partition]]. The rows are clustered by partition into the
      * session's shuffle width capped at the modulus (hashing by the
      * partition column alone can never fill more tasks), so each
      * partition value lands in one file per op. */
    def append(table: String, rows: DataFrame, seq: Long): Unit = {
      val t = stamped(table)
      val width = math.min(
        cat.spark.conf.get("spark.sql.shuffle.partitions").toInt, modulus)
      cat.appendPartitioned(t.table,
        rows.withColumn("seq", F.lit(seq)).withColumn(t.partCol, partition(table)),
        Seq(t.partCol), clusterInto = Some(width), sortWithin = t.sortWithin)
    }

    /** Delete ids as one op: tombstone the COMMITTED LIVE generations of
      * `ids` (a frame carrying `tombIdCol`) in the first table. One
      * tombstone row kills the id's generation in every table of the
      * family, since one op wrote them all under one seq. Ids not
      * currently live are ignored; the commit carries the tombstone
      * count. Omit `seq` to derive the next one; pass the same seq to
      * replay a crashed delete. */
    def delete(ids: DataFrame, seq: Option[Long]): Unit = op(seq) { (snap, sv) =>
      // the commit count rides the victim checkpoint as an observed
      // metric (result-stage observe: exactly-once) — one fewer job
      val countObs = org.apache.spark.sql.Observation()
      val victims = live(snap, tables.head.table)
        .join(ids.select(F.col(tombIdCol).cast("long").as(tombIdCol))
          .dropDuplicates(tombIdCol), Seq(tombIdCol), "leftsemi")
        .select(F.col(tombIdCol), F.lit(sv).as("seq"))
        .observe(countObs, F.count(F.lit(1)).as("n"))
        .localCheckpoint() // referenced by the append below
      cat.append(tombTable, victims)
      Seq(countObs.get("n").asInstanceOf[Long])
    }
  }

  /** An op batch checkpointed by [[Family.probe]]: `prune` keeps the
    * probed table's rows in the partitions the batch touches, and
    * `observed` holds the batch's row count `n` and the extra
    * aggregates. */
  final case class Probe(rows: DataFrame, prune: Column, observed: Map[String, Any]) {
    def apply(metric: String): Long = observed(metric).asInstanceOf[Long]
  }

  /** The driver-side twin of [[Family.partition]] over one catalyst value
    * of `dataType` — same XXH64 seed (42), same sign-safe modulus
    * (spec-pinned against what [[Family.append]] writes). */
  def hashPartition(buckets: Int, value: Any, dataType: DataType): Int = {
    val h = XxHash64Function.hash(value, dataType, 42L)
    val b = buckets.toLong
    (((h % b) + b) % b).toInt
  }

  /** [[hashPartition]] of a long id, as its stored partition value. */
  def idHashPartition(buckets: Int): Long => String =
    id => hashPartition(buckets, id, LongType).toString

  /** Parse the hash modulus out of a family layout stamp
    * (`... buckets=N ...` or `... stateBuckets=N ...`). None when the
    * stamp is absent or unparseable: the family can then neither append
    * nor map ids to partitions, and compaction probes instead. */
  private def stampBuckets(stamp: Option[String]): Option[Int] =
    stamp.flatMap("""[bB]uckets=(\d+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toInt)

  def compact(
      family: Family,
      maxFilesPerPartition: Int,
      checkpointLog: Boolean): Unit = {
    import family._
    // one lease per index family (scoped by its op log) covers the
    // whole multi-table window — the documented single-writer
    // maintenance discipline, enforced instead of assumed
    cat.withMaintenanceLease(log.table) {
    heal()
    // first-op safety: compaction may be the FIRST operation ever run on
    // this family (e.g. scheduled maintenance firing before any delete has
    // created the tombstone table) — reading a never-created table would
    // throw PATH_NOT_FOUND, so materialize the empty tables up front
    ensure()
    // one |ops|-row collect answers garbage seqs AND tombstone
    // visibility (single-writer lease; see OpLog.Snapshot)
    val snap = log.snapshot()
    val garbage = snap.garbageSeqs
    // ONE collect of the tombstone table (bounded by deletes since the
    // last compaction) replaces the old localCheckpoint + isEmpty jobs
    // AND feeds the driver-side forced-partition derivation below. The
    // committed subset is the applied snapshot; its local-relation form
    // broadcasts into every rewrite's live-filter with zero re-scans.
    val tombSeqIdx = tombSchema.fieldIndex("seq")
    val tombIdIdx = tombSchema.fieldIndex(tombIdCol)
    val committedRows = cat.readWithSchema(tombTable, tombSchema).collect()
      .filter(r => snap.seqVisible(r.getLong(tombSeqIdx)))
    val haveTombs = committedRows.nonEmpty
    val committedTombs = cat.spark.createDataFrame(
      java.util.Arrays.asList(committedRows: _*), tombSchema)
    // per-table work: probe (only for tables not hashed by id) + the
    // staged partition rewrite. Independent across tables — run them
    // CONCURRENTLY (guide §2.6) under lease delegation so the swap
    // points' fencing still sees the family lease from worker threads.
    def compactOne(t: Stamped): Unit = {
      cat.spark.sparkContext
        .setJobDescription(s"compact ${t.table} [${log.table}]")
      val tombsAsId = committedTombs.withColumnRenamed(tombIdCol, t.idCol)
      def liveTransform(df: DataFrame): DataFrame = {
        val l =
          if (haveTombs) Tombstones.live(df, tombsAsId, t.idCol) else df
        if (garbage.isEmpty) l else l.filter(!F.col("seq").isin(garbage: _*))
      }
      // partitions holding affected rows. Id-hash tables derive them
      // driver-side from the collected tombstone ids (tombstones are
      // created from LIVE rows, so the id's partition holds its dead
      // generations; a redundant force merely rewrites a partition the
      // transform leaves row-identical). Garbage-seq rows can land in
      // any partition of the batch that crashed — when any exist, a
      // pushed-filter probe names their partitions; tables without an
      // id→partition map keep the full doomed-probe join.
      val partOfId =
        if (t.hashCol == t.idCol) buckets.map(idHashPartition) else None
      val forced: Seq[String] = partOfId match {
        case Some(f) =>
          val fromTombs: Seq[String] =
            if (!haveTombs) Nil
            else committedRows.map(r => f(r.getLong(tombIdIdx))).distinct.toSeq
          val fromGarbage: Seq[String] =
            if (garbage.isEmpty) Nil
            else cat.readWithSchema(t.table, t.schema)
              .filter(F.col("seq").isin(garbage: _*))
              .select(t.partCol).distinct().collect()
              .map(_.get(0).toString).toSeq
          (fromTombs ++ fromGarbage).distinct
        case None =>
          if (!haveTombs && garbage.isEmpty) Nil
          else {
            val df = cat.readWithSchema(t.table, t.schema)
            val ghost =
              if (!haveTombs) df.limit(0)
              else df
                .join(F.broadcast(Tombstones.lastSeq(tombsAsId, t.idCol)),
                  Seq(t.idCol))
                .filter(F.col("seq") < F.col("__tomb_seq")).drop("__tomb_seq")
            val doomed =
              if (garbage.isEmpty) ghost
              else ghost.unionByName(df.filter(F.col("seq").isin(garbage: _*)))
            doomed.select(t.partCol).distinct().collect()
              .map(_.get(0).toString).toSeq
          }
      }
      cat.compactPartitioned(t.table, t.partCol, t.schema,
        maxFilesPerPartition = maxFilesPerPartition,
        transform =
          if (haveTombs || garbage.nonEmpty) liveTransform _ else identity,
        forceValues = forced)
    }
    if (tables.size <= 1) tables.foreach(compactOne)
    else cat.runDelegated(tables.map(t => () => compactOne(t)))
    if (haveTombs || garbage.nonEmpty) {
      // anti-join the RAW table against the applied LOCAL snapshot (not
      // a driver-computed keep set): a tombstone appended between our
      // collect and this rewrite — impossible under the family lease,
      // but cheap to stay correct about under a TTL-overrun two-writer
      // window — survives un-applied instead of resurrecting its doc
      val keep = cat.readWithSchema(tombTable, tombSchema).join(
        committedTombs.select(tombIdCol, "seq"),
        Seq(tombIdCol, "seq"), "leftanti")
      cat.replaceTable(tombTable,
        if (garbage.isEmpty) keep
        else keep.filter(!F.col("seq").isin(garbage: _*)))
    }
    // last: fold the op log itself (two one-row files per op otherwise
    // accrete forever — the log is read several times per op, so its
    // FILE count is a per-batch cost). Abandoned-attempt rows are KEPT
    // (one row each, bounded by crash count): this pass only scrubbed
    // the Stamped tables, and a family may hold garbage-seq rows in
    // sidecar tables it owns privately (the vector index's model
    // table) — dropping the attempt row would flip those rows to
    // never-seen = committed-by-convention, resurrecting a crashed
    // rebuild. A crash inside the fold heals at the next log access.
    // The fold is computed from the snapshot already collected above
    // (nothing appended to the log since — this pass writes no ops), so
    // it costs one local-relation write instead of a log re-scan.
    // checkpointLog additionally folds the committed HISTORY into one
    // summed summary row ([[OpLog.checkpoint]]) — opt-in, for
    // long-lived tenants whose serve-side |ops|-row stats aggregate has
    // grown past noise; it trades per-op history for the loud staleness
    // guard on replays ([[OpLog.Snapshot.replayState]]).
    if (checkpointLog) log.checkpoint(snap)
    else log.compact(snap)
    }
  }
}
