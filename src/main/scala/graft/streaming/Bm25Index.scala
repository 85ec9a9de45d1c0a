package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.operators.{Retrieval, Upsert}
import graft.sources.Catalog

/** Incrementally-maintained BM25 inverted index with full
  * DELETE/REPLACE semantics — the production-truthful form of the
  * append-only q_bm25_stream twin. The reference's own write path is
  * replace-semantics (`ON CONFLICT` upsert, populate_postgres.sql:14-28);
  * a corpus index must mirror it: documents get re-crawled, taken down,
  * and replaced constantly, and an index that can only append keeps
  * scoring ghosts forever.
  *
  * Tables (all under one [[graft.sources.Catalog]] warehouse):
  *  - `postings(term, doc_id, tf, dl, seq)` hive-partitioned by `bk`
  *    (term-hash bucket): the index in production layout. `dl` rides
  *    INLINE on every posting ([[Retrieval.postingsWithDl]]) so serving
  *    never joins a corpus-sized sidecar; `seq` is the generation stamp
  *    tombstones cut against.
  *  - `doc_lengths(doc_id, dl, seq)` hive-partitioned by `rk` (id-hash
  *    bucket): the document REGISTRY — admission authority for
  *    insert-if-absent and the delete path's dl lookup. Never read at
  *    serve time. The partitioning keeps maintenance rewrites (scrub,
  *    tombstone application) local to the partitions actually holding
  *    affected rows, the same discipline as the postings table.
  *  - `tombstones(doc_id, seq)`: logical deletes
  *    ([[graft.operators.Tombstones]]); anti-joined at serve, applied
  *    physically and cleared at [[compact]]. Flat — bounded by deletes
  *    since the last compaction.
  *  - `ops(seq, n_docs, total_dl)`: the [[OpLog]]. The commit row
  *    carries the op's ADDITIVE global-stats contribution (ingests
  *    +n/+Σdl, deletes −n/−Σdl), so the serve's global (n_docs,
  *    total_dl) is a sum over this |ops|-row table instead of an
  *    O(corpus) registry scan.
  *
  * Exactly-once and replay: every op runs through the family's
  * [[OpLog.span]] (attempt marker → scrub-then-redo → atomic
  * commit-with-stats; see [[OpLog]] for why probe-and-skip is unsound
  * under partial multi-file append commits).
  * All reads — admission, victim selection, serving — are COMMITTED
  * generations only, so a crashed half-written op is invisible
  * everywhere until its replay commits. That also makes seq assignment
  * self-managing: [[writer]] derives its base from the op log's
  * high-water mark (one |ops|-row probe), so a restarted stream — from
  * its checkpoint or from scratch — can never collide with a committed
  * op (which would silently drop the batch) nor be confused by an
  * abandoned attempt's partial rows. Abandoned-attempt garbage is
  * scrubbed at [[compact]].
  *
  * Scale shape of an ingest: admission is the broadcast-probe upsert
  * ([[graft.operators.Upsert.newRowsSized]]) against the registry
  * PRUNED to the batch's id-hash partitions — the state side is
  * scanned (one pruned key column), never shuffled; the op's appends
  * are batch-sized. A serve: bucket-partition pruning (the query
  * terms' `bk` values) → parquet row-group `term IN` pruning → a
  * df-bounded pivot, with global stats from the |ops|-row log and the
  * tombstone anti-join broadcast (bounded by deletes since last
  * compaction). Nothing corpus-sized is scanned or shuffled on either
  * path.
  */
final class Bm25Index(
    cat: Catalog,
    buckets: Int = 64,
    k1: Double = 1.2,
    b: Double = 0.75) {
  import Bm25Index._

  // bk/rk partition values bake in `buckets` (hash(x) % buckets):
  // reopening an index with a different modulus would silently miss
  // every stored row in the pruned admission/serve scans — the family's
  // layout stamp refuses a mismatch loudly (LayoutMismatch).
  // Row-shaping parameter audit: `buckets` is the only constructor
  // knob baked into stored rows. Tokenization (Retrieval.postings'
  // split regex) shapes stored terms but is CODE, not a parameter —
  // the literal "v2" is its version; any tokenizer change must bump
  // it. k1/b are serve-time only: stored rows carry raw tf/dl, so
  // rescoring under different k1/b is legitimate.
  // doc_lengths is id-hash-partitioned (rk = hash(doc_id) % buckets),
  // so compaction derives its affected partitions driver-side from the
  // tombstone ids; postings' bk is a TERM hash and keeps the probe scan.
  // Postings files are clustered by term for row-group `term IN` pruning.
  private val family = Generations.Family(cat,
    new OpLog(cat, "ops", statsPayload), "tombstones", tombSchema, "doc_id",
    Seq(Generations.Stamped("postings", "bk", postSchema, "doc_id", "term",
        sortWithin = Seq("term")),
      Generations.Stamped("doc_lengths", "rk", dlSchema, "doc_id", "doc_id")),
    stamp = Some(s"bm25 v2 buckets=$buckets"))
  private def log = family.log

  def ensure(): Unit = family.ensure()

  /** The batch's (doc_id, text), one row per id: duplicate ids within
    * one batch resolve to the lexicographically greatest text — an
    * arbitrary but DETERMINISTIC winner (dropDuplicates keeps whichever
    * row a partition scan meets first, which need not repeat across a
    * crash replay). */
  private def dedupe(batch: DataFrame): DataFrame = batch
    .select(F.col("doc_id").cast("long").as("doc_id"), F.col("text"))
    .groupBy("doc_id").agg(F.max("text").as("text"))

  /** Both appends of a generation: the postings and the registry. */
  private def appendDocs(docs: DataFrame, seq: Long): Unit = {
    family.append("postings", Retrieval.postingsWithDl(docs), seq)
    family.append("doc_lengths", Retrieval.docLengths(docs), seq)
  }

  /** Ingest one batch of (doc_id, text) as op `seq` — the foreachBatch
    * body. Insert-if-absent against the LIVE registry: an id currently
    * live is dropped (the reference's DO NOTHING arm); a deleted id
    * re-ingests as a fresh generation (the replace arm). Exactly-once
    * under replay (see class doc).
    */
  def ingest(batch: DataFrame, seq: Long): Unit = family.op(Some(seq)) { (snap, _) =>
    // both admission questions — the batch's id-hash partition values
    // (≤ `buckets` ints — prunes the registry scan) and its key count
    // (guards the broadcast probe) — ride the batch checkpoint
    val probe = family.probe("doc_lengths", dedupe(batch))
    val pruned = family.live(snap, "doc_lengths").filter(probe.prune).select("doc_id")
    // the commit stats RIDE the admission checkpoint as observed
    // metrics (the observe node sits in the checkpoint action's result
    // stage — exactly-once under task retries, unlike an observe below
    // a write's repartition exchange) — the old 1-row agg job
    // re-tokenized `admitted` a third time
    val statsObs = org.apache.spark.sql.Observation()
    val admitted = Upsert.newRowsSized(probe.rows, pruned, "doc_id", probe("n"))
      .observe(statsObs,
        F.count(F.lit(1)).as("n_docs"),
        F.coalesce(F.sum(Retrieval.dlOf(F.col("text"))), F.lit(0L))
          .as("total_dl"))
      .localCheckpoint() // referenced by both appends below
    appendDocs(admitted, seq)
    val st = statsObs.get
    Seq(st("n_docs").asInstanceOf[Long], st("total_dl").asInstanceOf[Long])
  }

  /** Delete documents by id as op `seq`: tombstone the LIVE generations
    * and count them out of the additive stats (the commit row carries
    * the NEGATIVE contribution). Ids not currently live are ignored
    * (deleting twice, or deleting a never-ingested id, is a no-op).
    * Exactly-once under replay; pass [[nextSeq]] when the caller does
    * not manage its own sequence.
    */
  def delete(ids: DataFrame, seq: Long): Unit = family.op(Some(seq)) { (snap, _) =>
    // the rk probe rides the id-set checkpoint; the registry scan is
    // pruned to the delete set's id-hash partitions (≤ `buckets`
    // values); join strategy is left to AQE — a takedown batch is
    // usually broadcast-sized but need not be
    val probe = family.probe("doc_lengths",
      ids.select(F.col("doc_id").cast("long").as("doc_id")).dropDuplicates("doc_id"))
    // the NEGATIVE commit stats ride the victim checkpoint
    val statsObs = org.apache.spark.sql.Observation()
    val victims = family.live(snap, "doc_lengths").filter(probe.prune)
      .join(probe.rows, Seq("doc_id"), "leftsemi")
      .observe(statsObs,
        F.count(F.lit(1)).as("n"),
        F.coalesce(F.sum("dl"), F.lit(0L)).as("sdl"))
      .localCheckpoint() // referenced by the append below
    cat.append("tombstones",
      victims.select(F.col("doc_id"), F.lit(seq).as("seq")))
    val st = statsObs.get
    Seq(-st("n").asInstanceOf[Long], -st("sdl").asInstanceOf[Long])
  }

  /** The next free op seq — one |ops|-row collect. */
  def nextSeq: Long = { family.heal(); log.nextBaseSeq }

  /** REPLACE one batch of (doc_id, text) as ONE exactly-once op — the
    * reference's `ON CONFLICT DO UPDATE` arm in a single statement.
    * Every batch doc lands as generation `seq`; any batch id currently
    * live is simultaneously tombstoned AT `seq`, which kills its older
    * generations but not the op's own rows (tombstones kill strictly
    * OLDER generations — [[graft.operators.Tombstones]]). One attempt
    * marker, one commit row carrying the NET additive stats delta
    * (+new docs +new dl −killed docs −killed dl), so the
    * delete+re-ingest choreography the del twin runs as TWO ops
    * collapses to one: half the op-log traffic, no window where the
    * old generation is gone and the new one not yet committed — a
    * crashed replace is invisible in FULL, not per-half. Replays
    * converge by the standard scrub-then-redo.
    */
  def replace(batch: DataFrame, seq: Long): Unit = family.op(Some(seq)) { (snap, _) =>
    // the rk probe and the ADDED-side stats ride the batch checkpoint;
    // the KILLED-side stats ride the victim checkpoint — the old form
    // paid three extra jobs (probe, added agg, killed agg via the
    // commit's 1-row head)
    val add = family.probe("doc_lengths", dedupe(batch),
      F.coalesce(F.sum(Retrieval.dlOf(F.col("text"))), F.lit(0L)).as("adl"))
    // the batch ids' currently-live generations: these die at `seq`
    // (their dl leaves the global stats); the probe shape is the same
    // zero-state-shuffle admission plan, semi instead of anti
    val killObs = org.apache.spark.sql.Observation()
    val victims = family.live(snap, "doc_lengths").filter(add.prune)
      .join(F.broadcast(add.rows.select("doc_id")), Seq("doc_id"), "leftsemi")
      .observe(killObs,
        F.count(F.lit(1)).as("kn"),
        F.coalesce(F.sum("dl"), F.lit(0L)).as("kdl"))
      .localCheckpoint() // referenced by tombstone append
    appendDocs(add.rows, seq)
    cat.append("tombstones",
      victims.select(F.col("doc_id"), F.lit(seq).as("seq")))
    // ONE commit row carries the net delta: adds minus kills
    val kill = killObs.get
    Seq(add("n") - kill("kn").asInstanceOf[Long],
      add("adl") - kill("kdl").asInstanceOf[Long])
  }

  /** A continuous ingestion stream ([[Generations.Family.writer]]):
    * each micro-batch runs [[ingest]] (or, with `replaceMode`,
    * [[replace]] — the RECRAWL stream: a re-fetched page overwrites its
    * live generation instead of being dropped as already-present) at
    * `base + batchId`, with `base` derived from (or `baseSeq` validated
    * against) the op log's high-water mark.
    *
    * Replace-mode tombstone cadence: every batch tombstones its live
    * victims, so a recrawl-heavy stream accretes tombstones at the
    * recrawl rate until [[compact]] applies and clears them —
    * [[graft.operators.Tombstones.live]] degrades from broadcast to a
    * shuffle join past its size guard, so an overdue compaction costs
    * throughput, never correctness. Compact on a cadence proportional
    * to the replace rate. */
  def writer(
      docs: DataFrame,
      checkpoint: String,
      baseSeq: Option[Long] = None,
      replaceMode: Boolean = false): DataStreamWriter[Row] =
    family.writer(docs, checkpoint, baseSeq) { (batch, seq) =>
      if (replaceMode) replace(batch, seq) else ingest(batch, seq)
    }

  /** Top-k BM25 over the CURRENT live corpus, served purely from the
    * index — bit-equal to [[Retrieval.bm25TopK]] over the equivalent
    * batch corpus (same exact-integer inputs, same
    * [[Retrieval.bm25Score]] Column tree). Reads committed generations
    * only, and SNAPSHOT-ISOLATED across the whole call: one pinned
    * [[OpLog.snapshot]] answers visibility (postings AND tombstones)
    * and the global (n_docs, total_dl) sum, so a commit landing
    * mid-serve can never skew this read's scoring constant against its
    * document set — every serve scores exactly one committed prefix
    * (spec-pinned at score granularity in SwapConsistencySpec). */
  def serve(terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "serve needs at least one query term")
    family.heal(lenient = true)
    val snap = log.snapshot()
    // the query terms' bucket ids — the writer's hash, computed
    // driver-side, so pruning can never disagree with placement
    val bks = terms.map(family.partitionOf("postings", _)).distinct
    val hits = family.live(snap, "postings",
      _.filter(F.col("bk").isin(bks: _*) && F.col("term").isin(terms: _*)))
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      F.coalesce(F.sum(F.when(F.col("term") === t, F.col("tf"))), F.lit(0L))
        .as(s"tf$i")
    }
    val base = hits.groupBy("doc_id")
      .agg(tfAggs.head, (tfAggs.tail :+ F.max("dl").as("dl")): _*)
      .select(F.col("doc_id") +: F.col("dl") +:
        terms.indices.map(i => F.col(s"tf$i")): _*)
    val dfAggs = Retrieval.termDfAggs(terms)
    val dfs = hits.agg(dfAggs.head, dfAggs.tail: _*)
    // global stats = the additive op-log sum over the SAME pinned
    // snapshot that decided visibility (attempt rows are null and
    // contribute nothing) — a local relation, not a second table scan
    val global = snap.rows
      .agg(F.coalesce(F.sum("n_docs"), F.lit(0L)).as("n_docs"),
        F.coalesce(F.sum("total_dl"), F.lit(0L)).as("total_dl"))
      .crossJoin(dfs) // 1-row × 1-row scalar spine
    Retrieval.bm25Score(base, global, terms.size, k1, b, k)
  }

  /** Top-k BM25 for a BATCH of queries — production retrieval serves
    * query batches, not one literal term set. `queries` is a bounded
    * (query_id, term) frame; the pruned postings are scanned ONCE for
    * all queries and every query-sized set broadcasts:
    *  1. partition-prune the postings scan to the batch's term-hash
    *     buckets (one tiny collect, ≤ `buckets` values) and semi-join
    *     it against the broadcast term set — the index side is never
    *     shuffled;
    *  2. per-term df is a |terms|-row aggregate of those live rows,
    *     broadcast back; global (n_docs, total_dl) is the |ops|-row
    *     log sum;
    *  3. each (query term × live posting) hit carries its BM25
    *     contribution — the identical IEEE expression tree as
    *     [[Retrieval.bm25Score]] — and a doc's score folds the
    *     contributions in ASCENDING TERM ORDER (array_sort + aggregate,
    *     a deterministic left fold), so the sum never reassociates
    *     across partitions and stays bit-reproducible;
    *  4. rank is a per-query window (score desc, doc_id), top-k each.
    * Returns (query_id, doc_id, score, rank).
    */
  def serveBatch(queries: DataFrame, k: Int = 20): DataFrame = {
    family.heal(lenient = true)
    // one pinned committed-prefix snapshot for the whole batch: every
    // query in the batch scores against the SAME committed state
    // (visibility and global stats can never mix adjacent commits)
    val snap = log.snapshot()
    val q = queries
      .select(F.col("query_id").cast("long").as("query_id"), F.col("term"))
      .dropDuplicates("query_id", "term")
      .localCheckpoint() // reused: bk probe + term set + hit join
    val bks = q.select(family.partition("postings")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val qterms = q.select("term").distinct()
    val live = family.live(snap, "postings", _.filter(F.col("bk").isin(bks: _*))
      .join(F.broadcast(qterms), Seq("term"), "leftsemi"))
    // one live row per (term, doc): df = per-term row count
    val dfs = live.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    val global = snap.rows
      .agg(F.coalesce(F.sum("n_docs"), F.lit(0L)).as("n_docs"),
        F.coalesce(F.sum("total_dl"), F.lit(0L)).as("total_dl"))
    val hits = live.join(F.broadcast(q), Seq("term"))
      .join(F.broadcast(dfs), Seq("term"))
      .crossJoin(F.broadcast(global))
    val n = F.col("n_docs")
    val avgdl = F.col("total_dl").cast("double") / n
    val idf = (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    val contrib = idf * (F.col("tf") * F.lit(k1 + 1)) /
      (F.col("tf") + F.lit(k1) *
        (F.lit(1 - b) + F.lit(b) * (F.col("dl") / avgdl)))
    val scored = hits
      .select(F.col("query_id"), F.col("doc_id"), F.col("term"),
        contrib.as("c"))
      .groupBy("query_id", "doc_id")
      .agg(F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("term"), F.col("c")))),
        F.lit(0.0), (acc, x) => acc + x("c")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("score").desc, F.col("doc_id"))
    scored
      .withColumn("rank", F.row_number().over(w).cast("long"))
      .filter(F.col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Maintenance: physically apply the COMMITTED tombstones and scrub
    * abandoned-attempt garbage (rewriting exactly the partitions
    * holding affected rows, plus any partition over the small-file
    * threshold), then clear exactly the tombstones that were applied.
    * On a clean index all of that degenerates to pure small-file
    * compaction — no no-op table rewrites. Serve-transparent by
    * construction: the logical live-filter over the pre-compaction
    * layout and the physical layout afterwards describe the same rows.
    * Tombstones of UNCOMMITTED ops that may still replay (at the op
    * log's high-water mark) are left untouched.
    */
  def compact(
      maxFilesPerPartition: Int = 2,
      checkpointOps: Boolean = false): Unit =
    Generations.compact(family, maxFilesPerPartition, checkpointLog = checkpointOps)
}

object Bm25Index {
  val postSchema: StructType = StructType.fromDDL(
    "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, seq BIGINT, bk INT")
  val dlSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, dl BIGINT, seq BIGINT, rk INT")
  val tombSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, seq BIGINT")
  val statsPayload: StructType = StructType.fromDDL(
    "n_docs BIGINT, total_dl BIGINT")
  val opsSchema: StructType = StructType.fromDDL(
    "seq BIGINT, n_docs BIGINT, total_dl BIGINT")
}
