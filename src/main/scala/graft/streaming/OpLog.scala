package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.Catalog

/** The exactly-once operation log shared by every incrementally
  * maintained index (BM25 postings, the dedup corpus/bucket pair, the
  * IVF-PQ codes table) — the generalized form of the protocol the BM25
  * index introduced, factored out so all three families replay
  * identically instead of each hand-rolling a weaker probe-and-skip.
  *
  * One |ops|-row table `(seq, <payload...>)` carries three duties:
  *  - an ATTEMPT row `(seq, null, ...)` lands BEFORE an op's first data
  *    append, so a replay can tell "nothing was ever written" (no row —
  *    skip all scrub probes) from "a prior attempt may have written"
  *    (row present — scrub every data row carrying `seq`, then redo);
  *  - the COMMIT row carries the op's payload (additive stats for BM25,
  *    an admitted-row count for the others) with a NON-NULL first
  *    payload column — committing the op and recording its contribution
  *    is ONE atomic append, so there is no window where marker and
  *    stats disagree;
  *  - the committed `seq` set is the READ authority: admission, victim
  *    selection, and serving restrict data tables through one
  *    [[snapshot]] (one |ops|-row collect, literal seq filters), so a
  *    crashed half-written op is INVISIBLE everywhere until its replay
  *    commits it. That committed-only discipline is what makes seq
  *    assignment free: a replayed batch may run under a brand-new seq
  *    (a restarted stream with a derived base) and still converge,
  *    because the crashed attempt's partial rows never influenced any
  *    decision.
  *
  * [[snapshot]] is the log's one read path: replay flags, visibility,
  * garbage seqs, the high-water marks and both maintenance folds are
  * all answered from its single collect.
  *
  * Scrub-then-redo rather than probe-and-skip: a multi-file append job
  * is not atomic under a crash during job commit (a subset of task
  * files can land), so presence of SOME of an op's rows proves nothing
  * about the rest — skipping on a partial append silently loses the
  * missing rows forever. Scrubbing is idempotent under repeated
  * crashes.
  *
  * Abandoned attempts (a stream that crashed mid-op and was restarted
  * with a fresh derived base, so the old seq never replays) leave
  * invisible garbage rows in the data tables;
  * [[OpLog.Snapshot.garbageSeqs]] names them — every attempt with no
  * commit below the committed high-water mark, safe to scrub at
  * compaction under the single-writer maintenance discipline (ops
  * execute in seq order, so a LIVE op's seq is always above every
  * committed seq).
  */
final class OpLog(
    cat: Catalog,
    val table: String,
    payload: StructType) {

  // commit and attempt rows are written driver-side as BIGINT columns,
  // and checkpoint sums every payload column
  require(payload.fields.nonEmpty && payload.fields.forall(_.dataType == LongType),
    s"op-log payloads are all-BIGINT; got ${payload.simpleString}")

  val schema: StructType = StructType(
    StructField("seq", LongType, nullable = false) +:
      payload.fields.map(_.copy(nullable = true)))

  private val marker = payload.fields.head.name

  /** The log is replace-managed (see [[compact]]), so EVERY entry —
    * read, append, even existence-ensure — heals a crashed rewrite
    * first. The ensure case is load-bearing: `ensureTable` on a
    * mid-replace table (live dir moved aside, swap not yet in) would
    * create a fresh EMPTY live dir, after which the heal sees a live
    * table and discards the moved-aside rows as a dead stage —
    * silently zeroing the log. Idempotent fs-metadata probes, no jobs. */
  private def heal(lenient: Boolean = false): Unit =
    cat.recoverReplace(table, lenient)

  def ensure(): Unit = { heal(); cat.ensureTable(table, schema) }

  /** Run `body` as THE single writer of this log's family — the
    * "single-writer discipline" every op doc assumes, turned from a
    * convention into a loud contract. Scope = the ops table itself,
    * the SAME scope every family maintenance pass takes
    * ([[Generations.compact]], the index rebalance), so both race
    * classes refuse up front with
    * [[graft.sources.Catalog.MaintenanceLeaseHeld]] instead of
    * interleaving:
    *  - writer-vs-writer: two concurrent writers both derive the same
    *    base from [[nextBaseSeq]] and race [[beginAttempt]] on one
    *    seq — each believing the other's rows are its own replay;
    *  - writer-vs-maintenance: a commit row appended between a log
    *    rewrite's staged read and its live-dir swap
    *    ([[compact]]/[[checkpoint]] via replaceTable) is silently
    *    discarded, leaving the op permanently open and its data rows
    *    scheduled for garbage-scrub.
    * Re-entrant per scope within one Catalog instance (depth-counted),
    * so family helpers already holding the family lease nest freely;
    * the exclusion is per-process/per-Catalog — the deployment shape
    * the one-stream-per-family contract already implies.
    *
    * FENCED past the TTL: a span that outruns the catalog's `ttlMs`
    * loses its lease to the next contender's atomic break — from that
    * instant the
    * commit point ([[commitValues]], the replace/compact
    * swaps) refuse with [[graft.sources.Catalog.WriterFenced]] instead
    * of publishing over the successor; the fenced op's data rows stay
    * uncommitted garbage and are scrubbed at compaction. Size the TTL
    * above the longest expected op. */
  def withWriter[T](body: => T): T = cat.withMaintenanceLease(table)(body)

  // READ entries (rows, snapshot) heal leniently — an in-flight
  // publish's marker means nothing is crashed; skipping keeps a sibling
  // thread's serve from throwing SwapInFlight (or, pre-r17, from
  // deleting the publisher's in-flight staging). Write entries
  // (ensure/beginAttempt/commitValues) stay strict.
  /** The stored log rows, re-scanned by every action — for inspection
    * only; ops, serves and maintenance read through [[snapshot]]. */
  def rows: DataFrame =
    { heal(lenient = true); cat.readWithSchema(table, schema) }

  /** Pin ONE committed-prefix view of the log — the log's only read
    * path and the snapshot-isolation primitive. The log is read exactly
    * once (one |ops|-row collect), and every downstream question —
    * replay flags, visibility on any number of tables, the global-stats
    * sum, the model high-water mark, garbage seqs, the maintenance
    * folds — is answered from that single captured state, so a serve
    * composed over one snapshot can never mix two adjacent committed
    * states no matter how many commits land mid-read. The capture
    * itself is consistent: each op appends its attempt row BEFORE any
    * data and its commit row last, and parquet appends are whole
    * immutable files, so one file-listing pass sees exactly "some
    * committed prefix + some still-open attempts". An op running under
    * the single-writer lease may hold its snapshot through its own
    * appends: nothing commits concurrently within the span. */
  def snapshot(): OpLog.Snapshot = {
    heal(lenient = true)
    new OpLog.Snapshot(cat.spark, schema, marker,
      cat.readWithSchema(table, schema).collect())
  }

  /** Driver-side single-row append. The op log's two per-op appends
    * (attempt marker, commit row) are one-row writes whose Spark-job
    * form pays a full job + the file-commit protocol (~0.1-0.2 s each
    * at micro-batch volume — two jobs per op, measured in the ingest
    * job profile). [[Catalog.writeFileDriverSide]] writes the parquet
    * file directly on the driver instead, renamed in whole — the same
    * whole-immutable-file append property the v1 committer gives the
    * job form, at fs-metadata cost. */
  private def appendRowDriverSide(seq: Long, values: Seq[Option[Long]]): Unit =
    cat.writeFileDriverSide(
      new org.apache.hadoop.fs.Path(cat.path(table)), schema, Seq(Some(seq) +: values))

  /** Attempt marker, written BEFORE the op's first data append.
    * Duplicate attempt rows from replays are harmless (existence-only,
    * null payload). */
  def beginAttempt(seq: Long): Unit = {
    heal()
    appendRowDriverSide(seq, payload.fields.map(_ => None))
  }

  /** Commit = the op's payload row, one atomic append, with DRIVER-KNOWN
    * values — ops ride their stats on an
    * [[org.apache.spark.sql.Observation]] of an append job they already
    * run (no extra aggregation job). Fenced: a writer whose lease was
    * broken mid-op (TTL overrun) refuses here with
    * [[Catalog.WriterFenced]] instead of publishing — its data rows stay
    * uncommitted garbage. */
  def commitValues(seq: Long, values: Seq[Option[Long]]): Unit = {
    require(values.length == payload.fields.length,
      s"commitValues needs ${payload.fields.length} values, got ${values.length}")
    require(values.head.nonEmpty,
      "commitValues: the first payload column is the commit marker and must be non-null")
    heal()
    assertSameThreadSpan()
    cat.fenceHeldLeases()
    appendRowDriverSide(seq, values)
  }

  /** [[commitValues]] for a bare count payload (single-long-payload logs). */
  def commitCount(seq: Long, n: Long): Unit = commitValues(seq, Seq(Some(n)))

  /** THE exactly-once op span every index family op runs through, as
    * the family's single writer ([[withWriter]]):
    *  1. `prepare` — the family's crash heal and table ensure, before
    *     any probe or read;
    *  2. one [[snapshot]], which answers the replay flags and all of
    *     the op's visibility; the seq is derived from it when none is
    *     given;
    *  3. a committed seq returns at once (replays are no-ops);
    *  4. the attempt marker lands, then a crashed prior attempt's rows
    *     are removed (`scrub`, scrub-then-redo);
    *  5. `body` writes the op's rows and returns its commit values;
    *  6. the commit row.
    * The snapshot stays current through the op's own appends: nothing
    * commits concurrently under the writer lease. */
  def span(seq: Option[Long], prepare: => Unit, scrub: Long => Unit)(
      body: (OpLog.Snapshot, Long) => Seq[Long]): Unit = withWriter {
    prepare
    val snap = snapshot()
    val sv = seq.getOrElse(snap.nextSeq)
    val (done, crashed) = snap.replayState(sv)
    if (!done) {
      beginAttempt(sv)
      if (crashed) scrub(sv)
      commitValues(sv, body(snap, sv).map(Some(_)))
    }
  }

  /** An op at the seq after `snap`'s high-water mark, for a maintenance
    * pass that captured `snap` under this log's writer lease and then
    * decided to write (the vector index rebalance). A derived seq was
    * never attempted, so there is no replay probe and nothing to scrub. */
  def derivedOp(snap: OpLog.Snapshot)(body: Long => Seq[Long]): Unit = {
    val sv = snap.nextSeq
    beginAttempt(sv)
    commitValues(sv, body(sv).map(Some(_)))
  }

  /** Fencing is keyed on the lease-OWNING thread: a commit running on a
    * different thread than its op span's withWriter (a Future, a
    * streaming-listener callback, a thread-per-batch executor) would
    * make [[Catalog.fenceHeldLeases]] a silent no-op — no error, just
    * no fence protection. Fail loudly instead: the span must commit on
    * the thread that took the lease. Unleased commits (seeders
    * registering a generation with no maintenance running) see the
    * scope unheld and pass. */
  private def assertSameThreadSpan(): Unit =
    if (cat.leaseHeldByOtherThread(table))
      throw new IllegalStateException(
        s"op-log commit for '$table' is running on a different thread " +
          "than the writer lease's owner: fencing is thread-scoped, so " +
          "this commit would publish UNFENCED. Keep the whole op span — " +
          "withWriter through commit — on one thread")

  /** Base seq for a new stream, above every seq ever attempted: it can
    * never collide with a committed op (silent no-op) nor an abandoned
    * attempt. One |ops|-row collect instead of trusting the caller to
    * remember what was committed. */
  def nextBaseSeq: Long = snapshot().nextSeq

  /** Validate a caller-supplied base loudly instead of letting a stale
    * one silently no-op every batch against the committed short-circuit. */
  def requireFreshBase(base: Long): Long = {
    val mx = snapshot().maxSeq
    require(mx.forall(base > _),
      s"base seq $base is not above the op log's high-water mark ${mx.getOrElse(-1L)}: " +
        "a fresh stream reusing an attempted seq would silently drop its batches " +
        "(omit the base to derive one)")
    base
  }

  /** Maintenance: rewrite the log to its minimal equivalent, one file.
    * Every op appends two one-row parquet files, so an uncompacted
    * log's read cost grows with TOTAL OPS EVER (file listing + a footer
    * per file) — and the log is read several times per op. After this
    * rewrite it is one file of one row per committed op: attempt rows
    * of COMMITTED seqs drop (they answer no question a replay probe can
    * still ask — the commit row already proves both flags), attempt
    * rows of OPEN seqs are kept one per seq (a crashed attempt must
    * still replay as scrub-then-redo, an abandoned one must stay
    * visible to [[OpLog.Snapshot.garbageSeqs]] and its rows invisible
    * to [[OpLog.Snapshot.visible]]). Abandoned attempts are never
    * dropped here: a seq with surviving rows in ANY table, including
    * privately owned sidecars the compaction pass does not manage (the
    * vector index's model table), must keep its attempt row or those
    * rows resurrect — bounded by crash count, one tiny row each.
    * Additive payload sums, the high-water marks, replay flags, open
    * seqs and visibility are all preserved exactly (spec-pinned).
    *
    * The fold is computed DRIVER-SIDE from `snap` (zero further scans
    * of the stored table — the staged rewrite is one local-relation
    * write). Valid ONLY when the caller holds the family writer lease
    * and has appended nothing to the log since the capture — the
    * [[graft.streaming.Generations.compact]] shape, which captures one
    * snapshot at entry and never writes log rows. Crash-safe via
    * [[Catalog.replaceTable]]; every accessor heals at entry, so a
    * crashed rewrite can never wedge a reader or corrupt a subsequent
    * append. */
  def compact(snap: OpLog.Snapshot): Unit = rewrite(snap.foldedRows)

  /** Maintenance, one step past [[compact]]: fold the ENTIRE committed
    * history into ONE summary row at the committed high-water mark
    * whose payload is the column-wise sum — every payload here is
    * additive by design (BM25's (n_docs, total_dl) deltas, the count
    * logs), which is what makes the serve-side global aggregate an
    * |ops|-row scan; after a checkpoint it is a
    * |1 + opens + ops-since|-row scan, so serve cost stops growing
    * with op history entirely. Open-attempt rows are kept one per seq
    * (they must still replay or be GC'd). Same validity contract as
    * [[compact]].
    *
    * What a checkpoint gives up: per-op history. A replay probe for a
    * folded seq finds no row, so [[OpLog.Snapshot.replayState]]'s
    * staleness guard — no row AND at-or-below the high-water mark — is
    * what keeps a hand-tracked stale seq from double-applying; every op
    * entry point uses it. The derived-base discipline ([[nextBaseSeq]]
    * / [[requireFreshBase]]) already keeps writers above the mark, so
    * checkpointing changes nothing for them. */
  def checkpoint(snap: OpLog.Snapshot): Unit = rewrite(snap.checkpointRows)

  private def rewrite(kept: Array[Row]): Unit = withWriter {
    ensure()
    cat.replaceTable(table,
      cat.spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema).coalesce(1))
  }
}

object OpLog {
  /** Payload for logs that only need an admitted-row count. */
  val countPayload: StructType = StructType.fromDDL("n_rows BIGINT")

  /** An immutable committed-prefix view of one op log, captured by
    * [[OpLog.snapshot]] in a single read. Visibility under a snapshot
    * is BOUNDED ABOVE by the snapshot's attempted high-water mark: a
    * writer that starts after the capture (its attempt row unseen
    * here) necessarily runs at a seq above the captured [[maxSeq]]
    * (derived bases, [[OpLog.requireFreshBase]]), so its data rows —
    * which a data-table scan later in the same serve may physically
    * see — are excluded by the `seq <= hwm` bound. Never-seen seqs AT
    * or BELOW the mark keep the seeder convention (committed unless an
    * open attempt says otherwise); an UNREGISTERED seed stamped above
    * the current mark is invisible to snapshot reads until a
    * registration row lands — which the seeding helpers already write.
    * Both predicates are literals, so they push into the parquet scan
    * instead of costing a broadcast join. */
  final class Snapshot private[streaming] (
      spark: SparkSession,
      schema: StructType,
      marker: String,
      all: Array[Row]) {

    private val markerIdx = schema.fieldIndex(marker)
    private val bySeq = all.groupBy(_.getLong(0))
    private val committedRows = all.filter(!_.isNullAt(markerIdx))

    /** The captured log rows as a local relation — same schema as
      * [[OpLog.rows]], zero further scans of the stored table. */
    def rows: DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(all: _*), schema)

    /** Highest seq EVER ATTEMPTED at capture — the visibility ceiling. */
    val maxSeq: Option[Long] = bySeq.keys.maxOption

    /** The seq above every attempt at capture — [[OpLog.nextBaseSeq]]. */
    def nextSeq: Long = maxSeq.map(_ + 1L).getOrElse(0L)

    /** Seqs open at capture: attempted, not committed. Bounded by crash
      * count since the last compaction — always literal-sized. */
    val openSeqs: Seq[Long] = bySeq.collect {
      case (s, rs) if rs.forall(_.isNullAt(markerIdx)) => s
    }.toSeq.sorted

    /** Highest COMMITTED seq at capture (vs [[maxSeq]]'s ever-attempted). */
    val committedHwm: Option[Long] = committedRows.map(_.getLong(0)).maxOption

    /** Open seqs strictly below the committed high-water mark at
      * capture — abandoned attempts, safe to GC. An in-flight op is
      * never below the mark because ops execute in seq order
      * (single-writer discipline). */
    def garbageSeqs: Seq[Long] =
      committedHwm.map(h => openSeqs.filter(_ < h)).getOrElse(Nil)

    /** The replay flags (already committed?, did a prior attempt
      * write?) for `seq`, answered from the captured rows — zero
      * further jobs. Valid for a WRITE op's entry probe because the op
      * runs under the single-writer lease: nothing commits between the
      * capture and the op's own appends, so the captured prefix IS the
      * current log. REFUSES a stale seq — never attempted, yet at or
      * below the captured [[maxSeq]]. Ops execute in seq order, so such
      * a seq cannot be a legitimate replay: the caller is replaying out
      * of order with a hand-tracked seq, or the seq's history was
      * folded away by [[OpLog.checkpoint]] — and RUNNING the op would
      * redo it against state that already absorbed it (a REPLACE would
      * append a duplicate generation next to the original's surviving
      * rows), or, below an open attempt, let its own uncommitted
      * appends show through [[visible]]'s `seq <= maxSeq` ceiling to
      * its mid-op reads. The derived-base discipline
      * ([[OpLog.nextBaseSeq]]) never issues one. */
    def replayState(seq: Long): (Boolean, Boolean) = {
      val mine = bySeq.getOrElse(seq, Array.empty[Row])
      val done = mine.exists(!_.isNullAt(markerIdx))
      val attempted = mine.nonEmpty
      if (!attempted && maxSeq.exists(seq <= _))
        throw new IllegalStateException(
          s"op seq $seq has no log row but is at or below the captured " +
            s"high-water mark ${maxSeq.get}: out-of-order, checkpointed-" +
            "away, or below an open attempt — running it would double-" +
            "apply or leak its uncommitted rows into this snapshot's " +
            "visibility ceiling; derive seqs from nextBaseSeq")
      (done, attempted)
    }

    /** Whether generation `seq` is visible under this snapshot — the
      * driver-side form of [[visible]]'s literal predicates, for code
      * that already holds the rows (e.g. a collected tombstone set). */
    def seqVisible(seq: Long): Boolean = maxSeq match {
      case None => true
      case Some(hwm) => seq <= hwm && !openSeqs.contains(seq)
    }

    /** One attempt row per open seq — all both folds keep of the
      * uncommitted log. */
    private def openAttemptRows: Seq[Row] = openSeqs.map(bySeq(_).head)

    /** The [[OpLog.compact]] surviving set: every committed row verbatim
      * plus one attempt row per open seq. */
    private[streaming] def foldedRows: Array[Row] = committedRows ++ openAttemptRows

    /** The [[OpLog.checkpoint]] surviving set: one summary row at the
      * committed high-water mark carrying column-wise payload sums
      * (null-skipping, 0 when all null), plus one attempt row per open
      * seq. Falls back to [[foldedRows]] when nothing is committed. */
    private[streaming] def checkpointRows: Array[Row] = committedHwm match {
      case None => foldedRows
      case Some(hwm) =>
        val sums = (1 until schema.fields.length).map { i =>
          committedRows.foldLeft(0L)((acc, r) =>
            if (r.isNullAt(i)) acc else acc + r.getLong(i))
        }
        (Row.fromSeq(hwm +: sums) +: openAttemptRows).toArray
    }

    /** Restrict `df` to generations committed at capture — the read
      * discipline for admission, victim selection, and serving — as
      * pure literal filters (parquet-pushable). A crashed half-written
      * op's rows are invisible until its replay commits. Rows of a
      * generation the log has never seen, at or below the mark (an
      * offline-built seed appended directly to the table), count as
      * committed: the attempt marker lands BEFORE any data append, so
      * stream-written rows always have a log row. Seeders SHOULD still
      * register their generation (one commit row) so derived bases land
      * above it and no future op can collide with — and scrub — the
      * seeded generation. An empty log keeps every row — the pure-seed
      * convention. */
    def visible(df: DataFrame, seqCol: String = "seq"): DataFrame =
      maxSeq match {
        case None => df
        case Some(hwm) =>
          val bounded = df.filter(F.col(seqCol) <= hwm)
          if (openSeqs.isEmpty) bounded
          else bounded.filter(!F.col(seqCol).isin(openSeqs: _*))
      }
  }
}
