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
  *    selection, and serving join data tables semi against
  *    [[committedSeqs]] (|ops|-row, always broadcast), so a crashed
  *    half-written op is INVISIBLE everywhere until its replay commits
  *    it. That committed-only discipline is what makes seq assignment
  *    free: a replayed batch may run under a brand-new seq (a restarted
  *    stream with a derived base) and still converge, because the
  *    crashed attempt's partial rows never influenced any decision.
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
  * invisible garbage rows in the data tables; [[garbageSeqs]] names
  * them — every attempt with no commit below the committed high-water
  * mark, safe to scrub at compaction under the single-writer
  * maintenance discipline (ops execute in seq order, so a LIVE op's
  * seq is always above every committed seq).
  */
final class OpLog(
    spark: SparkSession,
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
    * FENCED past the TTL: a span that outruns `ttlMs` loses its lease
    * to the next contender's atomic break — from that instant the
    * commit point ([[commitValues]], the replace/compact
    * swaps) refuse with [[graft.sources.Catalog.WriterFenced]] instead
    * of publishing over the successor; the fenced op's data rows stay
    * uncommitted garbage and are scrubbed at compaction. Size the TTL
    * above the longest expected op. */
  def withWriter[T](ttlMs: Long = 15 * 60 * 1000L)(body: => T): T =
    cat.withMaintenanceLease(table, ttlMs)(body)

  // READ path (committed/openSeqs/visible feed serves): lenient — an
  // in-flight publish's marker means nothing is crashed; skipping keeps
  // a sibling thread's serve from throwing SwapInFlight (or, pre-r17,
  // from deleting the publisher's in-flight staging). Write entries
  // (ensure/beginAttempt/commitValues) stay strict.
  def rows: DataFrame =
    { heal(lenient = true); cat.readWithSchema(table, schema) }

  /** Commit rows only (attempt rows carry a null first payload col). */
  def committed: DataFrame = rows.filter(F.col(marker).isNotNull)

  /** The committed seq set — |ops|-row; always broadcast into joins. */
  def committedSeqs: DataFrame = committed.select("seq")

  /** Seqs currently OPEN: attempted, never committed — a crashed
    * attempt awaiting replay, or an abandoned one awaiting GC. Tiny
    * (bounded by crash count since last compaction). */
  def openSeqs: DataFrame =
    rows.groupBy("seq").agg(F.max(F.col(marker).isNotNull).as("done"))
      .filter(!F.col("done")).select("seq")

  /** Restrict `df` to rows of generations NOT currently open — the read
    * discipline for admission, victim selection, and serving. A crashed
    * half-written op's rows are invisible until its replay commits;
    * rows of generations the log has never seen (an offline-built seed
    * appended directly to the table) count as committed, because the
    * attempt marker lands BEFORE any data append, so stream-written
    * rows always have a log row. Seeders SHOULD still register their
    * generation (one [[commitValues]]/[[commitCount]] row) so [[maxSeq]]
    * derives bases above it and no future op can collide with — and
    * scrub — the seeded generation.
    *
    * This form re-reads the log lazily at action time; ops running
    * under the single-writer lease use it freely (nothing commits
    * concurrently within the span). SERVE paths that consult the log
    * more than once (visibility on several tables, a global-stats sum)
    * must use [[snapshot]] instead: each lazy read here is its own
    * scan, so a commit landing between two of them yields a read
    * mixing adjacent committed states. */
  def visible(df: DataFrame, seqCol: String = "seq"): DataFrame =
    df.join(F.broadcast(openSeqs.withColumnRenamed("seq", seqCol)),
      Seq(seqCol), "leftanti")

  /** Pin ONE committed-prefix view of the log for a whole serve call —
    * the snapshot-isolation primitive. The log is read exactly once
    * (one |ops|-row collect; the same cardinality class as the
    * broadcasts [[visible]] already ships), and every downstream
    * question — visibility on any number of tables, the global-stats
    * sum, the model high-water mark — is answered from that single
    * captured state, so a serve composed over one snapshot can never
    * mix two adjacent committed states no matter how many commits land
    * mid-read. The capture itself is consistent: each op appends its
    * attempt row BEFORE any data and its commit row last, and parquet
    * appends are whole immutable files, so one file-listing pass sees
    * exactly "some committed prefix + some still-open attempts". */
  def snapshot(): OpLog.Snapshot = {
    heal(lenient = true)
    new OpLog.Snapshot(spark, schema, marker,
      cat.readWithSchema(table, schema).collect())
  }

  /** One probe for both replay flags: ≤ |rows-for-this-seq| tiny rows
    * answer "already committed?" and "did a prior attempt write?" in a
    * single job. */
  def state(seq: Long): (Boolean, Boolean) = {
    val r = rows.filter(F.col("seq") === seq).select(marker).collect()
    (r.exists(!_.isNullAt(0)), r.nonEmpty)
  }

  /** [[state]] for an op entry point: additionally REFUSES a stale seq
    * — never attempted yet at-or-below the committed high-water mark.
    * Ops execute in seq order (single-writer discipline), so such a
    * seq cannot be a legitimate replay: either the caller is replaying
    * out of order with a hand-tracked seq, or the seq's history was
    * folded away by [[checkpoint]] — and actually RUNNING the op there
    * would redo it against state that already absorbed it (harmless
    * for the anti-join admission arms, which converge to a zero
    * no-op, but a REPLACE would append a duplicate generation next to
    * the original's surviving rows). Loud beats silent: derive seqs
    * from [[nextBaseSeq]]. One |ops|-row job, same cost as [[state]]. */
  def replayState(seq: Long): (Boolean, Boolean) = {
    val a = rows.agg(
      F.max(F.when(F.col("seq") === seq && F.col(marker).isNotNull, true))
        .as("done"),
      F.max(F.when(F.col("seq") === seq, true)).as("attempted"),
      F.max(F.when(F.col(marker).isNotNull, F.col("seq"))).as("hwm")).head()
    def flag(i: Int) = !a.isNullAt(i) && a.getBoolean(i)
    val (done, attempted) = (flag(0), flag(1))
    if (!attempted && !a.isNullAt(2) && seq <= a.getLong(2))
      throw new IllegalStateException(
        s"op seq $seq has no log row but is at or below the committed " +
          s"high-water mark ${a.getLong(2)}: out-of-order or " +
          "checkpointed-away — running it would double-apply; derive " +
          "seqs from nextBaseSeq")
    (done, attempted)
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
      body: (OpLog.Snapshot, Long) => Seq[Long]): Unit = withWriter() {
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

  /** Highest seq EVER ATTEMPTED (committed or not) — the derived-base
    * authority: a new stream's base above this can never collide with
    * a committed op (silent no-op) nor an abandoned attempt. */
  def maxSeq: Option[Long] =
    Option(rows.agg(F.max("seq")).head().get(0)).map(_.asInstanceOf[Long])

  /** Base seq for a new stream: one |ops|-row probe instead of trusting
    * the caller to remember what was committed. */
  def nextBaseSeq: Long = maxSeq.map(_ + 1L).getOrElse(0L)

  /** Validate a caller-supplied base loudly instead of letting a stale
    * one silently no-op every batch against the committed short-circuit. */
  def requireFreshBase(base: Long): Long = {
    val mx = maxSeq
    require(mx.forall(base > _),
      s"base seq $base is not above the op log's high-water mark ${mx.getOrElse(-1L)}: " +
        "a fresh stream reusing an attempted seq would silently drop its batches " +
        "(omit the base to derive one)")
    base
  }

  /** Seqs of ABANDONED attempts: attempted, never committed, below the
    * committed high-water mark — their data rows are invisible
    * everywhere (committed-only reads) and safe to scrub at
    * compaction. An in-flight op is never below the mark because ops
    * execute in seq order (single-writer discipline). */
  def garbageSeqs: Seq[Long] = {
    val r = rows.groupBy("seq")
      .agg(F.max(F.col(marker).isNotNull).as("done"))
      .collect()
    val hwm = r.filter(_.getBoolean(1)).map(_.getLong(0))
    if (hwm.isEmpty) Nil
    else {
      val mark = hwm.max
      r.filter(x => !x.getBoolean(1) && x.getLong(0) < mark)
        .map(_.getLong(0)).toSeq
    }
  }

  /** Maintenance: rewrite the log to its minimal equivalent, coalesced
    * to one file. Every op appends two one-row parquet files, so an
    * uncompacted log's read cost grows with TOTAL OPS EVER (file
    * listing + a footer per file) — and the log is read several times
    * per op. After this rewrite it is one file of one row per
    * committed op: attempt rows of COMMITTED seqs drop (they answer no
    * question [[state]] can still ask — the commit row already proves
    * both flags), attempt rows of OPEN seqs are kept one-per-seq (a
    * crashed attempt must still replay as scrub-then-redo, an
    * abandoned one must stay visible to [[garbageSeqs]] and
    * [[visible]]'s anti-join). `scrubbedSeqs` names abandoned attempts
    * whose data rows the caller has JUST scrubbed from EVERY table of
    * the family — only then may their log rows drop (returning the seq
    * to never-seen = committed-by-convention): a seq with surviving
    * rows in ANY table, including privately owned sidecars the
    * compaction pass does not manage (the vector index's model table),
    * must keep its attempt row or those rows resurrect.
    * Generations.compact therefore passes nothing and keeps abandoned
    * rows — bounded by crash count, one tiny row each.
    * Additive payload sums, [[maxSeq]] (the fold keeps every
    * committed seq and every surviving open seq verbatim), [[state]],
    * [[openSeqs]] and [[visible]] are all preserved exactly
    * (spec-pinned). Crash-safe via [[Catalog.replaceTable]]; every
    * accessor heals at entry, so a crashed rewrite can never wedge a
    * reader or corrupt a subsequent append. Single-writer maintenance
    * discipline, like every compaction in this family. */
  def compact(scrubbedSeqs: Seq[Long] = Nil, targetFiles: Int = 1): Unit =
    withWriter() {
    ensure()
    val r = rows
    val open = r.groupBy("seq")
      .agg(F.max(F.col(marker).isNotNull).as("done"))
      .filter(!F.col("done")).select("seq")
    val openRows = r.join(open, Seq("seq"), "leftsemi")
      .dropDuplicates("seq") // duplicate attempt rows collapse
    val survivingOpen =
      if (scrubbedSeqs.isEmpty) openRows
      else openRows.filter(!F.col("seq").isin(scrubbedSeqs: _*))
    // replaceTable materializes the staged copy BEFORE any rename, so
    // reading the live table inside the rewrite plan is safe.
    // targetFiles bounds the rewrite's parallelism floor: one file is
    // right up to tens of millions of ops (a few hundred MB through
    // one task); a tenant folding a vastly larger log raises it.
    cat.replaceTable(table,
      r.filter(F.col(marker).isNotNull).unionByName(survivingOpen)
        .coalesce(math.max(1, targetFiles)))
    }

  /** [[compact]] fed by an already-captured snapshot: the fold is
    * computed DRIVER-SIDE from the collected rows (zero further scans
    * of the stored table — the staged rewrite is one local-relation
    * write). Valid ONLY when the caller holds the family writer lease
    * and has appended nothing to the log since the capture — exactly
    * the [[graft.streaming.Generations.compact]] shape, which captures
    * one snapshot at entry and never writes log rows. Same surviving
    * set as [[compact]]: every committed row verbatim, one attempt row
    * per still-open seq (spec-pinned alongside the job form). */
  def compactFromSnapshot(snap: OpLog.Snapshot, targetFiles: Int = 1): Unit =
    withWriter() {
      ensure()
      cat.replaceTable(table,
        spark.createDataFrame(
          java.util.Arrays.asList(snap.foldedRows(marker): _*), schema)
          .coalesce(math.max(1, targetFiles)))
    }

  /** [[checkpoint]] fed by an already-captured snapshot — the same
    * single-summary-row fold, computed driver-side (see
    * [[compactFromSnapshot]] for the validity contract). */
  def checkpointFromSnapshot(snap: OpLog.Snapshot): Unit =
    withWriter() {
      ensure()
      cat.replaceTable(table,
        spark.createDataFrame(
          java.util.Arrays.asList(snap.checkpointRows(marker): _*), schema)
          .coalesce(1))
    }

  /** Maintenance, one step past [[compact]]: fold the ENTIRE committed
    * history into ONE summary row at the committed high-water mark
    * whose payload is the column-wise sum — every payload here is
    * additive by design (BM25's (n_docs, total_dl) deltas, the count
    * logs), which is what makes the serve-side global aggregate an
    * |ops|-row scan; after a checkpoint it is a
    * |1 + opens + ops-since|-row scan, so serve cost stops growing
    * with op history entirely. Open-attempt rows are kept verbatim
    * (they must still replay or be GC'd).
    *
    * What a checkpoint gives up: per-op history. A replay probe for a
    * folded seq finds no row, so [[replayState]]'s staleness guard —
    * no row AND at-or-below the HWM — is what keeps a hand-tracked
    * stale seq from double-applying; every op entry point uses it.
    * The derived-base discipline ([[nextBaseSeq]] /
    * [[requireFreshBase]]) already keeps writers above the HWM, so
    * checkpointing changes nothing for them. Crash-safe via
    * [[Catalog.replaceTable]], like [[compact]]. */
  def checkpoint(): Unit =
    withWriter() {
      ensure()
      val r = rows
      val committedRows = r.filter(F.col(marker).isNotNull)
      if (committedRows.isEmpty) compact()
      else {
        val summary = committedRows.agg(
          F.max("seq").as("seq"),
          payload.fields.map(f =>
            F.coalesce(F.sum(f.name), F.lit(0L)).as(f.name)): _*)
          .select("seq", payload.fields.map(_.name): _*)
        val open = r.groupBy("seq")
          .agg(F.max(F.col(marker).isNotNull).as("done"))
          .filter(!F.col("done")).select("seq")
        val openRows = r.join(open, Seq("seq"), "leftsemi")
          .dropDuplicates("seq")
        cat.replaceTable(table, summary.unionByName(openRows).coalesce(1))
      }
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
    * see — are excluded by the `seq <= hwm` bound that the lazy
    * [[OpLog.visible]] anti-join cannot express. Never-seen seqs AT or
    * BELOW the mark keep the seeder convention (committed unless an
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

    /** The captured log rows as a local relation — same schema as
      * [[OpLog.rows]], zero further scans of the stored table. */
    def rows: DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(all: _*), schema)

    /** Highest seq EVER ATTEMPTED at capture — the visibility ceiling. */
    val maxSeq: Option[Long] =
      if (all.isEmpty) None else Some(all.map(_.getLong(0)).max)

    /** The seq above every attempt at capture — [[OpLog.nextBaseSeq]]. */
    def nextSeq: Long = maxSeq.map(_ + 1L).getOrElse(0L)

    /** Seqs open at capture: attempted, not committed. Bounded by crash
      * count since the last compaction — always literal-sized. */
    val openSeqs: Seq[Long] = {
      val bySeq = all.groupBy(_.getLong(0))
      bySeq.collect {
        case (s, rs) if rs.forall(_.isNullAt(markerIdx)) => s
      }.toSeq.sorted
    }

    /** Highest COMMITTED seq at capture (vs [[maxSeq]]'s ever-attempted). */
    val committedHwm: Option[Long] =
      all.filter(!_.isNullAt(markerIdx)).map(_.getLong(0)).maxOption

    /** [[OpLog.garbageSeqs]] at capture: open seqs strictly below the
      * committed high-water mark — abandoned attempts safe to GC. */
    def garbageSeqs: Seq[Long] =
      committedHwm.map(h => openSeqs.filter(_ < h)).getOrElse(Nil)

    /** [[OpLog.replayState]] answered from the captured rows — zero
      * further jobs. Valid for a WRITE op's entry probe because the op
      * runs under the single-writer lease: nothing commits between the
      * capture and the op's own appends, so the captured prefix IS the
      * current log. The staleness guard is STRICTER than the lazy
      * form's: a never-seen seq at or below the captured [[maxSeq]]
      * (not just the committed mark) refuses — under [[visible]]'s
      * `seq <= maxSeq` ceiling such an op's own uncommitted appends
      * would be visible to its mid-op snapshot reads (the lazy
      * openSeqs anti-join used to hide them), and the derived-base
      * discipline ([[OpLog.nextBaseSeq]]) never legitimately issues
      * one. */
    def replayState(seq: Long): (Boolean, Boolean) = {
      val mine = all.filter(_.getLong(0) == seq)
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

    /** The [[OpLog.compact]] surviving set, computed from the captured
      * rows: every committed row verbatim plus ONE attempt row per
      * still-open seq. */
    private[streaming] def foldedRows(marker: String): Array[Row] = {
      val committedRows = all.filter(!_.isNullAt(markerIdx))
      val committedSet = committedRows.map(_.getLong(0)).toSet
      val openOnce = all.filter(r => !committedSet.contains(r.getLong(0)))
        .groupBy(_.getLong(0)).map(_._2.head).toArray
      committedRows ++ openOnce
    }

    /** The [[OpLog.checkpoint]] surviving set: one summary row at the
      * committed high-water mark carrying column-wise payload sums
      * (null-skipping, 0 when all null — the coalesce(sum) semantics),
      * plus the open attempt rows. Falls back to [[foldedRows]] when
      * nothing is committed. */
    private[streaming] def checkpointRows(marker: String): Array[Row] = {
      val committedRows = all.filter(!_.isNullAt(markerIdx))
      if (committedRows.isEmpty) foldedRows(marker)
      else {
        val width = schema.fields.length
        val sums = (1 until width).map { i =>
          committedRows.foldLeft(0L)((acc, r) =>
            if (r.isNullAt(i)) acc else acc + r.getLong(i))
        }
        val summary = Row.fromSeq(
          committedRows.map(_.getLong(0)).max +: sums)
        val committedSet = committedRows.map(_.getLong(0)).toSet
        val openOnce = all.filter(r => !committedSet.contains(r.getLong(0)))
          .groupBy(_.getLong(0)).map(_._2.head).toArray
        summary +: openOnce
      }
    }

    /** [[OpLog.visible]] pinned to this snapshot: committed-at-capture
      * generations only, as pure literal filters (parquet-pushable). An
      * empty log keeps every row — the pure-seed convention. */
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
