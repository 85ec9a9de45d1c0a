package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.model.Trip
import graft.operators.Upsert
import graft.sources.Catalog

/** Structured Streaming surface (reference S8 + §2.9 extension points):
  * the reference's batch-cron pipeline becomes a continuous one by
  * pointing `readStream` at the same file-drop directory the Makefile
  * `cp`s into, with the same dedup-upsert semantics applied per
  * micro-batch via foreachBatch.
  *
  * Scale notes:
  *  - file-drop ingestion scales by listing, not polling: each trigger
  *    lists new files only (`maxFilesPerTrigger` bounds batch size);
  *  - the dedup upsert inside foreachBatch reuses the batch operator, so
  *    streaming and batch share one code path and one invariant;
  *  - watermarks bound state: late rows beyond the watermark are dropped
  *    instead of growing state forever — mandatory for 100 TB/day
  *    streams;
  *  - `dropDuplicates` with a watermark gives exactly-once-per-key
  *    within the lateness horizon without unbounded key state.
  */
object Streams {

  /** Writer width for clustered partitioned appends (see
    * [[graft.sources.Catalog.appendPartitioned]]): the session's shuffle
    * width capped at the family's bucket count — hashing by the bucket
    * column alone can never fill more tasks than there are buckets. */
  private def writeWidth(spark: SparkSession, buckets: Int): Int =
    math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, buckets)

  /** Continuous CSV trip ingestion from a drop directory (S1/S8). */
  def tripFileStream(spark: SparkSession, dropDir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .schema(Trip.csvSchema)
      .csv(dropDir)

  /** Streaming version of the reference's batch DAG: each micro-batch is
    * keyed, deduped against hist, and appended — `INSERT ... ON CONFLICT
    * DO NOTHING`, continuously. The caller must `ensureTable` the hist
    * table with [[Trip.schema]], which every trigger reads it with.
    */
  def streamingUpsert(
      trips: DataFrame,
      catalog: Catalog,
      histTable: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    trips
      .withColumn("trip_key", Trip.tripKey)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // schema-first: an inferring read costs a job per trigger
        val hist = catalog.readWithSchema(histTable, Trip.schema)
        // micro-batches are bounded by maxFilesPerTrigger, so admission
        // runs as the broadcast probe (state side scanned, never
        // shuffled); a backfill-sized batch falls back to the shuffle
        // anti-join inside newRowsProbed
        catalog.append(histTable, Upsert.newRowsProbed(batch, hist, "trip_key"))
      }
  }

  /** Continuous document ingestion from a JSONL drop directory — the
    * corpus-refresh source: one `{"doc_id":…,"text":…}` object per line.
    */
  def docFileStream(spark: SparkSession, dropDir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .schema(StructType.fromDDL("doc_id BIGINT, text STRING"))
      .json(dropDir)

  /** Streaming incremental near-dup dedup — the production corpus-refresh
    * shape: each micro-batch probes the PERSISTED bucket table
    * ([[graft.operators.Dedup.bucketTableMd5]]) for LSH candidates, so
    * the admitted corpus text is NEVER re-shingled; candidates verify by
    * exact character-shingle Jaccard; rejected batch docs never reach
    * the corpus, and admitted docs append BOTH their rows and their
    * buckets — keeping the index exactly in sync with the corpus across
    * restarts (both appends ride the same foreachBatch epoch).
    *
    * Admission rules, in order:
    *  - an id already in the corpus is dropped (insert-if-absent, same
    *    as [[streamingUpsert]]);
    *  - with a `benchmark`, docs holding >= `maxContaminated` distinct
    *    benchmark n-grams are rejected
    *    ([[graft.operators.Hygiene.decontaminateByGrams]] against the
    *    stream-lifetime cached gram set), and with `redactPii` the
    *    surviving text is masked BEFORE bucketing — index and corpus
    *    must describe the same string;
    *  - a batch doc that verifies against ANY corpus doc is rejected;
    *  - of a verified batch-batch pair, the greater id is rejected
    *    (transitively: every doc that pairs with a smaller batch id
    *    loses, the same min-id-wins rule as batch dedup).
    *
    * Per-batch cost is O(batch + matched buckets): the candidate probe
    * semi-joins the bucket table on the batch's bucket keys, and
    * shingle/verify work touches only docs that appear in some pair.
    * Caller must `ensureTable` both tables before starting the stream.
    *
    * Crash-window consistency (the two appends are not one atomic
    * commit): ADMISSION AUTHORITY IS THE CORPUS (the id anti-join), the
    * bucket table is a probe index. Buckets are written FIRST, so a
    * crash between the writes leaves the index LEADING the corpus, never
    * trailing it: on replay the batch re-admits (ids absent from the
    * corpus), its stale bucket rows produce only self-pairs (filtered)
    * or pairs the batch-batch rule resolves identically, and the
    * bucket re-append anti-joins already-bucketed ids so replays never
    * duplicate index rows. The reverse order would silently strand
    * admitted docs without buckets — invisible to every future probe.
    */
  def streamingDocDedup(
      docs: DataFrame,
      catalog: Catalog,
      corpusTable: String,
      bucketTable: String,
      checkpoint: String,
      shingleLen: Int = 5,
      minJaccardNum: Int = 1,
      minJaccardDen: Int = 2,
      numHashes: Int = 64,
      bands: Int = 4,
      maxBucketSize: Int = 200,
      benchmark: Option[DataFrame] = None,
      contaminationNgram: Int = 5,
      maxContaminated: Long = 1,
      redactPii: Boolean = false,
      tombTable: Option[String] = None,
      baseSeq: Option[Long] = None,
      stateBuckets: Int = 16,
      maxProbeIds: Long = 4L * 1024 * 1024,
      replaceMode: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(!replaceMode || tombTable.nonEmpty,
      "replaceMode needs the tombstone-aware layout (tombTable)")
    // the benchmark's distinct-gram set is computed ONCE for the
    // stream's lifetime and materialized (an eval set is MBs — the
    // same vocabulary-sized-only checkpoint policy as the ANN index
    // cache), then every micro-batch broadcasts it into the admission
    // join; re-deriving it per batch would re-shingle the benchmark
    // forever. Lazy so a benchmark-free stream never touches it.
    lazy val cachedBenchGrams: Option[org.apache.spark.sql.DataFrame] =
      benchmark.map(b =>
        graft.operators.Hygiene.benchGrams(b, contaminationNgram, "text")
          .localCheckpoint())
    // hygiene gate BEFORE any shingle/bucket work: a contaminated doc
    // must never reach the corpus, the index, or the dedup verdicts
    // (its buckets could otherwise reject a clean doc); redaction runs
    // BEFORE bucketing so the persisted index and the persisted text
    // describe the SAME string — a later dup of the redacted form must
    // both probe and verify against it
    def hygiene(freshIds: DataFrame): DataFrame = {
      val decontaminated = cachedBenchGrams match {
        case Some(g) => graft.operators.Hygiene.decontaminateByGrams(
          freshIds, g, contaminationNgram, maxContaminated)
        case None => freshIds
      }
      if (redactPii)
        decontaminated.withColumn("text",
          graft.operators.Hygiene.redactPii(F.col("text")))
      else decontaminated
    }
    // the screening core shared by both modes: LSH-probe the persisted
    // bucket index, verify by exact shingle Jaccard, resolve who loses
    // (corpus always beats batch; of a batch-batch pair the greater id
    // loses — the same min-id-wins rule as batch dedup). Returns the
    // batch's bucket rows and the admitted docs.
    def screen(
        fresh: DataFrame,
        corpus: DataFrame,
        liveBuckets: DataFrame): (DataFrame, DataFrame) = {
      import graft.operators.Dedup
      val newBuckets = Dedup.bucketTableMd5(
          fresh, "text", "doc_id", shingleLen, numHashes, bands)
        .localCheckpoint(false) // reused: candidate probe + index append
      val cands = Dedup.incrementalCandidatesFromBuckets(
          newBuckets, liveBuckets, maxBucketSize)
        // EAGER: the hub frame — five downstream references; a
        // materialized (tiny) pair set cuts every later plan's lineage
        // to an ExistingRDD, keeping per-batch Catalyst work flat
        .localCheckpoint()
      val pairIds = cands.select(F.col("a").as("doc_id"))
        .union(cands.select(F.col("b").as("doc_id"))).distinct()
      // verify texts: the batch plus ONLY corpus docs in some pair
      val texts = fresh.select("doc_id", "text").union(
        corpus.select("doc_id", "text")
          .join(pairIds, Seq("doc_id"), "leftsemi"))
      val verified = Dedup.verifyJaccardPairs(cands, texts,
          "text", "doc_id", shingleLen, minJaccardNum, minJaccardDen)
        .select("a", "b")
      // which pair members are corpus docs decides who gets rejected
      // tiny (bounded by the pair id set); referenced twice below but
      // deliberately NOT checkpointed: with cands materialized its
      // subtree is one pruned id-column scan — recomputing it costs
      // less than another per-batch planning pass + job
      val inCorpus = corpus.select("doc_id")
        .join(pairIds, Seq("doc_id"), "leftsemi")
      val rejected = verified
        .join(inCorpus.select(F.col("doc_id").as("a"),
          F.lit(true).as("ac")), Seq("a"), "left")
        .join(inCorpus.select(F.col("doc_id").as("b"),
          F.lit(true).as("bc")), Seq("b"), "left")
        .select(
          F.when(F.coalesce(F.col("ac"), F.lit(false)),
              F.col("b")) // corpus a rejects batch b
            .when(F.coalesce(F.col("bc"), F.lit(false)),
              F.col("a")) // corpus b rejects batch a
            .otherwise(F.greatest(F.col("a"), F.col("b"))) // batch pair
            .as("doc_id"))
        .distinct()
      val admitted = fresh.join(rejected, Seq("doc_id"), "leftanti")
        .localCheckpoint(false) // reused: bucket filter + corpus append
      (newBuckets, admitted)
    }
    val writer = docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
    tombTable match {
      case None =>
        // append-only mode on flat tables: probe-and-skip replay
        // idempotence (the bucket re-append anti-joins already-bucketed
        // ids). Replay soundness NEEDS atomic append jobs: without
        // generation stamps there is nothing to scrub, so a partial
        // multi-file append commit (a subset of task files landed)
        // would strand a doc with partial bucket rows. The appends are
        // therefore forced to ONE file each — a single-file job is an
        // all-or-nothing commit under the v1 committer (pinned in
        // GraftSession) — turning the assumption into an enforced
        // property. One file per micro-batch is also the right write
        // shape (flat tables have no compaction pass to heal small-file
        // accretion); the single write task it implies is a throughput
        // ceiling only for backfill-sized batches, which belong in the
        // tombstone-aware mode below (full OpLog scrub-then-redo, no
        // atomicity requirement) — prefer it in production generally.
        //
        // Crash-window consistency (the two appends are not one atomic
        // commit): ADMISSION AUTHORITY IS THE CORPUS (the id
        // anti-join), the bucket table is a probe index. Buckets are
        // written FIRST, so a crash between the writes leaves the index
        // LEADING the corpus, never trailing it: on replay the batch
        // re-admits (ids absent from the corpus), its stale bucket rows
        // produce only self-pairs (filtered) or pairs the batch-batch
        // rule resolves identically, and the bucket re-append
        // anti-joins already-bucketed ids so replays never duplicate
        // index rows. The reverse order would silently strand admitted
        // docs without buckets — invisible to every future probe.
        writer.foreachBatch { (batch: DataFrame, _: Long) =>
          // a fired-empty micro-batch (batch 0 racing the first file
          // drop) must not append: the one-file-per-batch atomic-commit
          // pin counts FILES, and empty appends would add noise files
          // with no rows (matching the guards in the serve paths)
          if (!batch.isEmpty) {
            catalog.recoverReplace(corpusTable)
            catalog.recoverReplace(bucketTable)
            val corpus = catalog.read(corpusTable)
            // pairs are strictly a < b, so a re-dropped id can never
            // pair with itself — id-level admission must happen first
            val fresh = hygiene(Upsert.newRows(batch, corpus, "doc_id"))
            val liveBuckets = catalog.read(bucketTable)
            val (newBuckets, admitted) = screen(fresh, corpus, liveBuckets)
            // an all-rejected batch admits nothing: skip the appends
            // entirely — coalesce(1) on zero rows still writes a
            // schema-only file, and the one-file-per-batch atomicity
            // pin counts files (both appends are ⋉ admitted, so both
            // are empty exactly when admitted is)
            if (!admitted.isEmpty) {
              val alreadyBucketed = liveBuckets.select("id")
                .join(newBuckets.select("id").distinct(), Seq("id"), "leftsemi")
              catalog.append(bucketTable, newBuckets
                .join(admitted.select(F.col("doc_id").as("id")), Seq("id"), "leftsemi")
                .join(alreadyBucketed, Seq("id"), "leftanti")
                .coalesce(1))
              catalog.append(corpusTable,
                admitted.select("doc_id", "text").coalesce(1))
            }
          }
        }
      case Some(tt) =>
        // tombstone-aware mode: the production lifecycle. Corpus and
        // bucket rows are generation-stamped and id-hash-partitioned
        // (`pbk`), every read sees only COMMITTED live generations, and
        // each micro-batch is one exactly-once [[OpLog]] op
        // (attempt marker → scrub-then-redo → commit) — so a deleted
        // doc stops rejecting near-dups, frees its id for re-ingest,
        // replays never lose partial appends, and
        // [[compactDocDedup]] scrubs dead generations physically,
        // partition-locally.
        val s = docs.sparkSession
        ensureDedupIndexTables(catalog, corpusTable, bucketTable, tt)
        // EVERY row-shaping parameter is stamped, not just the id-hash
        // modulus: stored bucket rows' (band, bk) values are a function
        // of (shingleLen, numHashes, bands), so a reopen with a
        // different banding scheme would pass a modulus-only check yet
        // probe rows written under another scheme — silently admitting
        // near-duplicates of all prior content (LayoutMismatch instead)
        catalog.ensureLayoutMeta(corpusTable, dedupLayoutStamp(
          stateBuckets, shingleLen, numHashes, bands))
        val log = new OpLog(s, catalog, corpusTable + "_ops", OpLog.countPayload)
        val base = baseSeq.map(log.requireFreshBase).getOrElse(log.nextBaseSeq)
        def pbkOf(c: org.apache.spark.sql.Column) =
          F.pmod(F.xxhash64(c), F.lit(stateBuckets.toLong)).cast("int")
        if (replaceMode)
          // RECRAWL stream: each micro-batch is ONE editorial replace
          // op ([[replaceDocsInDedup]]) — re-fetched pages overwrite
          // their live generations; the near-dup screen and hygiene
          // gates do NOT run (ON CONFLICT DO UPDATE semantics —
          // callers wanting masking pre-mask the stream). Tombstones
          // accrete at the recrawl rate until [[compactDocDedup]]
          // applies them — compact on a cadence proportional to it
          // (the Tombstones.live size guard makes an overdue
          // compaction a throughput cost, never a correctness one)
          return writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
            replaceDocsInDedup(catalog, corpusTable, bucketTable, tt,
              batch, stateBuckets, seq = Some(base + batchId),
              shingleLen = shingleLen, numHashes = numHashes, bands = bands)
          }
        writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
          // single-writer op span: the whole micro-batch op — heal,
          // replay probe, appends, commit — holds the family writer
          // lease, so a concurrent writer or a concurrent log rewrite
          // refuses loudly (OpLog.withWriter)
          log.withWriter() {
          // heal any crashed maintenance/scrub swap BEFORE the first
          // probe or read (idempotent fs-metadata checks, no jobs)
          catalog.recoverCompaction(corpusTable, "pbk")
          catalog.recoverCompaction(bucketTable, "pbk")
          catalog.recoverReplace(tt)
          val seq = base + batchId
          // one |ops|-row collect answers replay flags and all three
          // tables' visibility as literal pushed filters (valid under
          // the single-writer lease — see OpLog.Snapshot)
          val snap = log.snapshot()
          val (done, crashed) = snap.replayState(seq)
          if (!done) {
            log.beginAttempt(seq)
            if (crashed) {
              catalog.scrubSeqs(corpusTable, "pbk", dedupCorpusSchema, Seq(seq))
              catalog.scrubSeqs(bucketTable, "pbk", dedupBucketSchema, Seq(seq))
            }
            val tomb = snap.visible(catalog.read(tt))
            val corpus = graft.operators.Tombstones.live(
              snap.visible(
                catalog.readWithSchema(corpusTable, dedupCorpusSchema)),
              tomb, "doc_id")
            val liveBuckets = graft.operators.Tombstones.live(
              snap.visible(
                catalog.readWithSchema(bucketTable, dedupBucketSchema)),
              tomb.withColumnRenamed("doc_id", "id"), "id")
            // duplicate ids within one batch resolve deterministically
            // (see Bm25Index.ingest). The batch's id-hash partition
            // values (prunes the corpus-side admission scan) and its
            // key count (guards the broadcast probe) RIDE the
            // checkpoint materialization as observed metrics — one
            // fewer job per op (the observe sits in the checkpoint
            // action's result stage: exactly-once under retries)
            val probeObs = org.apache.spark.sql.Observation()
            val deduped = batch
              .groupBy("doc_id").agg(F.max("text").as("text"))
              .observe(probeObs,
                F.collect_set(pbkOf(F.col("doc_id"))).as("pbks"),
                F.count(F.lit(1)).as("n"))
              .localCheckpoint() // reused: admission + screen
            val probe = probeObs.get
            val pbks = probe("pbks").asInstanceOf[Seq[Any]]
            val prunedIds = corpus
              .filter(F.col("pbk").isin(pbks: _*)).select("doc_id")
            val fresh = hygiene(
              if (probe("n").asInstanceOf[Long] > maxProbeIds)
                Upsert.newRows(deduped, prunedIds, "doc_id")
              else Upsert.newRowsViaProbe(deduped, prunedIds, "doc_id"))
            val (newBuckets, admitted) = screen(fresh, corpus, liveBuckets)
            catalog.appendPartitioned(bucketTable, newBuckets
                .join(admitted.select(F.col("doc_id").as("id")), Seq("id"), "leftsemi")
                .withColumn("seq", F.lit(seq))
                .withColumn("pbk", pbkOf(F.col("id"))),
              Seq("pbk"),
              clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
            catalog.appendPartitioned(corpusTable, admitted
                .select("doc_id", "text")
                .withColumn("seq", F.lit(seq))
                .withColumn("pbk", pbkOf(F.col("doc_id"))),
              Seq("pbk"),
              clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
            log.commitCount(seq, admitted.count())
          }
          }
        }
    }
  }

  /** Canonical layouts of the tombstone-aware dedup index family:
    * corpus and bucket tables are generation-stamped (`seq`) and
    * hive-partitioned by an id-hash bucket (`pbk`) so op scrubs and
    * tombstone application rewrite only the partitions holding affected
    * rows, and the per-batch admission scan prunes to the batch's
    * buckets. */
  /** The dedup family's LAYOUT STAMP covers every parameter baked into
    * stored rows: `stateBuckets` shapes the `pbk` partition values, and
    * (shingleLen, numHashes, bands) shape every bucket row's
    * (band, bk) — all four must match across reopens or the
    * partition-pruned probes silently miss existing rows. v2 widened
    * the stamp from the modulus alone to the full banding scheme.
    * Delete and compact don't stamp: neither writes LSH-shaped rows
    * (tombstones / row-preserving rewrites), and neither knows the
    * banding parameters. */
  def dedupLayoutStamp(
      stateBuckets: Int, shingleLen: Int, numHashes: Int, bands: Int): String =
    s"dedup v2 stateBuckets=$stateBuckets shingle=$shingleLen " +
      s"mh=$numHashes bands=$bands"

  /** The vector family's stamp: `stateBuckets` shapes `pbk`,
    * (nlist, m, ksub) shape every code row (cell ids < nlist, code
    * arrays of length m with values < ksub). A model retrain
    * ([[rebalanceVectorIndexIfSkewed]]) keeps the same constants —
    * changing them is a rebuild of the family, which is exactly what
    * the stamp refuses to let happen silently. v2 widened the stamp
    * from the modulus alone to the PQ constants. */
  def vectorLayoutStamp(
      stateBuckets: Int, nlist: Int, m: Int, ksub: Int): String =
    s"vector v2 stateBuckets=$stateBuckets nlist=$nlist m=$m ksub=$ksub"

  val dedupCorpusSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, seq BIGINT, pbk INT")
  val dedupBucketSchema: StructType = StructType.fromDDL(
    "id BIGINT, band INT, bk BIGINT, seq BIGINT, pbk INT")
  val dedupTombSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, seq BIGINT")

  def ensureDedupIndexTables(
      catalog: Catalog,
      corpusTable: String,
      bucketTable: String,
      tombTable: String): Unit = {
    catalog.ensurePartitionedTable(corpusTable)
    catalog.ensurePartitionedTable(bucketTable)
    catalog.ensureTable(tombTable, dedupTombSchema)
    new OpLog(catalog.spark, catalog, corpusTable + "_ops",
      OpLog.countPayload).ensure()
  }

  /** The dedup family's SERVE path — the registry probe: the committed
    * live corpus (doc_id, text, seq, pbk), exactly what admission
    * screens against and what a downstream consumer reads as "the
    * deduplicated corpus right now". Snapshot-isolated like
    * [[graft.streaming.Bm25Index.serve]]: one pinned [[OpLog.snapshot]]
    * answers visibility for BOTH the corpus and the tombstone scan, so
    * a replace op committing mid-read (tombstone + new generation under
    * one seq) is seen whole or not at all — never a state where the
    * victim is gone but its replacement invisible. Read-path heals are
    * lenient (an in-flight publish's marker means nothing is crashed).
    *
    * Scale shape: one pruned corpus scan + a tombstone join that stays
    * broadcast while deletes-since-compaction stay bounded
    * ([[graft.operators.Tombstones.live]]'s size guard) — nothing
    * corpus-sized shuffles. */
  def liveDedupDocs(
      catalog: Catalog,
      corpusTable: String,
      tombTable: String): DataFrame = {
    catalog.recoverCompaction(corpusTable, "pbk", lenient = true)
    catalog.recoverReplace(tombTable, lenient = true)
    val snap = new OpLog(catalog.spark, catalog, corpusTable + "_ops",
      OpLog.countPayload).snapshot()
    graft.operators.Tombstones.live(
      snap.visible(catalog.readWithSchema(corpusTable, dedupCorpusSchema)),
      snap.visible(catalog.readWithSchema(tombTable, dedupTombSchema)),
      "doc_id")
  }

  /** Delete documents from a tombstone-aware dedup corpus
    * ([[streamingDocDedup]] with `tombTable`): one exactly-once
    * [[OpLog]] op that tombstones the COMMITTED LIVE generations of
    * `ids`. One tombstone row kills the doc's generation in BOTH the
    * corpus and the bucket index (they were written by the same op, so
    * they share the seq) — the deleted doc immediately stops rejecting
    * near-duplicates, and its id is free for a fresh generation. Ids
    * not currently live are ignored. Omit `seq` to derive the next one
    * from the op log; pass the same seq to replay a crashed delete.
    */
  def deleteDocsFromDedup(
      catalog: Catalog,
      corpusTable: String,
      tombTable: String,
      ids: DataFrame,
      seq: Option[Long] = None): Unit = {
    val log = new OpLog(catalog.spark, catalog, corpusTable + "_ops",
      OpLog.countPayload)
    // single-writer op span: heal, replay probe, append, commit — a
    // concurrent writer or log rewrite refuses loudly (OpLog.withWriter)
    log.withWriter() {
    catalog.recoverCompaction(corpusTable, "pbk")
    catalog.recoverReplace(tombTable)
    // first-op safety: a delete may be the first operation ever run on
    // this family — materialize the tables it reads
    catalog.ensurePartitionedTable(corpusTable)
    catalog.ensureTable(tombTable, dedupTombSchema)
    log.ensure()
    // one |ops|-row collect answers base-seq derivation, replay flags
    // and both tables' visibility (single-writer lease; see
    // OpLog.Snapshot)
    val snap = log.snapshot()
    val sv = seq.getOrElse(snap.maxSeq.map(_ + 1L).getOrElse(0L))
    val (done, crashed) = snap.replayState(sv)
    if (done) return
    log.beginAttempt(sv)
    if (crashed) {
      val tombs = catalog.readWithSchema(tombTable, dedupTombSchema)
      if (!tombs.filter(F.col("seq") === sv).isEmpty)
        catalog.replaceTable(tombTable, tombs.filter(F.col("seq") =!= sv))
    }
    // the commit count rides the victim checkpoint as an observed
    // metric (result-stage observe: exactly-once) — one fewer job
    val countObs = org.apache.spark.sql.Observation()
    val victims = graft.operators.Tombstones.live(
        snap.visible(
          catalog.readWithSchema(corpusTable, dedupCorpusSchema)),
        snap.visible(catalog.readWithSchema(tombTable, dedupTombSchema)),
        "doc_id")
      .join(ids.select(F.col("doc_id").cast("long").as("doc_id"))
        .dropDuplicates("doc_id"), Seq("doc_id"), "leftsemi")
      .select(F.col("doc_id"), F.lit(sv).as("seq"))
      .observe(countObs, F.count(F.lit(1)).as("n"))
      .localCheckpoint() // referenced by the append below
    catalog.append(tombTable, victims)
    log.commitCount(sv, countObs.get("n").asInstanceOf[Long])
    }
  }

  /** REPLACE documents in a tombstone-aware dedup corpus as ONE
    * exactly-once [[OpLog]] op — the reference's `ON CONFLICT DO
    * UPDATE` arm for this family (the counterpart of
    * [[graft.streaming.Bm25Index.replace]]): every batch doc lands as
    * generation `seq` in BOTH the corpus and the bucket index (the new
    * text is re-shingled, so future near-duplicates of the REPLACED
    * content are what gets rejected), and any batch id currently live
    * is simultaneously tombstoned AT `seq` — tombstones kill strictly
    * older generations, so the op's own rows survive. One attempt
    * marker, one commit row; a crashed replace is invisible in full
    * (committed-only reads) and replays converge by scrub-then-redo.
    *
    * Replace is an editorial override: it does NOT run the near-dup
    * admission screen (the caller asserts the new content belongs under
    * this id — `ON CONFLICT DO UPDATE` semantics). Callers that want
    * hygiene (decontamination / PII masking) should pre-mask the batch;
    * the corpus and index always describe the same string.
    *
    * Scale shape: identical to the ingest arm — the victim lookup is
    * the broadcast probe against the partition-pruned live corpus
    * (state side scanned, never shuffled), re-shingling touches only
    * the batch, and appends land in the batch's `pbk` partitions.
    */
  def replaceDocsInDedup(
      catalog: Catalog,
      corpusTable: String,
      bucketTable: String,
      tombTable: String,
      batch: DataFrame,
      stateBuckets: Int = 16,
      seq: Option[Long] = None,
      shingleLen: Int = 5,
      numHashes: Int = 64,
      bands: Int = 4): Unit = {
    val log = new OpLog(catalog.spark, catalog, corpusTable + "_ops",
      OpLog.countPayload)
    // single-writer op span (OpLog.withWriter)
    log.withWriter() {
    catalog.recoverCompaction(corpusTable, "pbk")
    catalog.recoverCompaction(bucketTable, "pbk")
    catalog.recoverReplace(tombTable)
    // first-op safety: replace may be the first operation on the family
    ensureDedupIndexTables(catalog, corpusTable, bucketTable, tombTable)
    catalog.ensureLayoutMeta(corpusTable, dedupLayoutStamp(
      stateBuckets, shingleLen, numHashes, bands))
    def pbkOf(c: org.apache.spark.sql.Column) =
      F.pmod(F.xxhash64(c), F.lit(stateBuckets.toLong)).cast("int")
    // one |ops|-row collect answers base-seq derivation, replay flags
    // and both tables' visibility (single-writer lease; see
    // OpLog.Snapshot)
    val snap = log.snapshot()
    val sv = seq.getOrElse(snap.maxSeq.map(_ + 1L).getOrElse(0L))
    val (done, crashed) = snap.replayState(sv)
    if (done) return
    log.beginAttempt(sv)
    if (crashed) {
      catalog.scrubSeqs(corpusTable, "pbk", dedupCorpusSchema, Seq(sv))
      catalog.scrubSeqs(bucketTable, "pbk", dedupBucketSchema, Seq(sv))
      val tombs = catalog.readWithSchema(tombTable, dedupTombSchema)
      if (!tombs.filter(F.col("seq") === sv).isEmpty)
        catalog.replaceTable(tombTable, tombs.filter(F.col("seq") =!= sv))
    }
    // in-batch id dups resolve deterministically (see Bm25Index.ingest);
    // the pbk probe and the commit count ride the checkpoint as
    // observed metrics (result-stage observe: exactly-once)
    val probeObs = org.apache.spark.sql.Observation()
    val deduped = batch
      .select(F.col("doc_id").cast("long").as("doc_id"), F.col("text"))
      .groupBy("doc_id").agg(F.max("text").as("text"))
      .observe(probeObs,
        F.collect_set(pbkOf(F.col("doc_id"))).as("pbks"),
        F.count(F.lit(1)).as("n"))
      .localCheckpoint() // reused: victims + appends
    val pbks = probeObs.get("pbks").asInstanceOf[Seq[Any]]
    // the batch ids' currently-live generations die at `sv`; same
    // zero-state-shuffle probe plan as admission, semi instead of anti
    val victims = graft.operators.Tombstones.live(
        snap.visible(catalog.readWithSchema(corpusTable, dedupCorpusSchema)),
        snap.visible(catalog.readWithSchema(tombTable, dedupTombSchema)),
        "doc_id")
      .filter(F.col("pbk").isin(pbks: _*))
      .join(F.broadcast(deduped.select("doc_id")), Seq("doc_id"), "leftsemi")
      .select(F.col("doc_id"), F.lit(sv).as("seq"))
      .localCheckpoint() // referenced by tombstone append
    catalog.appendPartitioned(bucketTable,
      // MUST use the stream's banding scheme: bucket rows written under
      // different (shingleLen, numHashes, bands) would never join the
      // ingest path's (band, bk) probes — silently missing near-dups of
      // replaced content
      graft.operators.Dedup.bucketTableMd5(deduped,
          shingleLen = shingleLen, numHashes = numHashes, bands = bands)
        .withColumn("seq", F.lit(sv))
        .withColumn("pbk", pbkOf(F.col("id"))),
      Seq("pbk"),
      clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
    catalog.appendPartitioned(corpusTable, deduped
        .select("doc_id", "text")
        .withColumn("seq", F.lit(sv))
        .withColumn("pbk", pbkOf(F.col("doc_id"))),
      Seq("pbk"),
      clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
    catalog.append(tombTable, victims)
    log.commitCount(sv, probeObs.get("n").asInstanceOf[Long])
    }
  }

  /** Physically scrub the dead generations and abandoned-attempt
    * garbage from both dedup tables, partition-locally
    * ([[Generations.compact]]: only `pbk` partitions holding affected
    * rows are rewritten; the tombstone clear anti-joins the applied
    * snapshot, so a concurrent delete's tombstone survives
    * un-applied). */
  def compactDocDedup(
      catalog: Catalog,
      corpusTable: String,
      bucketTable: String,
      tombTable: String,
      maxFilesPerPartition: Int = 2,
      checkpointOps: Boolean = false): Unit = {
    // both tables are id-hash-partitioned under the SAME modulus, which
    // the family's verified layout stamp records (stateBuckets=N): with
    // it, affected partitions derive driver-side from the tombstone ids
    // — zero probe jobs; a stamp-less family (pre-stamp warehouse)
    // falls back to the probe scan.
    val partOf = Generations.stampBuckets(catalog.readLayoutMeta(corpusTable))
      .map(Generations.idHashPartition)
    Generations.compact(catalog,
      new OpLog(catalog.spark, catalog, corpusTable + "_ops",
        OpLog.countPayload),
      tombTable, dedupTombSchema, "doc_id",
      Seq(
        Generations.Stamped(corpusTable, "pbk", dedupCorpusSchema, "doc_id",
          partOfId = partOf),
        Generations.Stamped(bucketTable, "pbk", dedupBucketSchema, "id",
          partOfId = partOf)),
      maxFilesPerPartition, checkpointLog = checkpointOps)
  }

  /** Streaming ANN serving: each micro-batch of query vectors is
    * answered from the PERSISTED LSH bucket index
    * ([[graft.operators.Similarity.lshBucketTable]]) — the online half
    * of the offline-index/online-probe split. Results append to a
    * results table via `sink`.
    *
    * The index is CACHED across micro-batches (persisted on first use)
    * and re-read only when `indexVersion()` changes — at real index
    * sizes a per-batch full re-scan is a serving tax, so freshness is
    * an explicit, bounded contract: publish a new index, bump the
    * version (a catalog table version, an epoch stamp in a _VERSION
    * file, ...), and the NEXT batch atomically swaps to it (old cache
    * unpersisted). The default version is constant = a static index,
    * cached for the stream's lifetime.
    *
    * Scale shape: the corpus appears only through its bucket index
    * (slim (id, bucket, qv) rows) and that index is scanned ONCE per
    * version, not once per batch; each batch is a bounded query set
    * that broadcasts into the bucket join exactly as in the batch
    * path — serving shares ALL its semantics with
    * [[graft.operators.Similarity.lshTopKFromIndex]], so batch-graded
    * correctness carries over to the stream.
    */
  def streamingAnnServe(
      queries: DataFrame,
      index: () => DataFrame,
      checkpoint: String,
      k: Int = 5,
      bits: Int = 8,
      dims: Int = 64,
      indexVersion: () => Long = () => 0L)(
      sink: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    // per-stream cache state, touched only inside foreachBatch (which
    // Structured Streaming serializes per query — no concurrent batches)
    var cachedVersion = Option.empty[Long]
    var cached: DataFrame = null
    queries.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val v = indexVersion()
          if (!cachedVersion.contains(v)) {
            // localCheckpoint, NOT persist: a lazy persist keeps the
            // file-listing lineage, so after a publisher OVERWRITES the
            // index path a lost cached partition would recompute from
            // deleted/refreshed files — failing the batch or silently
            // mixing index versions. The eager, lineage-free copy pins
            // version v.
            val old = Option(cached)
            cached = index().localCheckpoint()
            cachedVersion = Some(v)
            // release the superseded copy's executor blocks NOW: a
            // long-running stream with frequent version bumps would
            // otherwise hold every old index in storage until driver GC
            old.foreach(_.rdd.unpersist(blocking = false))
          }
          sink(graft.operators.Similarity.lshTopKFromIndex(
            cached, batch, k, bits, dims = dims))
        }
      }
  }

  /** Watermarked tumbling-window aggregation over an event stream:
    * count + decimal-exact value sum per (window, event_type). Late data
    * beyond `lateness` is dropped; state is bounded by the watermark.
    */
  def windowedEventCounts(
      events: DataFrame,
      window: String = "5 minutes",
      lateness: String = "10 minutes"): DataFrame =
    // tumbling is the slide == window special case; one body owns the
    // watermark/agg/projection contract for both streaming twins
    slidingEventCounts(events, window, window, lateness)

  /** Sliding-window variant of [[windowedEventCounts]]: overlapping
    * windows every `slide`, the streaming twin of the batch q_sliding
    * query. Each event lands in window/slide windows map-side before
    * the stateful aggregation; the watermark bounds state exactly as in
    * the tumbling case (a window finalizes once the watermark passes
    * its end).
    */
  def slidingEventCounts(
      events: DataFrame,
      window: String = "10 minutes",
      slide: String = "5 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(F.window(F.col("ts"), window, slide), F.col("event_type"))
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(
        F.col("window.start").as("win_start"),
        F.col("event_type"), F.col("n"), F.col("sum_value"))

  /** Streaming dedup on a key within the watermark horizon. */
  def dedupStream(events: DataFrame, keyCols: Seq[String], lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicates(keyCols :+ "ts")

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(count: Long, start: Long, last: Long)
  final case class SessionOut(user_id: Long, n_events: Long, duration_us: Long)

  /** Streaming IVF-PQ index MAINTENANCE — the online half of
    * [[graft.operators.Similarity.ivfPqIndex]]'s offline build: each
    * micro-batch of new vectors is cell-assigned and PQ-coded against
    * the FROZEN persisted model (collected once, model-sized) and
    * appended to the codes table; the model never moves, so codes
    * written today and codes written next month score identically and
    * [[graft.operators.Similarity.ivfPqTopKFromIndex]] serves the
    * growing table without a rebuild. Replay-idempotent: ids already
    * coded by a crashed attempt are skipped via left-anti on the codes
    * table.
    *
    * Scale shape: per batch, coding is map-only against literal
    * centroids (the ivfPqCodeTable kernel); the idempotence probe is
    * the shared [[graft.operators.Upsert.newRows]] (in-batch
    * dropDuplicates + anti-join) — the incremental-dedup pattern
    * applied to index maintenance.
    *
    * Caller must `catalog.ensureTable(codesTable, schema)` (and seed
    * it with the offline build's codes) BEFORE starting the stream —
    * the first batch reads the table for the idempotence probe.
    */
  def streamingIvfPqIndex(
      vectors: DataFrame,
      model: DataFrame,
      catalog: Catalog,
      codesTable: String,
      checkpoint: String,
      nlist: Int = 16,
      m: Int = 4,
      ksub: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      tombTable: Option[String] = None,
      baseSeq: Option[Long] = None,
      codesSchema: Option[StructType] = None,
      stateBuckets: Int = 16,
      maxProbeIds: Long = 4L * 1024 * 1024,
      replaceMode: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] = {
    val pool = graft.operators.Similarity.collectPool(model)
    require(pool.nonEmpty, "streamingIvfPqIndex needs a non-empty model")
    require(!replaceMode || tombTable.nonEmpty,
      "replaceMode needs the tombstone-aware layout (tombTable)")
    val writer = vectors.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
    tombTable match {
      case None =>
        // append-only mode on a flat table: probe-and-skip replay
        // idempotence, sound even under a PARTIAL append commit because
        // the codes table is one row per vector and admission anti-joins
        // per id — rows a crashed commit dropped are simply re-admitted
        // on replay (unlike the dedup index's multi-row-per-doc band
        // rows, which need the single-file commit). The append is still
        // forced to ONE file: all-or-nothing under the v1 committer
        // (pinned in GraftSession) and the right write shape for a flat
        // table no compaction pass heals. Backfill-sized batches belong
        // in the tombstone-aware mode below (full OpLog scrub-then-redo,
        // multi-file appends fine) — prefer it in production generally.
        writer.foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            catalog.recoverReplace(codesTable)
            val codes = graft.operators.Similarity.ivfPqCodeTable(
              batch, pool, nlist, m, ksub, idCol, vecCol)
            catalog.append(codesTable,
              Upsert.newRows(codes, catalog.read(codesTable), "neighbor_id")
                .coalesce(1))
          }
        }
      case Some(tt) =>
        // tombstone-aware maintenance: codes are generation-stamped and
        // id-hash-partitioned (`pbk`), each micro-batch is one
        // exactly-once [[OpLog]] op, and admission is the broadcast
        // probe against the COMMITTED live code set — so a deleted
        // vector re-ingests as a fresh generation (the replace arm)
        // while a live one is dropped (insert-if-absent), replays never
        // lose partial appends, and [[deleteVectors]]' tombstones cut
        // old generations without touching the appended files until
        // [[compactVectorIndex]] scrubs them partition-locally.
        val schema = codesSchema.getOrElse(throw new IllegalArgumentException(
          "tombstone-aware streamingIvfPqIndex needs codesSchema " +
            "(the ivfPqCodeTable schema + seq BIGINT + pbk INT)"))
        val log = new OpLog(catalog.spark, catalog, codesTable + "_ops",
          OpLog.countPayload)
        log.ensure()
        // stored pbk values bake in the id-hash modulus and code rows
        // bake in the PQ constants: refuse a mismatched reopen loudly
        catalog.ensureLayoutMeta(codesTable,
          vectorLayoutStamp(stateBuckets, nlist, m, ksub))
        val base = baseSeq.map(log.requireFreshBase).getOrElse(log.nextBaseSeq)
        def pbkOf(c: org.apache.spark.sql.Column) =
          F.pmod(F.xxhash64(c), F.lit(stateBuckets.toLong)).cast("int")
        if (replaceMode)
          // RECRAWL stream: each micro-batch is ONE replace op
          // ([[replaceVectors]]) — re-embedded ids overwrite their
          // live codes instead of being dropped as already-present.
          // Tombstones accrete at the recrawl rate until
          // [[compactVectorIndex]] applies them — compact on a cadence
          // proportional to it
          return writer.foreachBatch { (batch: DataFrame, id: Long) =>
            replaceVectors(catalog, codesTable, schema, tt, batch, model,
              nlist, m, ksub, idCol, vecCol, stateBuckets,
              seq = Some(base + id))
          }
        writer.foreachBatch { (batch: DataFrame, id: Long) =>
          // single-writer op span (OpLog.withWriter): concurrent
          // writers and log rewrites refuse loudly
          log.withWriter() {
          catalog.recoverCompaction(codesTable, "pbk")
          catalog.recoverReplace(tt)
          val seq = base + id
          // one |ops|-row collect for replay flags + both tables'
          // visibility (single-writer lease; see OpLog.Snapshot)
          val snap = log.snapshot()
          val (done, crashed) = snap.replayState(seq)
          if (!done) {
            log.beginAttempt(seq)
            if (crashed)
              catalog.scrubSeqs(codesTable, "pbk", schema, Seq(seq))
            val live = graft.operators.Tombstones.live(
              snap.visible(catalog.readWithSchema(codesTable, schema)),
              snap.visible(catalog.readWithSchema(tt, vectorTombSchema)),
              "neighbor_id")
            // coding is map-only against the frozen literal centroids;
            // in-batch id dups resolve by dropDuplicates (a vector's
            // code is a pure function of the embedding, so any winner
            // codes identically). Probe values and the commit count
            // ride their checkpoints as observed metrics — two fewer
            // jobs per op (result-stage observes: exactly-once)
            val probeObs = org.apache.spark.sql.Observation()
            val deduped = graft.operators.Similarity.ivfPqCodeTable(
                batch, pool, nlist, m, ksub, idCol, vecCol)
              .dropDuplicates("neighbor_id")
              .observe(probeObs,
                F.collect_set(pbkOf(F.col("neighbor_id"))).as("pbks"),
                F.count(F.lit(1)).as("n"))
              .localCheckpoint() // reused: admission + append
            val probe = probeObs.get
            val pbks = probe("pbks").asInstanceOf[Seq[Any]]
            val prunedIds = live
              .filter(F.col("pbk").isin(pbks: _*)).select("neighbor_id")
            val countObs = org.apache.spark.sql.Observation()
            val admitted = (
                if (probe("n").asInstanceOf[Long] > maxProbeIds)
                  Upsert.newRows(deduped, prunedIds, "neighbor_id")
                else Upsert.newRowsViaProbe(deduped, prunedIds, "neighbor_id"))
              .observe(countObs, F.count(F.lit(1)).as("n"))
              .localCheckpoint() // referenced by the append below
            catalog.appendPartitioned(codesTable, admitted
                .withColumn("seq", F.lit(seq))
                .withColumn("pbk", pbkOf(F.col("neighbor_id"))),
              Seq("pbk"),
              clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
            log.commitCount(seq, countObs.get("n").asInstanceOf[Long])
          }
          }
        }
    }
  }

  val vectorTombSchema: StructType = StructType.fromDDL(
    "neighbor_id BIGINT, seq BIGINT")

  /** The tombstone-aware codes-table layout for a given
    * [[graft.operators.Similarity.ivfPqCodeTable]] schema. */
  def vectorCodesSchema(codeTableSchema: StructType): StructType =
    StructType(codeTableSchema.fields ++ StructType.fromDDL(
      "seq BIGINT, pbk INT").fields)

  def ensureVectorIndexTables(
      catalog: Catalog,
      codesTable: String,
      tombTable: String,
      codesSchema: StructType): Unit = {
    catalog.ensurePartitionedTable(codesTable)
    catalog.ensureTable(tombTable, vectorTombSchema)
    new OpLog(catalog.spark, catalog, codesTable + "_ops",
      OpLog.countPayload).ensure()
  }

  /** Delete vectors from a tombstone-aware codes table
    * ([[streamingIvfPqIndex]] with `tombTable`): one exactly-once
    * [[OpLog]] op tombstoning the COMMITTED LIVE generations of `ids`
    * (a frame carrying `neighbor_id`). Ids not currently live are
    * ignored. Omit `seq` to derive the next one from the op log; pass
    * the same seq to replay a crashed delete. Serving anti-joins the
    * tombstones ([[graft.operators.Tombstones.live]]) until
    * [[compactVectorIndex]] applies them physically.
    */
  def deleteVectors(
      catalog: Catalog,
      codesTable: String,
      codesSchema: StructType,
      tombTable: String,
      ids: DataFrame,
      seq: Option[Long] = None): Unit = {
    val log = new OpLog(catalog.spark, catalog, codesTable + "_ops",
      OpLog.countPayload)
    // single-writer op span (OpLog.withWriter)
    log.withWriter() {
    catalog.recoverCompaction(codesTable, "pbk")
    catalog.recoverReplace(tombTable)
    // first-op safety: a delete may be the first operation ever run on
    // this family — materialize the tables it reads
    ensureVectorIndexTables(catalog, codesTable, tombTable, codesSchema)
    // one |ops|-row collect: base seq, replay flags, both tables'
    // visibility (single-writer lease; see OpLog.Snapshot)
    val snap = log.snapshot()
    val sv = seq.getOrElse(snap.maxSeq.map(_ + 1L).getOrElse(0L))
    val (done, crashed) = snap.replayState(sv)
    if (done) return
    log.beginAttempt(sv)
    if (crashed) {
      val tombs = catalog.readWithSchema(tombTable, vectorTombSchema)
      if (!tombs.filter(F.col("seq") === sv).isEmpty)
        catalog.replaceTable(tombTable, tombs.filter(F.col("seq") =!= sv))
    }
    // the commit count rides the victim checkpoint as an observed
    // metric (result-stage observe: exactly-once) — one fewer job
    val countObs = org.apache.spark.sql.Observation()
    val victims = graft.operators.Tombstones.live(
        snap.visible(catalog.readWithSchema(codesTable, codesSchema)),
        snap.visible(catalog.readWithSchema(tombTable, vectorTombSchema)),
        "neighbor_id")
      .join(ids.select(F.col("neighbor_id").cast("long").as("neighbor_id"))
        .dropDuplicates("neighbor_id"), Seq("neighbor_id"), "leftsemi")
      .select(F.col("neighbor_id"), F.lit(sv).as("seq"))
      .observe(countObs, F.count(F.lit(1)).as("n"))
      .localCheckpoint() // referenced by the append below
    catalog.append(tombTable, victims)
    log.commitCount(sv, countObs.get("n").asInstanceOf[Long])
    }
  }

  /** REPLACE vectors in a tombstone-aware codes table as ONE
    * exactly-once [[OpLog]] op — the `ON CONFLICT DO UPDATE` arm for
    * the vector family: every batch vector is coded against the FROZEN
    * `model` (map-only, like the streaming ingest) and lands as
    * generation `seq`, and any batch id currently live is
    * simultaneously tombstoned AT `seq` (tombstones kill strictly
    * older generations, so the op's own codes survive). One attempt
    * marker, one commit row — no window where the old code is gone and
    * the new one not yet committed, unlike the delete-then-reingest
    * choreography, which takes two ops. Replays converge by
    * scrub-then-redo; drift-triggered retraining stays the separate
    * [[graft.operators.Similarity.ivfRebalanceIfSkewed]] contract.
    */
  def replaceVectors(
      catalog: Catalog,
      codesTable: String,
      codesSchema: StructType,
      tombTable: String,
      batch: DataFrame,
      model: DataFrame,
      nlist: Int = 16,
      m: Int = 4,
      ksub: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      stateBuckets: Int = 16,
      seq: Option[Long] = None): Unit = {
    val pool = graft.operators.Similarity.collectPool(model)
    require(pool.nonEmpty, "replaceVectors needs a non-empty model")
    val log = new OpLog(catalog.spark, catalog, codesTable + "_ops",
      OpLog.countPayload)
    // single-writer op span (OpLog.withWriter)
    log.withWriter() {
    catalog.recoverCompaction(codesTable, "pbk")
    catalog.recoverReplace(tombTable)
    // first-op safety: replace may be the first operation on the family
    ensureVectorIndexTables(catalog, codesTable, tombTable, codesSchema)
    catalog.ensureLayoutMeta(codesTable,
      vectorLayoutStamp(stateBuckets, nlist, m, ksub))
    def pbkOf(c: org.apache.spark.sql.Column) =
      F.pmod(F.xxhash64(c), F.lit(stateBuckets.toLong)).cast("int")
    // one |ops|-row collect: base seq, replay flags, both tables'
    // visibility (single-writer lease; see OpLog.Snapshot)
    val snap = log.snapshot()
    val sv = seq.getOrElse(snap.maxSeq.map(_ + 1L).getOrElse(0L))
    val (done, crashed) = snap.replayState(sv)
    if (done) return
    log.beginAttempt(sv)
    if (crashed) {
      catalog.scrubSeqs(codesTable, "pbk", codesSchema, Seq(sv))
      val tombs = catalog.readWithSchema(tombTable, vectorTombSchema)
      if (!tombs.filter(F.col("seq") === sv).isEmpty)
        catalog.replaceTable(tombTable, tombs.filter(F.col("seq") =!= sv))
    }
    // a vector's code is a pure function of the embedding, so any
    // in-batch dup winner codes identically; pbk probe + commit count
    // ride the checkpoint as observed metrics (result-stage observe)
    val probeObs = org.apache.spark.sql.Observation()
    val coded = graft.operators.Similarity.ivfPqCodeTable(
        batch, pool, nlist, m, ksub, idCol, vecCol)
      .dropDuplicates("neighbor_id")
      .observe(probeObs,
        F.collect_set(pbkOf(F.col("neighbor_id"))).as("pbks"),
        F.count(F.lit(1)).as("n"))
      .localCheckpoint() // reused: victims + append
    val probeVals = probeObs.get
    val pbks = probeVals("pbks").asInstanceOf[Seq[Any]]
    val victims = graft.operators.Tombstones.live(
        snap.visible(catalog.readWithSchema(codesTable, codesSchema)),
        snap.visible(catalog.readWithSchema(tombTable, vectorTombSchema)),
        "neighbor_id")
      .filter(F.col("pbk").isin(pbks: _*))
      .join(F.broadcast(coded.select("neighbor_id")), Seq("neighbor_id"),
        "leftsemi")
      .select(F.col("neighbor_id"), F.lit(sv).as("seq"))
      .localCheckpoint() // referenced by tombstone append
    catalog.appendPartitioned(codesTable, coded
        .withColumn("seq", F.lit(sv))
        .withColumn("pbk", pbkOf(F.col("neighbor_id"))),
      Seq("pbk"),
      clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
    catalog.append(tombTable, victims)
    log.commitCount(sv, probeVals("n").asInstanceOf[Long])
    }
  }

  /** Physically apply the tombstones to the codes table and scrub
    * abandoned-attempt garbage, partition-locally
    * ([[Generations.compact]]): only `pbk` partitions holding affected
    * codes are rewritten, and the tombstone clear anti-joins the
    * applied snapshot so a concurrent delete's tombstone survives
    * un-applied. */
  def compactVectorIndex(
      catalog: Catalog,
      codesTable: String,
      codesSchema: StructType,
      tombTable: String,
      maxFilesPerPartition: Int = 2,
      checkpointOps: Boolean = false): Unit =
    Generations.compact(catalog,
      new OpLog(catalog.spark, catalog, codesTable + "_ops",
        OpLog.countPayload),
      tombTable, vectorTombSchema, "neighbor_id",
      // pbk = hash(neighbor_id) % stateBuckets, the modulus recorded in
      // the family's verified layout stamp: affected partitions derive
      // driver-side from the tombstone ids (probe fallback if unstamped)
      Seq(Generations.Stamped(codesTable, "pbk", codesSchema, "neighbor_id",
        partOfId = Generations.stampBuckets(catalog.readLayoutMeta(codesTable))
          .map(Generations.idHashPartition))),
      maxFilesPerPartition, checkpointLog = checkpointOps)

  /** Model-table layout for the tombstone-aware vector index: one row
    * per (cid, centroid) per GENERATION — the model is
    * generation-stamped so a drift-triggered rebuild swaps model and
    * codes ATOMICALLY through the op-log commit (two separate
    * replace-managed tables could crash into a mismatched pair: new
    * model with old codes scores garbage ADC distances). */
  val vectorModelSchema: StructType = StructType.fromDDL(
    "cid INT, centroid ARRAY<BIGINT>, seq BIGINT")

  /** The live model of a tombstone-aware vector index: the rows of the
    * HIGHEST visible generation (open attempts excluded — a crashed
    * rebuild's model rows never serve). One |model|-row probe. */
  def liveVectorModel(
      catalog: Catalog,
      codesTable: String,
      modelTable: String,
      snapshot: Option[OpLog.Snapshot] = None): DataFrame = {
    // heal a GC replaceTable that crashed between move-aside and
    // swap-in BEFORE reading — without this the read throws
    // path-not-found until some maintenance entry happens to run
    catalog.recoverReplace(modelTable)
    // serve paths pass their pinned snapshot so the model pick and the
    // code/tombstone visibility agree on one committed prefix;
    // maintenance entries (running under the writer lease, nothing
    // committing concurrently) omit it and read the log lazily
    val vis = snapshot match {
      case Some(s) =>
        s.visible(catalog.readWithSchema(modelTable, vectorModelSchema))
      case None =>
        new OpLog(catalog.spark, catalog, codesTable + "_ops",
          OpLog.countPayload).visible(
          catalog.readWithSchema(modelTable, vectorModelSchema))
    }
    val mx = vis.agg(F.max("seq")).head().get(0)
    require(mx != null, s"$modelTable holds no visible model generation")
    vis.filter(F.col("seq") === mx.asInstanceOf[Long]).drop("seq")
  }

  /** Register a model generation (the offline seed, or any externally
    * trained pool) at `seq`: model rows land stamped, and the
    * generation registers in the op log so derived seqs stay above it
    * and [[liveVectorModel]] can see it. */
  def seedVectorIndexModel(
      catalog: Catalog,
      codesTable: String,
      modelTable: String,
      model: DataFrame,
      seq: Long): Unit = {
    // heal BEFORE the append: appending onto a mid-replace-crashed
    // table would recreate the live dir and make the next heal discard
    // the moved-aside rows as a dead stage
    catalog.recoverReplace(modelTable)
    catalog.ensureTable(modelTable, vectorModelSchema)
    val log = new OpLog(catalog.spark, catalog, codesTable + "_ops",
      OpLog.countPayload)
    log.ensure()
    catalog.append(modelTable, model.withColumn("seq", F.lit(seq)))
    log.commitCount(seq, model.count())
  }

  /** Drift-triggered re-balance for the PERSISTED vector index — the
    * catalog-backed closure of
    * [[graft.operators.Similarity.ivfRebalanceIfSkewed]]'s loop: a
    * replace-heavy recrawl stream re-codes drifting content against a
    * frozen pool, the coarse cells skew, and every probe of the hot
    * cell scans a growing corpus fraction. This maintenance entry
    * measures the occupancy of the LIVE code set (a \|cells\|-row
    * aggregate; same milli-exact integer trigger as the batch op) and,
    * when it fires, rebuilds model AND codes on `vectors` (the caller's
    * live raw corpus — the codes table stores only codes, by design) as
    * ONE exactly-once [[OpLog]] op: new model generation appended, new
    * codes appended at the same seq, every live id tombstoned at that
    * seq (killing all older generations), one commit. A crash anywhere
    * before the commit leaves the WHOLE rebuild invisible — serving
    * never sees a new model with old codes or vice versa; abandoned
    * rebuild garbage is GC'd here and at [[compactVectorIndex]].
    *
    * Returns whether the rebuild fired. Run under the single-writer
    * maintenance discipline with ingest/replace streams PAUSED, and
    * restart them afterwards against [[liveVectorModel]] — a stream
    * constructed over the old pool would otherwise keep coding new
    * batches against dead centroids. The rebuild-sized tombstone set is
    * cleared by the next [[compactVectorIndex]]; `Tombstones.live`'s
    * size guard keeps an overdue compaction a throughput cost, never a
    * correctness one.
    */
  def rebalanceVectorIndexIfSkewed(
      catalog: Catalog,
      codesTable: String,
      codesSchema: StructType,
      tombTable: String,
      modelTable: String,
      vectors: DataFrame,
      nlist: Int = 16,
      m: Int = 4,
      ksub: Int = 8,
      maxCellMilli: Long = 4000L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      stateBuckets: Int = 16): Boolean =
    // rebuilds replace the model and clear-and-reseed the codes —
    // maintenance, so it shares the family lease with
    // [[compactVectorIndex]] (same scope: the family's op log)
    catalog.withMaintenanceLease(codesTable + "_ops") {
    catalog.recoverCompaction(codesTable, "pbk")
    catalog.recoverReplace(tombTable)
    catalog.recoverReplace(modelTable)
    catalog.ensureTable(modelTable, vectorModelSchema)
    catalog.ensureLayoutMeta(codesTable,
      vectorLayoutStamp(stateBuckets, nlist, m, ksub))
    val log = new OpLog(catalog.spark, catalog, codesTable + "_ops",
      OpLog.countPayload)
    log.ensure()
    // GC abandoned-rebuild model rows while here (codes/tombstone
    // garbage is compactVectorIndex's job; the model table is the one
    // flat table no other maintenance pass touches)
    // one |ops|-row collect: garbage seqs, visibility, the rebuild's
    // derived seq (single-writer lease; see OpLog.Snapshot)
    val snap = log.snapshot()
    val garbage = snap.garbageSeqs
    if (garbage.nonEmpty) {
      val mrows = catalog.readWithSchema(modelTable, vectorModelSchema)
      if (!mrows.filter(F.col("seq").isin(garbage: _*)).isEmpty)
        catalog.replaceTable(modelTable,
          mrows.filter(!F.col("seq").isin(garbage: _*)))
    }
    val live = graft.operators.Tombstones.live(
        snap.visible(catalog.readWithSchema(codesTable, codesSchema)),
        snap.visible(catalog.readWithSchema(tombTable, vectorTombSchema)),
        "neighbor_id")
      .localCheckpoint() // reused: trigger aggregate + rebuild tombstones
    val row = live.groupBy("cell").agg(F.count(F.lit(1)).as("c"))
      .agg(F.coalesce(F.max("c"), F.lit(0L)).as("mx"),
        F.coalesce(F.sum("c"), F.lit(0L)).as("tot"))
      .head()
    val (mx, tot) = (row.getLong(0), row.getLong(1))
    if (tot == 0L || mx * nlist * 1000L <= maxCellMilli * tot) false
    else {
      // fired: rebuild model + codes on the live corpus as ONE op (the
      // derived seq sits above every attempt, so no scrub arm is needed —
      // a crashed rebuild's seq is never reused; the snapshot is still
      // current — nothing commits mid-span under the writer lease)
      val sv = snap.maxSeq.map(_ + 1L).getOrElse(0L)
      log.beginAttempt(sv)
      def pbkOf(c: org.apache.spark.sql.Column) =
        F.pmod(F.xxhash64(c), F.lit(stateBuckets.toLong)).cast("int")
      val (newModel, newCodes) = graft.operators.Similarity.ivfPqIndex(
        vectors, nlist, m, ksub, idCol, vecCol)
      catalog.append(modelTable, newModel.withColumn("seq", F.lit(sv)))
      catalog.appendPartitioned(codesTable, newCodes
          .withColumn("seq", F.lit(sv))
          .withColumn("pbk", pbkOf(F.col("neighbor_id"))),
        Seq("pbk"),
        clusterInto = Some(writeWidth(catalog.spark, stateBuckets)))
      catalog.append(tombTable,
        live.select(F.col("neighbor_id"), F.lit(sv).as("seq")))
      log.commitCount(sv, newCodes.count())
      true
    }
  }

  /** Serve top-k from the persisted (model, codes) pair — reads the
    * committed-consistent generation: [[liveVectorModel]] plus the
    * live code set. The pair can never mismatch (both swap in the same
    * op-log commit). */
  def serveVectorIndex(
      catalog: Catalog,
      codesTable: String,
      codesSchema: StructType,
      tombTable: String,
      modelTable: String,
      queries: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 4,
      ksub: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    catalog.recoverCompaction(codesTable, "pbk")
    catalog.recoverReplace(tombTable)
    catalog.recoverReplace(modelTable)
    // one pinned committed-prefix snapshot answers visibility for codes,
    // tombstones AND the model generation pick — a commit landing
    // mid-serve can never pair a new model with old codes (or skew the
    // live set between the two scans)
    val snap = new OpLog(catalog.spark, catalog, codesTable + "_ops",
      OpLog.countPayload).snapshot()
    val live = graft.operators.Tombstones.live(
      snap.visible(catalog.readWithSchema(codesTable, codesSchema)),
      snap.visible(catalog.readWithSchema(tombTable, vectorTombSchema)),
      "neighbor_id")
    graft.operators.Similarity.ivfPqTopKFromIndex(
      liveVectorModel(catalog, codesTable, modelTable, Some(snap)),
      live.drop("seq", "pbk"), queries, k, nlist, nprobe, m, ksub,
      idCol, vecCol)
  }

  final case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, cents: Long)
  final case class EwmaState(n_events: Long, ewma_cents: Long)

  /** Streaming twin of [[graft.operators.Sessions.ewmaByKey]]: the
    * per-key integer EWMA maintained INCREMENTALLY across micro-batches
    * with `mapGroupsWithState` — state is two longs per key, each batch
    * folds its events in (ts, event_id) order through the identical
    * `(num·x + (2^shift−num)·s) >> shift` recurrence, and the running
    * (key, n_events, ewma_cents) row is emitted every batch (Update
    * mode). Equals the batch operator whenever batches arrive in
    * event-time order (the recurrence is order-sensitive BY DESIGN —
    * that is what "moving" means); late cross-batch stragglers fold at
    * arrival, the standard online-EWMA behavior.
    *
    * Scale shape: state is O(2 longs × active keys) with no event
    * retention — the streaming-aggregation ideal; per batch each key
    * touches only its own events.
    */
  def streamingEwma(
      events: Dataset[EwmaEvent],
      num: Long = 1L,
      shift: Int = 1): Dataset[(Long, Long, Long)] = {
    val den = 1L << shift
    require(shift >= 1 && shift <= 32 && num >= 1 && num < den,
      "need 1 <= num < 2^shift")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          var s = state.getOption.getOrElse(EwmaState(0L, 0L))
          // microsecond-exact order to match the batch twin's
          // unix_micros sort: getTime alone truncates to milliseconds
          // and same-millisecond events would fold in id order instead;
          // floorDiv (not /) so pre-epoch timestamps floor like
          // unix_micros rather than truncating toward zero
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
          rows.toArray.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            s =
              if (s.n_events == 0L) EwmaState(1L, e.cents)
              else EwmaState(s.n_events + 1,
                (num * e.cents + (den - num) * s.ewma_cents) >> shift)
          }
          state.update(s)
          (uid, s.n_events, s.ewma_cents)
      }
  }

  /** Custom stateful operator: session windows via flatMapGroupsWithState
    * with an EVENT-TIME timeout — a session emits once `gapMs` of
    * event-time inactivity has passed (measured against the watermark),
    * and its state is REMOVED. State is therefore bounded by the set of
    * keys active within the watermark horizon; a NoTimeout variant would
    * keep every key ever seen in the state store forever, which is fatal
    * at 100 TB/day. Gaps inside a batch split sessions too, so one key
    * can emit several sessions.
    *
    * Gap tests and durations are MICROSECOND-exact — the same
    * unix_micros domain [[graft.operators.Sessions.sessionizeBatch]]
    * sessionizes in, so the two twins agree on sub-millisecond
    * timestamps (getTime alone floors to ms, which can merge a
    * gap-exceeding pair the batch twin splits). Only the state-store
    * timeout registration rounds to the engine's ms clock; as long as
    * in-order events arrive before the watermark passes their
    * session's gap horizon (guaranteed for event-time-ordered replay
    * with any positive delay), the rounding cannot change a split.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // floorDiv so pre-epoch timestamps floor like unix_micros
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
          if (state.hasTimedOut) {
            // watermark passed last-event + gap: close and expire
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.count, s.last - s.start))
          } else {
            var s = state.getOption.getOrElse(SessionState(0L, Long.MaxValue, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            rows.toArray.map(e => micros(e.ts)).sorted.foreach { t =>
              if (s.count > 0 && t - s.last > gapUs) {
                closed += SessionOut(uid, s.count, s.last - s.start)
                s = SessionState(0L, Long.MaxValue, 0L)
              }
              s = SessionState(s.count + 1, math.min(s.start, t), math.max(s.last, t))
            }
            state.update(s)
            // the timeout clock is milliseconds; CEIL the micro last so
            // the timeout never fires before the exact microsecond gap
            // horizon (a late timeout is harmless — the per-event gap
            // check still splits; an early one could close a session an
            // in-gap event should have extended)
            state.setTimeoutTimestamp(Math.floorDiv(s.last + 999L, 1000L) + gapMs)
            closed.iterator
          }
      }
  }

  /** Built-in event-time session windows: the declarative counterpart
    * of [[sessionize]] — `session_window` grows a per-key window while
    * events arrive within `gap` and finalizes it when the watermark
    * passes; state expiry is managed by the engine. Prefer this when
    * per-session output is an aggregate; drop to [[sessionize]] when
    * session state needs custom transition logic.
    */
  def sessionWindowAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n_events"))
      .select(
        F.col("session_window.start").as("sess_start"),
        F.col("session_window.end").as("sess_end"),
        F.col("user_id"), F.col("n_events"))

  /** Stream-stream interval join: purchases attributed to a preceding
    * view by the same user within `horizon`. Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * so each side's buffered state is evicted once the watermark passes
    * the horizon — the state-bounded form of stream-stream joins
    * (unbounded-condition joins must buffer a side forever).
    */
  def attributedPurchases(
      purchases: DataFrame,
      views: DataFrame,
      horizon: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val p = purchases.select(
      F.col("user_id"), F.col("event_id").as("purchase_id"), F.col("ts"))
      .withWatermark("ts", lateness)
    val v = views.select(
      F.col("user_id").as("v_user_id"), F.col("event_id").as("view_id"),
      F.col("ts").as("vts"))
      .withWatermark("vts", lateness)
    p.join(v, F.expr(
      s"user_id = v_user_id AND vts BETWEEN ts - INTERVAL $horizon AND ts"))
      .select(F.col("user_id"), F.col("purchase_id"), F.col("view_id"),
        F.col("ts"), F.col("vts"))
  }

  /** Start a memory-sink query for tests/demos and drain all available
    * input synchronously.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    q
  }
}
