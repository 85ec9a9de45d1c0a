package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Corpus-hygiene operators: benchmark decontamination and PII
  * detection/redaction — the release gates every training corpus passes
  * after dedup and quality filtering.
  *
  * Technique provenance (public literature): n-gram overlap
  * decontamination against evaluation sets is the method described in
  * the GPT-3 paper's appendix C (Brown et al. 2020) and standard since;
  * regex-based PII scrubbing is the baseline pass of every public
  * corpus release (e.g. C4's blocklist/regex filters, Raffel et al.
  * 2020).
  */
object Hygiene {

  /** Per-document count of DISTINCT benchmark n-grams contained in the
    * document — the contamination signal. A document sharing any
    * `n`-token span with an evaluation benchmark is a leak risk; the
    * count (rather than a boolean) lets callers set their own severity
    * threshold.
    *
    * Scale shape: the corpus side explodes its distinct word n-grams
    * once (map-side) and joins the benchmark n-gram set, which is
    * DISTINCT and tiny relative to the corpus (benchmarks are MBs, the
    * corpus is TBs) — so Spark broadcasts it and the corpus never
    * shuffles. One partial-aggregated count per doc follows. Grams join
    * as exact strings: cross-engine reproducible, and with a broadcast
    * hash join the 8-byte-hash optimization would only save broadcast
    * width, not a shuffle.
    */
  /** The benchmark's DISTINCT word n-gram set — the one definition every
    * decontamination path (exact join, Bloom build, Bloom verify,
    * streaming admission) must share: a drift between them would break
    * the "Bloom discards only true negatives" invariant that lets one
    * oracle grade both paths. Package-visible so long-lived callers
    * (the streaming ingest path) can compute it ONCE, materialize it,
    * and pass it back through [[decontaminateByGrams]] every
    * micro-batch instead of re-deriving it per batch.
    */
  private[graft] def benchGrams(benchmark: DataFrame, n: Int, textCol: String): DataFrame =
    benchmark.select(
      F.explode(
        graft.functions.Hashing.wordShingles(F.col(textCol), n)).as("gram"))
      .distinct()

  def contaminationCounts(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val docGrams = docs.select(F.col(idCol),
      F.explode(
        graft.functions.Hashing.wordShingles(F.col(textCol), n)).as("gram"))
    docGrams
      .join(F.broadcast(benchGrams(benchmark, n, textCol)), Seq("gram"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_contaminated"))
  }

  /** Build the benchmark's distinct-gram Bloom filter and return its
    * serialized bytes — a fixed-size membership sketch of the eval set
    * (1M expected items ≈ 1.2 MB at the default FPP) that ships to every
    * task as a literal. Uses Spark's own `BloomFilterAggregate` (the
    * runtime-join-filter kernel) over `xxhash64` of each gram.
    *
    * @return None when the benchmark has no grams (empty eval set)
    */
  def benchmarkBloom(
      benchmark: DataFrame,
      n: Int = 5,
      textCol: String = "text",
      expectedItems: Long = 1000000L): Option[Array[Byte]] = {
    graft.GraftFunctions.register(benchmark.sparkSession)
    val row = benchGrams(benchmark, n, textCol)
      .agg(F.call_function("bloom_agg",
        F.xxhash64(F.col("gram")), F.lit(expectedItems)).as("bf"))
      .head()
    Option(row.getAs[Array[Byte]](0))
  }

  /** [[contaminationCounts]] with a Bloom prefilter — the 100 TB shape:
    * the benchmark's gram Bloom filter probes each corpus gram INSIDE the
    * scan (`might_contain` is codegen'd, zero shuffle, zero join input
    * for the overwhelmingly-common clean gram), and only Bloom hits reach
    * the exact broadcast join that removes false positives. The final
    * counts are bit-identical to the exact operator — the Bloom pass
    * can only discard true negatives — so the same oracle grades both;
    * what changes is that the join's probe side shrinks from |corpus
    * grams| to |contaminated grams + FPP x corpus grams|.
    */
  def contaminationCountsBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id",
      expectedItems: Long = 1000000L): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    benchmarkBloom(benchmark, n, textCol, expectedItems) match {
      case None =>
        // empty benchmark: nothing can be contaminated
        docs.select(F.col(idCol), F.lit(0L).as("n_contaminated")).limit(0)
      case Some(bloom) =>
        val docGrams = docs.select(F.col(idCol),
          F.explode(
            graft.functions.Hashing.wordShingles(F.col(textCol), n)).as("gram"))
        val candidates = docGrams.filter(F.call_function("might_contain",
          F.lit(bloom), F.xxhash64(F.col("gram"))))
        candidates
          .join(F.broadcast(benchGrams(benchmark, n, textCol)), Seq("gram"))
          .groupBy(idCol)
          .agg(F.count(F.lit(1)).as("n_contaminated"))
    }
  }

  /** Drop every document containing at least `maxContaminated` distinct
    * benchmark n-grams (default: any). Left-anti join on the flagged id
    * set — document bodies never shuffle.
    */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      maxContaminated: Long = 1,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    decontaminateByGrams(docs, benchGrams(benchmark, n, textCol),
      n, maxContaminated, textCol, idCol)

  /** [[decontaminate]] against a PRE-BUILT distinct-gram set — the
    * shape for callers that amortize the benchmark pass: compute
    * [[benchGrams]] once (and typically `localCheckpoint` it), then
    * run every batch/micro-batch through this. Verdicts are identical
    * to [[decontaminate]] by construction (same gram definition, same
    * broadcast join, same threshold).
    */
  def decontaminateByGrams(
      docs: DataFrame,
      grams: DataFrame,
      n: Int = 5,
      maxContaminated: Long = 1,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val docGrams = docs.select(F.col(idCol),
      F.explode(
        graft.functions.Hashing.wordShingles(F.col(textCol), n)).as("gram"))
    val flagged = docGrams
      .join(F.broadcast(grams), Seq("gram"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_contaminated"))
      .filter(F.col("n_contaminated") >= maxContaminated)
      .select(idCol)
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /** Contamination N-SWEEP — gram-length sensitivity of the decontam
    * verdict: for each n in `ns`, how many documents hit the benchmark
    * at all and how many distinct-gram hits land in total. Overlap
    * decays sharply with n (379 → 3 → 1 docs across n = 3/5/7 at
    * sf0.01): the sweep locates the n where incidental phrase reuse
    * stops triggering and only true eval leakage remains — the
    * evidence behind choosing `decontaminate`'s default n rather than
    * inheriting it.
    *
    * Scale shape: one [[contaminationCounts]] pass per n (benchmark
    * grams broadcast, corpus never shuffles), each reduced to a single
    * row — |ns| bounded passes, output |ns| rows.
    */
  def contaminationSweep(
      docs: DataFrame,
      benchmark: DataFrame,
      ns: Seq[Int] = Seq(3, 5, 7),
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    ns.map { n =>
      contaminationCounts(docs, benchmark, n, textCol, idCol)
        .agg(F.count(F.lit(1)).as("n_docs_hit"),
          F.sum("n_contaminated").as("total_hits"))
        .select(F.lit(n.toLong).as("n"), F.col("n_docs_hit"),
          F.coalesce(F.col("total_hits"), F.lit(0L)).as("total_hits"))
    }.reduce(_.unionByName(_)).orderBy("n")
  }

  /** Email-address pattern shared by detection and redaction. Kept to a
    * dialect-portable subset (no \b, no lookarounds) so the SQL oracle's
    * RE2 engine matches Java's byte-for-byte.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs — the phone/account-number heuristic. */
  val DigitRunRe = "[0-9]{5,}"

  /** Mask PII in place: emails first (their local parts contain digit
    * runs), then remaining long digit runs. Map-only; deterministic, so
    * the redacted text is oracle-checkable by md5.
    */
  def redactPii(text: Column): Column =
    F.regexp_replace(
      F.regexp_replace(text, EmailRe, "<EMAIL>"),
      DigitRunRe, "<NUM>")

  /** One-pass PII report: indicator counts plus the md5 of the redacted
    * text — the redaction grade travels as a 16-byte digest, never the
    * document body. Map-only.
    */
  def piiReport(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(F.col(idCol),
      F.regexp_count(F.col(textCol), F.lit(EmailRe)).cast("long").as("n_emails"),
      F.regexp_count(F.col(textCol), F.lit(DigitRunRe)).cast("long").as("n_digit_runs"),
      F.md5(redactPii(F.col(textCol))).as("redacted_md5"))

  /** Graded contamination SCORE (not just the hit count): per document,
    * the number of distinct word n-grams, how many of them appear in
    * the benchmark's gram set, and the integer pair from which any
    * overlap-fraction policy thresholds via cross-multiplication
    * (`n_hits * den >= n_grams * num` — no float compare). The binary
    * [[contaminationCounts]] answers "touched the eval set at all?";
    * this answers the policy question real pipelines act on — "MOSTLY
    * eval material, or one incidental quote?".
    *
    * Scale shape: identical to [[contaminationCounts]] — the compiled
    * shingle kernel dedups grams per doc map-side, the benchmark side
    * broadcasts (an eval set is MBs against a corpus of TBs), and one
    * partial-aggregated shuffle keyed by doc_id carries two longs per
    * doc. The left join (vs inner) keeps zero-hit docs so the output is
    * a total score table, not a hit list.
    */
  def contaminationFraction(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val docGrams = docs.select(F.col(idCol),
      F.explode(
        graft.functions.Hashing.wordShingles(F.col(textCol), n)).as("gram"))
    docGrams
      .join(F.broadcast(benchGrams(benchmark, n, textCol).withColumn("__hit", F.lit(1L))),
        Seq("gram"), "left")
      .groupBy(idCol)
      .agg(
        F.count(F.lit(1)).as("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0L))).as("n_hits"))
  }

  /** k-anonymity release gate for aggregate panels: every
    * (dims...) cell below the k-document floor publishes ZEROS instead
    * of its true counts (with `released = false`), so downstream
    * consumers of the published panel can never reconstruct a small
    * cohort's statistics — the privacy complement of [[redactPii]],
    * which protects values while this protects COUNTS. Cells stay in
    * the output (suppressing the row itself would leak "a small cell
    * exists here" by absence patterns across releases).
    *
    * Scale shape: one partial-aggregated groupBy onto the cell panel;
    * the gate is a map-side projection over |cells| rows.
    */
  def kAnonPanel(
      docs: DataFrame,
      k: Long = 5L,
      dims: Seq[String] = Seq("lang", "source"),
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && dims.nonEmpty, "k >= 1, at least one dimension")
    val released = F.col("__n") >= k
    docs.groupBy(dims.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__n"),
        F.sum(graft.functions.TextFunctions.tokenCount(F.col(textCol))).as("__t"))
      .select(dims.map(F.col) ++ Seq(
        released.as("released"),
        F.when(released, F.col("__n")).otherwise(0L).as("n_docs"),
        F.when(released, F.col("__t")).otherwise(0L).as("n_tokens")): _*)
  }
}
