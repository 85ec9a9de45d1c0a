package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** The engine's custom Catalyst expressions, listed once in
  * [[functions]] and installed on a session by either path: [[register]]
  * (imperative, per session) or [[GraftExtensions]] (injected at session
  * birth). Both make them available to the Column API (via
  * call_function) and SQL text (spark.sql("... week_of_month(d) ...")).
  *
  * Query entry points call [[register]] unconditionally; a per-session
  * guard makes repeat calls free (and keeps "function replaced" warnings
  * out of the logs). The set holds sessions weakly so it never pins one.
  */
object GraftFunctions {

  /** (name, usage, builder) of every engine function. Aggregate
    * functions are returned bare; the analyzer wraps them in an
    * AggregateExpression during resolution. */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("week_of_month", "week_of_month(date) - Postgres to_char-'W' week of month (1-5)",
      WeekOfMonth.builder),
    ("dot_f", "dot_f(a, b) - dot product of two float arrays",
      VectorFunctions.builder),
    ("dot_l", "dot_l(a, b) - integer dot product of two bigint arrays",
      e => DotL(e.head, e(1))),
    ("shingle_hashes", "shingle_hashes(text, n) - distinct rolling n-char window hashes",
      e => ShingleHashes(e.head, intLit(e(1), "shingle_hashes"))),
    ("minhash_sig", "minhash_sig(hashes, k) - k-minima MinHash signature",
      e => MinHashSig(e.head, intLit(e(1), "minhash_sig"))),
    ("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array",
      e => SimHash64(e.head)),
    ("char_shingles", "char_shingles(text, n) - sorted distinct character n-gram substrings",
      e => CharShingles(e.head, intLit(e(1), "char_shingles"))),
    ("word_shingles", "word_shingles(text, n) - sorted distinct lowercased word n-gram shingles",
      e => WordShingles(e.head, intLit(e(1), "word_shingles"))),
    ("md5_minhash_sig", "md5_minhash_sig(text, n, k) - engine-reproducible md5/affine MinHash signature",
      e => Md5MinhashSig(e.head, intLit(e(1), "md5_minhash_sig"), intLit(e(2), "md5_minhash_sig"))),
    ("md5_simhash", "md5_simhash(tokens) - struct(sim_hi, sim_lo) md5-based SimHash halves",
      e => Md5Simhash(e.head)),
    ("ilog2_fp", "ilog2_fp(x, fracBits) - fixed-point integer log2(x) * 2^fracBits",
      e => Ilog2Fp(e.head, intLit(e(1), "ilog2_fp"))),
    ("gram_stats", "gram_stats(arr) - struct(n_distinct, max_freq) of a string array",
      e => GramStats(e.head)),
    ("script_counts", "script_counts(text) - per-Unicode-script codepoint counts struct",
      e => ScriptCounts(e.head)),
    ("nfc", "nfc(text) - Unicode NFC normalization",
      e => Nfc(e.head)),
    ("script_tokens", "script_tokens(text) - script-aware tokens: one per CJK codepoint, whitespace words elsewhere",
      e => ScriptTokens(e.head)),
    ("repetition_stats", "repetition_stats(tokens) - token+bigram repetition counts",
      e => RepetitionStats(e.head)),
    ("topk_pairs", "topk_pairs(score, id, k) - bounded top-k (score desc, id asc) pairs",
      e => TopKPairs(e.head, e(1), intLit(e(2), "topk_pairs"))),
    ("min_k_ids", "min_k_ids(id, k) - bounded k smallest ids of the group, sorted",
      e => MinKIds(e.head, intLit(e(1), "min_k_ids"))),
    ("sum_vec_l", "sum_vec_l(array<bigint>) - element-wise vector sum aggregate",
      e => VectorSumL(e.head)),
    ("freq_sketch", "freq_sketch(term, k) - Misra-Gries struct(items, total) frequency sketch",
      e => FreqSketch(e.head, intLit(e(1), "freq_sketch"))),
    ("bloom_agg", "bloom_agg(xxhash64(col)[, est_items[, num_bits]]) - binary Bloom filter aggregate",
      bloomAggBuilder),
    ("might_contain", "might_contain(bloom, xxhash64(col)) - Bloom filter membership probe",
      mightContainBuilder))

  private val registered: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def register(spark: SparkSession): Unit = {
    if (!registered.add(spark)) return
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Spark's own runtime-filter Bloom expressions, surfaced as callable
    * functions: `bloom_agg(xxhash64(col)[, est_items[, num_bits]])`
    * builds a binary Bloom filter; `might_contain(bloom, xxhash64(col))`
    * is the codegen'd membership probe. These are the exact kernels AQE
    * injects for runtime join filters — reused, not reimplemented.
    */
  private[graft] def bloomAggBuilder(exprs: Seq[Expression]): Expression =
    exprs match {
      case Seq(c) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
      case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
      case Seq(c, n, b) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
      case other => throw new IllegalArgumentException(
        s"bloom_agg expects 1-3 arguments, got ${other.length}")
    }

  private[graft] def mightContainBuilder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2) throw new IllegalArgumentException(
      s"might_contain expects 2 arguments (bloom, xxhash64(value)), got ${exprs.length}")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      exprs.head, exprs(1))
  }

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT parameter, got $other")
  }
}
