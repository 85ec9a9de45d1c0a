package graft

import graft.queries.{QueryCatalog => QC}

/** Physical-plan shape assertions: these encode the scale-design claims
  * (filter pushdown, column pruning, broadcast joins, top-k without full
  * sort, anti-join dedup) so a regression that silently de-optimizes a
  * plan fails CI, not a production run.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Plan after execution: under AQE the codegen'd final plan only exists
    * once the query ran.
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("segment filter is pushed down to the parquet scan") {
    val p = plan("q_filter_distinct")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "filter must reach the scan")
  }

  test("dimension joins broadcast instead of shuffling") {
    assert(plan("q_filter_distinct").contains("BroadcastHashJoin"))
    assert(plan("q_nation_revenue").contains("BroadcastHashJoin"))
  }

  test("column pruning: pricing scan reads only the 5 needed columns") {
    val p = plan("q1_pricing")
    assert(p.contains("ReadSchema"))
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_partkey"),
      s"unneeded columns in scan: $read")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_users")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("upsert dedup is a left-anti hash join") {
    val p = plan("q_upsert_events")
    assert(p.contains("LeftAnti"), p.take(1200))
  }

  test("aggregations use partial (map-side) aggregation") {
    val p = plan("q1_pricing")
    assert(p.contains("HashAggregate"))
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("pricing query stays inside whole-stage codegen") {
    val p = finalPlan("q1_pricing")
    // "*(n)" prefixes mark operators fused into a whole-stage-codegen stage
    assert(p.contains("*("), p.take(500))
  }

  test("embedding near-dup never plans a cartesian or nested-loop join") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the bucketed projection is checkpointed once: the self-join reads
    // the materialized RDD from both sides — no parquet rescan of the
    // embeddings table anywhere in the final plan
    assert(!p.toLowerCase.contains("parquet"),
      "self-join must read the checkpointed projection, not rescan: " + p.take(800))
    assert(p.contains("ExistingRDD"), p.take(400))
  }

  test("bucketized range join plans a hash join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("HashJoin"), p.take(1200))
  }

  test("asof join is one window over one exchange, no range self-join") {
    val p = plan("q_asof_join")
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("salted join replicates the dim via broadcast and keeps __salt in the join key") {
    val df = SparkEntry.queries("q_skew_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the salts spine broadcasts onto the dim (replication), and the
    // main join's equi-key includes the salt — the shape that fans a
    // hot key across reducers
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(p.contains("__salt"), "join key must include the salt column")
    assert(!p.contains("CartesianProduct"), "replication must not plan a cartesian")
  }

  test("AQE splits a skewed join partition at runtime") {
    import org.apache.spark.sql.{functions => F}
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying ~all the rows, with a wide payload so the
      // skewed partition clears the byte threshold
      val left = spark.range(40000).select(
        F.when(F.col("id") % 100 =!= 0, F.lit(7L)).otherwise(F.col("id")).as("k"),
        F.concat(F.lit("x" * 100), F.col("id")).as("payload"))
      val right = spark.range(50).select(F.col("id").as("k"),
        F.lit("dim").as("name"))
      val j = left.join(right, "k")
      j.collect() // finalize AQE on THIS QueryExecution
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), "AQE skew split must engage: " + p.take(900))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bounded top-k per group: partial sketch aggregate, no window sort") {
    val p = plan("q_topk_group")
    assert(p.contains("partial_topk_pairs"), "map-side sketch must bound the shuffle: " + p.take(600))
    assert(!p.contains("Window"), "must not fall back to a window sort")
  }

  test("bucketed tables co-locate the join: zero shuffle exchanges") {
    import org.apache.spark.sql.{functions => F}
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val cat = new graft.sources.Catalog(spark, wh)
    val ev = spark.range(1000).select(
      F.col("id").as("event_id"), (F.col("id") % 50).as("user_id"))
    val dim = spark.range(50).select(
      F.col("id").as("user_id"), F.concat(F.lit("u"), F.col("id")).as("name"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      cat.writeBucketed("b_events", ev, buckets = 8,
        bucketCols = Seq("user_id"), sortCols = Seq("user_id"))
      cat.writeBucketed("b_users", dim, buckets = 8,
        bucketCols = Seq("user_id"), sortCols = Seq("user_id"))
      // the data sits at the Catalog's own path, visible to siblings
      assert(cat.exists("b_events") && cat.read("b_events").count() === 1000)
      // one file per bucket: the write repartitions on the bucket key
      assert(new java.io.File(cat.path("b_events"))
        .listFiles().count(f => f.getName.endsWith(".parquet")) === 8)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark.table("b_events").join(spark.table("b_users"), "user_id")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(600))
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed join must not shuffle: " + p.take(800))
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        p.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_events")
      spark.sql("DROP TABLE IF EXISTS b_users")
    }
  }

  test("NOT EXISTS decorrelates to an anti join; scalar subqueries broadcast") {
    val p = plan("q_exists_join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as anti join: " + p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "scalar subqueries must not force a nested loop: " + p.take(900))
  }

  test("full outer join of aggregates plans FullOuter over partial aggs") {
    val p = plan("q_full_outer")
    assert(p.contains("FullOuter"), p.take(900))
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both inputs must pre-aggregate (partial+final) before the join")
  }

  test("curation pipeline: semi/anti joins, no cartesian, pruned scans") {
    val p = plan("q_curate")
    assert(p.contains("LeftSemi"), "dedup keep-set must be a semi join")
    assert(p.contains("LeftAnti"), "decontamination must be an anti join")
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental dedup: bounded bucket aggregates, no corpus self-join") {
    val p = plan("q_incr_dedup")
    assert(p.contains("min_k_ids"), "bucket caps must be the bounded aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("correlated scalar subquery decorrelates to aggregate + outer join") {
    val p = plan("q_scalar_subquery")
    assert(p.contains("HashAggregate"), "subquery must become an aggregate: " + p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decorrelation must not fall back to a nested loop: " + p.take(900))
  }

  test("bloom decontamination: in-scan probe filter, broadcast verify join") {
    val p = plan("q_bloom_decontam")
    assert(p.contains("might_contain"),
      "Bloom probe must be a Filter inside the scan stage: " + p.take(600))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "exact verify must broadcast the benchmark grams")
    assert(!p.contains("CartesianProduct"))
  }

  test("keywords: both aggregations are partial+final; hist has no join") {
    val p = plan("q_keywords")
    // tf (partial+final) and df (partial+final) both pre-aggregate
    assert("HashAggregate".r.findAllIn(p).length >= 4, p.take(900))
    val h = plan("q_length_hist")
    assert(h.contains("HashAggregate") && !h.contains("Join"),
      "length histogram must be a pure partial-aggregated scan")
  }

  test("bm25: broadcast stats row, top-k without a global sort") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(900))
    // the single-row corpus-stats side rides a broadcast, not a shuffle
    assert(p.contains("Broadcast"), p.take(900))
    val i = plan("q_inverted")
    // bounded posting lists pre-aggregate map-side (partial + final)
    assert("ObjectHashAggregate|HashAggregate".r.findAllIn(i).length >= 2, i.take(900))
  }

  test("filtered ANN pushes the attribute predicate into the scans") {
    val p = plan("q_ann_filtered")
    // both the LSH index side and the IVF corpus side prune label = 1
    // at the parquet scan — filtering after the bucket/cell join would
    // ship every candidate row first
    assert(p.contains("EqualTo(label,1)"),
      "label predicate must reach PushedFilters: " + p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("chunking evaluates the tokenizing regex exactly once per document") {
    // Corpus.chunk materializes the token array in a projection and the
    // interpreted window-transform lambda references the attribute; if
    // CollapseProject ever inlined the alias back, the tokenizing
    // regexp_replace would re-run once per window start
    // (O(chunks * doc_length)) and appear inside the Generate node.
    val p = plan("q_doc_chunks")
    val gen = p.linesIterator.find(_.contains("Generate ")).getOrElse("")
    assert(gen.contains("__toks"), "transform must reference the attribute: " + gen)
    assert(!gen.contains("script_tokens") && !gen.contains("regexp_replace"),
      "tokenization leaked into the interpreted lambda: " + gen)
    // the compiled kernel appears exactly once, in the materializing
    // Project below the Generate
    assert("script_tokens".r.findAllIn(p).length == 1, p.take(1500))
  }

  test("pq code assignment is map-only: zero exchanges in the plan") {
    // the codebook rides as literals, so the only job structure is the
    // sampling action inside pqCodes; the code-assignment plan itself
    // must contain no shuffle and no join
    val df = graft.operators.Similarity.pqCodes(
      spark.read.parquet(s"$dir/embeddings.parquet"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "PQ assignment must not shuffle: " + p.take(800))
    assert(!p.contains("Join"), p.take(800))
  }

  test("duplicated spans: bounded top-k, min-k sample aggregate, no cartesian") {
    val p = plan("q_dup_spans")
    assert(p.contains("TakeOrderedAndProject"), p.take(1000))
    assert(p.contains("min_k_ids"), "doc sample must be the bounded aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("contamination fraction: benchmark side broadcasts into a left join") {
    val p = plan("q_contam_frac")
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
    assert(p.contains("LeftOuter"), "zero-hit docs must survive the join")
  }

  test("simhash pairs: bucket equi-join, no cartesian product") {
    val p = plan("q_simhash_pairs")
    assert(!p.contains("CartesianProduct"), p.take(1000))
    // candidate generation must meet on the (band, key) bucket columns
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1000))
  }

  test("custom expressions (week_of_month, shingle kernels) do not break codegen") {
    val df = SparkEntry.queries("q_weekly_avg")(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
    // the custom expression survives analysis (it is pre-projected into a
    // grouping expression by the physical planner, which is fine — that
    // projection is itself codegen'd)
    assert(df.queryExecution.analyzed.toString.contains("week_of_month"))
  }

  test("unigram LM: model joins are equi-joins, the 1-row total broadcasts") {
    val p = plan("q_unigram_lm")
    assert(!p.contains("CartesianProduct"), p.take(1000))
    // the scalar T cross-join must be a broadcast nested loop, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1000))
  }

  test("split assignment: rank and stratum count share one hash exchange") {
    val p = plan("q_split")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1, s"expected 1 hash exchange, plan:\n${p.take(1500)}")
  }

  test("hard negatives: broadcast scoring join, bounded top-k, no shuffled pairs") {
    val p = plan("q_hard_neg")
    assert(!p.contains("CartesianProduct"), p.take(1000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1000))
    // the k-per-query sketch aggregate, not a global sort of all pairs
    assert(p.contains("topk_pairs"), p.take(1500))
  }

  test("ewma: one shuffle keyed by user, no window exchange") {
    val p = plan("q_ewma")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1, s"expected 1 hash exchange, plan:\n${p.take(1500)}")
  }

  test("partitioned LSH serving pushes the bucket footprint as a partition filter") {
    val df = SparkEntry.queries("q_ann_lsh_part")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bk_hi"),
      p.take(2000))
    // the footprint must appear as an IN/isin filter ON bk_hi
    assert(p.contains("bk_hi#") &&
      (p.contains(" IN ") || p.contains("isin") || p.contains("In(bk_hi")),
      "bucket-footprint IN filter must reach the scan\n" + p.take(2000))
  }

  test("vocab coverage and split overlap stay bounded: no cartesian, partial aggs") {
    val pv = plan("q_vocab_coverage")
    assert(!pv.contains("CartesianProduct"), pv.take(1200))
    // the k-expansion joins |ks| literals against the vocab-sized rank
    // table via broadcast, never a shuffled product
    assert(pv.contains("BroadcastNestedLoopJoin"), pv.take(1200))
    val ps = plan("q_split_overlap")
    assert(!ps.contains("CartesianProduct"), ps.take(1200))
    val pj = plan("q_jaccard_curve")
    assert(!pj.contains("CartesianProduct"), pj.take(1200))
    // recall curve: the brute truth pass broadcasts the bounded query
    // set; nothing shuffles an all-pairs product
    val pr = plan("q_ivf_recall")
    assert(!pr.contains("CartesianProduct"), pr.take(1200))
    assert(pr.contains("BroadcastNestedLoopJoin") || pr.contains("BroadcastHashJoin"),
      pr.take(1200))
    // fertility: the trained vocabulary joins as a broadcast, the corpus
    // is never re-segmented into a shuffle
    val pf = plan("q_bpe_fertility")
    assert(pf.contains("BroadcastHashJoin"), pf.take(1200))
    assert(!pf.contains("CartesianProduct"), pf.take(1200))
    // the unigram reduction must combine map-side before shuffling
    assert("HashAggregate".r.findAllIn(plan("q_pad_waste")).length >= 2,
      "pad waste needs partial+final aggregation")
  }

  test("textrank iterations run on the materialized graph, zero corpus scans") {
    // without the edge/node checkpoint the plan grew one full corpus
    // scan per reference (32 scans at 3 iterations) — the graph must be
    // vocabulary-sized and materialized before the iteration joins
    val p = finalPlan("q_textrank")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0, s"expected 0 parquet scans in the iteration plan, got $scans")
  }

  test("bigram LM: map-side bigram expansion, no corpus self-join") {
    val p = plan("q_bigram_lm")
    // the bigram list is an array transform inside the scan projection —
    // a posexplode self-join on (doc, pos)=(doc, pos+1) would shuffle
    // the corpus twice and join it against itself
    assert(!p.contains("CartesianProduct"), p.take(1000))
    assert(p.contains("transform"), "bigrams must be an array transform")
  }

  test("sq8: broadcast coded queries, bounded top-k sketch, no pair shuffle") {
    val p = plan("q_ann_sq8")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1000))
    assert(p.contains("topk_pairs"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1000))
  }

  test("ship priority: filters push to scans, dims broadcast, top-10 is TakeOrdered") {
    val p = plan("q_ship_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter must reach the scan")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }

  test("PMI and DSIR: vocabulary joins only, no cartesian or nested loop") {
    for (q <- Seq("q_pmi", "q_dsir")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      // the only nested-loop joins are the broadcast 1-row fp totals
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= 4, s"$q: $bnlj nested-loop joins — totals only, expected <= 4")
    }
  }

  test("winsorize panel: rank window partitions by stratum, never global") {
    val p = plan("q_winsorize")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"per-stratum window must not collapse to one partition: ${p.take(1200)}")
  }

  test("big orders: partial agg before shuffle, customer broadcast, TakeOrdered") {
    val p = finalPlan("q_big_orders")
    assert(p.contains("HashAggregate"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("session-9 panels: no cartesian; nested loops only for broadcast scalars") {
    // (query, max BroadcastNestedLoopJoin occurrences — each allowed one
    // is a 1-row broadcast total/count, never a data-sized side)
    val shapes = Seq(
      "q_source_kl" -> 1, "q_line_dedup" -> 0, "q_triangles" -> 1,
      "q_rolling_median" -> 0, "q_date_gaps" -> 0, "q_key_skew" -> 0,
      "q_conv_latency" -> 0, "q_char_entropy" -> 0, "q_dup_sources" -> 0)
    for ((q, maxBnlj) <- shapes) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= maxBnlj, s"$q: $bnlj nested-loop joins, allowed $maxBnlj")
    }
    // the grouped panels must never collapse to one partition
    for (q <- Seq("q_rolling_median", "q_date_gaps", "q_key_skew", "q_winsorize")) {
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"$q grouped window must stay partitioned: ${p.take(1000)}")
    }
  }

  test("auto-salt and OLS-sketch: broadcast weights, no cartesian, no single-partition collapse") {
    for (q <- Seq("q_skew_auto", "q_ols_fit")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(800)}")
      assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"$q must stay partitioned: ${p.take(1000)}")
    }
    // the residual pass must join the corpus to the |groups|×4 weight
    // frame by BROADCAST — a shuffled join here would move the corpus
    // for a 20-row dimension
    assert(plan("q_ols_fit").contains("BroadcastHashJoin"),
      "OLS residual join must broadcast the weight frame")
  }

  test("runtime bloom filter injects on the fact side of a selective shuffle join") {
    import org.apache.spark.sql.{functions => F}
    // At 100 TB the fact-side scan of a selective dim join is the cost
    // center, and Spark's runtime bloom filter (InjectRuntimeFilter) is
    // the scan-shrinker: the dim side's join keys are bloom-aggregated
    // and the fact scan pre-filters through might_contain before the
    // shuffle. In production the 10 GiB application-side threshold is
    // met by any real fact table; here we lower it to make the same
    // rewrite fire at test scale and pin that the posture keeps it on.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val part = spark.read.parquet(s"$dir/part.parquet")
        .filter(F.col("p_partkey") % 97 === 0)
      val j = li.join(part, F.col("l_partkey") === F.col("p_partkey"))
        .select("l_orderkey", "l_partkey", "p_partkey")
      j.collect()
      val p = j.queryExecution.executedPlan.toString.toLowerCase
      assert(p.contains("bloom"),
        "runtime bloom filter must inject on the fact scan: " + p.take(1200))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("phrase and proximity search: equi-joins on postings, no cartesian") {
    for (q <- Seq("q_phrase", "q_near")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q must join postings on doc/pos keys: ${p.take(800)}")
    }
  }

  test("incremental-index admission probes the state table without shuffling it") {
    // the per-batch insert-if-absent anti-join must never shuffle the
    // corpus-sized state side: the batch's keys broadcast INTO a
    // semi-join against the (partition-pruned) state scan, the hits
    // broadcast back into the anti-join — zero Exchange anywhere, and
    // the state scan carries a PartitionFilter for the batch's id-hash
    // buckets. This is the plan every incremental index (BM25 registry,
    // dedup corpus, IVF codes) admits through.
    import org.apache.spark.sql.{functions => F}
    val wh = java.nio.file.Files.createTempDirectory("graft-admit").toString
    val cat = new graft.sources.Catalog(spark, wh)
    val dlSchema = graft.streaming.Bm25Index.dlSchema
    def rkOf(c: org.apache.spark.sql.Column) =
      F.pmod(F.xxhash64(c), F.lit(8L)).cast("int")
    cat.appendPartitioned("doc_lengths",
      spark.range(500).select(F.col("id").as("doc_id"), F.lit(3L).as("dl"),
        F.lit(0L).as("seq"), rkOf(F.col("id")).as("rk")),
      Seq("rk"))
    val deduped = spark.range(480, 520)
      .select(F.col("id").as("doc_id"), F.lit("t").as("text"))
      .dropDuplicates("doc_id")
      .localCheckpoint() // the micro-batch hub, as in Bm25Index.ingest
    val rks = deduped.select(rkOf(F.col("doc_id")).as("rk")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pruned = cat.readWithSchema("doc_lengths", dlSchema)
      .filter(F.col("rk").isin(rks: _*)).select("doc_id")
    import graft.operators.Upsert
    def admittedIds(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // a key count at the bound runs the probe
    val admitted = Upsert.newRowsSized(deduped, pruned, "doc_id", Upsert.maxProbeKeys)
    assert(admittedIds(admitted) === (500L until 520L).toSeq,
      "only unregistered ids may be admitted")
    val p = admitted.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "admission must not shuffle any side: " + p.take(1200))
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined &&
      "BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined,
      "probe shape must be broadcast semi + broadcast anti: " + p.take(1200))
    assert("""PartitionFilters: \[[^\]]*rk""".r.findFirstIn(p).isDefined,
      "the state scan must prune the batch's id-hash partitions: " + p.take(1200))
    // a count above the bound takes the shuffle anti-join, planned with
    // broadcasts off as it is for a state side too big to broadcast,
    // and admits the same rows
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "-1")
      val shuffled =
        Upsert.newRowsSized(deduped, pruned, "doc_id", Upsert.maxProbeKeys + 1)
      assert(admittedIds(shuffled) === (500L until 520L).toSeq,
        "the shuffle arm must admit exactly what the probe admits")
      val sp = shuffled.queryExecution.executedPlan.toString
      assert(sp.contains("Exchange hashpartitioning") &&
        "SortMergeJoin.*LeftAnti".r.findFirstIn(sp).isDefined &&
        !sp.contains("LeftSemi"),
        "above the bound admission must be one shuffle anti-join: " + sp.take(1200))
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("source health panel: one partial-aggregated shuffle, no joins") {
    val p = plan("q_source_health")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1, s"expected 1 hash exchange, plan:\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "panel must partial-aggregate map-side")
    assert(!p.contains("Join"), "panel is join-free")
  }
}
