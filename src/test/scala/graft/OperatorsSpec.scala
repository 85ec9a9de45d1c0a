package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.{Dedup, Multimodal, Similarity, Upsert}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "THE  quick brown fox jumps over the lazy dog"),  // exact dup of 0 (mod case/ws)
    (3L, "completely different content about spark engines"),
    (4L, "yet another unrelated document body entirely xyz")
  ).toDF("doc_id", "text")

  test("exact dedup collapses normalized duplicates, keeps min id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 4) // 0 and 2 collapse
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) === 0L) // keep_id = min(0, 2)
  }

  test("minhash candidates find the near-dup pair and the exact pair") {
    val pairs = Dedup.minhashCandidates(docs, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 2L)),
      s"expected near-dup candidates, got $pairs")
    // unrelated docs should not pair with everything
    assert(!pairs.contains((3L, 4L)))
  }

  test("minhash bucket cap bounds a planted hot bucket to k smallest ids") {
    // 300 identical docs share every band bucket; the bounded aggregate
    // must cap each bucket at the 20 smallest ids BEFORE pairing, so the
    // result is exactly C(20,2) pairs over ids 0..19.
    val hot = (0L until 300L).map(i => (i, "same boilerplate text repeated exactly"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCandidates(hot, maxBucketSize = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === 190)
    assert(got.forall { case (a, b) => a < b && b < 20L })
  }

  test("min_k_ids aggregate equals slice(sort_array(collect_list))") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 5000).map(_ => (rnd.nextInt(7), rnd.nextLong())).toDF("g", "id")
    val bounded = rows.groupBy("g")
      .agg(graft.functions.TopK.minKIds($"id", 13).as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val naive = rows.groupBy("g")
      .agg(F.slice(F.sort_array(F.collect_list($"id")), 1, 13).as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(bounded === naive)
  }

  test("simhash: near-dups have small hamming distance, unrelated large") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sig(a) ^ sig(b))
    assert(ham(0L, 2L) === 0) // same token multiset after lowering
    assert(ham(0L, 1L) < ham(0L, 3L))
  }

  test("ngram jaccard: exact pair has jaccard 1, near pair in (0,1)") {
    val out = Dedup.ngramJaccardPairs(docs, n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(out((0L, 2L)) === 1.0)
    assert(out((0L, 1L)) > 0.3 && out((0L, 1L)) < 1.0)
    assert(!out.contains((3L, 4L)))
  }

  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 50L).map { i =>
      val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      (i, base)
    }.toDF("vec_id", "embedding")
  }

  test("brute-force topk is deterministic and self-excluding") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 3), k = 5)
    val rows = out.collect()
    assert(rows.length === 15)
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)))
    val ranks = rows.filter(_.getLong(0) == 0L).map(_.getInt(3)).sorted
    assert(ranks.toSeq === Seq(1, 2, 3, 4, 5))
  }

  test("lsh topk results are a subset of correct ranking universe; recall sane") {
    val queries = vecs.filter($"vec_id" < 5)
    // baseline under the same quantized-dot metric the LSH tier ranks by
    val brute = Similarity.bruteForceTopKQuant(vecs, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(vecs, queries, k = 3, bits = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // with 2 bits the buckets are coarse; expect meaningful overlap
    assert(lsh.nonEmpty)
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"recall $recall too low")
  }

  test("ivf topk probing all cells equals quantized brute force") {
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 3), k = 4,
      nlist = 8, nprobe = 8) // probe all cells -> exact
    val brute = Similarity.bruteForceTopKQuant(vecs, vecs.filter($"vec_id" < 3), k = 4)
    val a = out.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = brute.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b, "probing all cells must equal brute force")
  }

  test("multi-table lsh beats a single table at equal bits and misses nothing brute-force misses") {
    val queries = vecs.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopKQuant(vecs, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.lshTopK(vecs, queries, k = 3, bits = 3, dims = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopKMulti(vecs, queries, k = 3, tables = 6, bits = 3, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rs = (brute & single).size
    val rm = (brute & multi).size
    assert(rm >= rs, s"OR-amplification must not lose recall: multi $rm < single $rs")
    assert(rm.toDouble / brute.size >= 0.5, s"multi-table recall $rm/${brute.size} too low")
  }

  test("broadcast guard: oversized query side falls back without changing results") {
    val queries = vecs.filter($"vec_id" < 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hinted = pairs(Similarity.bruteForceTopKQuant(vecs, queries, k = 4))
    // threshold 0 forces the non-broadcast path in every tier
    assert(pairs(Similarity.bruteForceTopKQuant(vecs, queries, k = 4,
      maxBroadcastQueries = 0)) === hinted)
    val lshH = pairs(Similarity.lshTopKMulti(vecs, queries, k = 4, tables = 4, bits = 2, dims = 16))
    assert(pairs(Similarity.lshTopKMulti(vecs, queries, k = 4, tables = 4, bits = 2, dims = 16,
      maxBroadcastQueries = 0)) === lshH)
    val ivfH = pairs(Similarity.ivfTopK(vecs, queries, k = 4, nlist = 8, nprobe = 3))
    assert(pairs(Similarity.ivfTopK(vecs, queries, k = 4, nlist = 8, nprobe = 3,
      maxBroadcastQueries = 0)) === ivfH)
  }

  test("ann recall floors hold at the documented operating point (sf0.01)") {
    val rows = SparkEntry.queries("q_ann_recall")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 10)
    val lsh = rows.map(_.getLong(1)).sum
    val ivf = rows.map(_.getLong(2)).sum
    assert(lsh >= 35, s"multi-table LSH recall $lsh/50 below the documented floor")
    assert(ivf >= 35, s"IVF recall $ivf/50 below the documented floor")
  }

  test("filtered ANN floors hold; filtering degrades LSH recall as documented (sf0.01)") {
    val rows = SparkEntry.queries("q_ann_filtered")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 10)
    val lsh = rows.map(_.getLong(1)).sum
    val ivf = rows.map(_.getLong(2)).sum
    // documented operating point: a ~9%-selective predicate over buckets
    // built on the full corpus leaves few in-bucket candidates (measured
    // 9/50 for the 2-bit single table) — the recall note on
    // lshTopKFromIndex; IVF probing half the cells holds up (35/50)
    assert(lsh >= 5, s"filtered LSH hits $lsh/50 below floor")
    assert(ivf >= 25, s"filtered IVF hits $ivf/50 below floor")
  }

  test("filtered ANN tiers return only rows matching the predicate") {
    val queries = vecs.filter($"vec_id" < 3)
    val pred = F.col("vec_id") % 2 === 0
    val evenIds = vecs.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val idx = Similarity.lshBucketTable(vecs, bits = 2, dims = 16,
      attrCols = Seq("vec_id"))
      .withColumnRenamed("vec_id", "orig_id")
    val lsh = Similarity.lshTopKFromIndex(idx, queries, k = 3, bits = 2, dims = 16,
      predicate = Some(F.col("orig_id") % 2 === 0)).collect()
    assert(lsh.nonEmpty && lsh.forall(r => evenIds(r.getLong(1))))
    val ivf = Similarity.ivfTopK(vecs, queries, k = 3, nlist = 4, nprobe = 4,
      predicate = Some(pred)).collect()
    assert(ivf.nonEmpty && ivf.forall(r => evenIds(r.getLong(1))))
    // probing all cells with the predicate equals filtered brute force
    val bf = Similarity.bruteForceTopKQuant(vecs.filter(pred), queries, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.map(r => (r.getLong(0), r.getLong(1))).toSet === bf)
  }

  test("compiled dot_l equals HOF sum over long arrays") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 200).map { _ =>
      (Array.fill(32)(rnd.nextInt(2001).toLong - 1000),
        Array.fill(32)(rnd.nextInt(2001).toLong - 1000))
    }.toDF("a", "b")
    val got = df.select(
      graft.functions.VectorFunctions.dotL($"a", $"b").as("d"),
      F.aggregate(F.zip_with($"a", $"b", (x, y) => x * y), F.lit(0L), (acc, v) => acc + v).as("h"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("bounded topk_pairs aggregate matches the window implementation") {
    val queries = vecs.filter($"vec_id" < 5)
    val agg = Similarity.bruteForceTopK(vecs, queries, k = 7)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val win = Similarity.bruteForceTopKWindow(vecs, queries, k = 7)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(agg === win)
  }

  test("topk_pairs does partial (map-side) aggregation") {
    val df = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 2), k = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert("partial_topk_pairs".r.findAllIn(p).nonEmpty ||
      "ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
  }

  test("upsert newRows is idempotent and intra-batch deduping") {
    val hist = Seq(("k1", "a"), ("k2", "b")).toDF("key", "v")
    val batch = Seq(("k2", "x"), ("k3", "c"), ("k3", "d")).toDF("key", "v")
    val fresh = Upsert.newRows(batch, hist, "key")
    assert(fresh.select("key").as[String].collect().toSeq === Seq("k3"))
    // re-applying the same batch against hist+fresh yields nothing
    val hist2 = hist.unionByName(fresh)
    assert(Upsert.newRows(batch, hist2, "key").count() === 0)
    assert(Upsert.holdsUniqueness(hist2, "key"))
  }

  test("multimodal decode preserves ids and byte counts through mapPartitions") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "payload", "meta"))
    val feats = Multimodal.decodeFeatures(media, new StubDecoder(4)).collect()
    assert(feats.length === 5)
    val byId = feats.map(f => f.media_id -> f).toMap
    assert(byId(0L).n_bytes === "the quick brown fox jumps over the lazy dog".getBytes("UTF-8").length)
    assert(byId(0L).features.length === 4)
    // deterministic decode
    assert(byId(0L).features.toSeq === new StubDecoder(4)
      .decode("the quick brown fox jumps over the lazy dog".getBytes("UTF-8")).toSeq)
  }

  test("mixByWeights: every prefix holds each group's share within one doc") {
    import graft.operators.Corpus
    val rows = (0L until 600L).map { i =>
      (i, if (i % 6 < 3) "en" else if (i % 6 < 5) "de" else "zh")
    }.toDF("doc_id", "lang")
    val mixed = Corpus.mixByWeights(rows, "lang",
      Map("en" -> 3, "de" -> 2), defaultWeight = 1).collect()
    assert(mixed.length === 600)
    // rational-deadline interleave guarantee: in the first n docs, group
    // g appears floor-or-ceil of n * w_g / W times (within 1 + ties)
    val grps = mixed.map(_.getString(1))
    for (n <- Seq(60, 120, 300, 600)) {
      val counts = grps.take(n).groupBy(identity).view.mapValues(_.length)
      for ((g, w) <- Seq(("en", 3), ("de", 2), ("zh", 1))) {
        val expected = n.toDouble * w / 6
        assert(math.abs(counts.getOrElse(g, 0) - expected) <= 2,
          s"prefix $n: $g has ${counts.getOrElse(g, 0)}, expected ~$expected")
      }
    }
    // deterministic under physical layout
    val again = Corpus.mixByWeights(rows.repartition(7), "lang",
      Map("en" -> 3, "de" -> 2), defaultWeight = 1).collect()
    assert(again.map(_.toSeq).toSeq === mixed.map(_.toSeq).toSeq)
  }

  test("inverted index: exact df, bounded sorted postings") {
    import graft.operators.Retrieval
    val idx = Retrieval.invertedIndex(docs, maxPostings = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    // "the" appears in docs 0,1,2 (df 3) but postings cap at the 2 lowest
    assert(idx("the")._1 === 3L)
    assert(idx("the")._2 === Seq(0L, 1L))
    assert(idx("spark")._1 === 1L)
    assert(idx("spark")._2 === Seq(3L))
    // per-doc dedup: "the" appears twice inside each of docs 0/1/2 but
    // df counted it once per doc (3, asserted above); "dog" is in 0 and 2
    assert(idx("dog")._1 === 2L)
    assert(idx("dog")._2 === Seq(0L, 2L))
  }

  test("bpePairCounts: vocab-weighted adjacent pairs, single chars contribute none") {
    import graft.operators.Retrieval
    val corpus = Seq(
      (1L, "aab aab ab"),   // "aab" x2 contributes (a a) x2, (a b) x2; "ab" x1 -> (a b)
      (2L, "aab x y z")     // one more "aab"; single-char words add no pairs
    ).toDF("doc_id", "text")
    val got = Retrieval.bpePairCounts(corpus, topK = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // weighted by WORD frequency: "aab" n=3, "ab" n=1
    assert(got.toSeq === Seq("a b" -> 4L, "a a" -> 3L))
  }

  test("bm25TopK: idf favors rare terms, length norm demotes long docs") {
    import graft.operators.Retrieval
    val corpus = Seq(
      (1L, "hash hash hash join"),           // dense in "hash", short
      (2L, "hash " + ("filler " * 50).trim), // one hit, long
      (3L, "scan merge"),
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(corpus, Seq("hash", "scan"), k = 10).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L)) // doc 4 filtered
    // the rare term ("scan", df 1) outscores the common one via idf;
    // among the "hash" docs, density + length normalization decide
    assert(out.map(_.getLong(0)).toSeq === Seq(3L, 1L, 2L))
    val scores = out.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(scores(1L) > scores(2L), "length normalization must demote the long doc")
    // bit-determinism under repartition (fixed-order float sum)
    val again = Retrieval.bm25TopK(corpus.repartition(5), Seq("hash", "scan"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(again === scores)
  }

  test("real-pixel band features: decoder means equal the exact sums") {
    val imgs = Multimodal.syntheticImages(
      Seq(5L, 17L, 40L).toDF("doc_id"), "doc_id")
    val stats = Multimodal.decodeImageFeatures(imgs, bands = 4).collect()
    assert(stats.forall(_.band >= 0), "real PNGs must all decode")
    // per image: full-band sums re-aggregate to decodePixelStats' totals
    val pix = Multimodal.decodePixelStats(imgs).collect()
      .map(p => p.media_id -> p).toMap
    stats.groupBy(_.media_id).foreach { case (id, rows) =>
      assert(rows.map(_.sum_r).sum === pix(id).sum_r)
      assert(rows.map(_.sum_g).sum === pix(id).sum_g)
      assert(rows.map(_.sum_b).sum === pix(id).sum_b)
      assert(rows.map(_.n_px).sum ===
        pix(id).width.toLong * pix(id).height)
    }
    // the float Decoder view is exactly sums/px of the integer path
    val byIdBand = stats.map(s => (s.media_id, s.band) -> s).toMap
    val feats = Multimodal.decodeFeatures(imgs, new Multimodal.ImageBandDecoder(4))
      .collect().map(f => f.media_id -> f.features).toMap
    byIdBand.foreach { case ((id, b), s) =>
      assert(feats(id)(3 * b) === (s.sum_r.toDouble / s.n_px).toFloat)
      assert(feats(id)(3 * b + 1) === (s.sum_g.toDouble / s.n_px).toFloat)
      assert(feats(id)(3 * b + 2) === (s.sum_b.toDouble / s.n_px).toFloat)
    }
    // unreadable payloads record, not crash: one (band -1, zeros) row
    val junk = Seq((99L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val bad = Multimodal.decodeImageFeatures(junk, bands = 4).collect()
    assert(bad.toSeq === Seq(Multimodal.ImageBandStats(99L, -1, 0L, 0L, 0L, 0L)))
  }

  test("chunking produces overlapping token windows covering the document") {
    import graft.operators.Corpus
    val doc = (1 to 95).map(i => s"w$i").mkString(" ")
    val out = Corpus.chunk(Seq((7L, doc)).toDF("doc_id", "text"), size = 50, stride = 40)
      .orderBy("chunk_id").collect()
    assert(out.length === 3) // starts 0, 40, 80
    assert(out(0).getAs[Long]("n_tokens") === 50L)
    assert(out(1).getAs[String]("chunk_text").startsWith("w41 "))
    assert(out(2).getAs[Long]("n_tokens") === 15L) // tail chunk 81..95
    // overlap: chunk 0 ends at w50, chunk 1 starts at w41
    assert(out(0).getAs[String]("chunk_text").endsWith(" w50"))
  }

  test("stratified sample takes exactly perStratum lowest keys per stratum") {
    import graft.operators.Corpus
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = Corpus.stratifiedSample(df, "lang", 5, "doc_id").collect()
    assert(out.length === 10)
    val en = out.filter(_.getString(1) == "en").map(_.getLong(0)).sorted.toSeq
    assert(en === Seq(0L, 2L, 4L, 6L, 8L))
    // bounded-aggregate implementation equals the window formulation
    val win = Corpus.stratifiedSampleWindow(df, "lang", 5, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSet === win)
  }

  test("packing fills bins within budget, covers all items, isolates oversize") {
    import graft.operators.Corpus
    val items = Seq(
      (1L, 60L), (2L, 50L), (3L, 40L), (4L, 30L), (5L, 20L), (6L, 150L))
      .toDF("doc_id", "n_tokens")
    val bins = Corpus.pack(items, budgetTokens = 100).collect()
    // every item lands in exactly one bin
    val all = bins.flatMap(_.item_ids).sorted.toSeq
    assert(all === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // bins respect the budget unless they hold a single oversize item
    bins.foreach { b =>
      assert(b.total_tokens <= 100 || b.item_ids.length === 1, b.toString)
    }
    // bin ids are unique
    assert(bins.map(_.bin_id).distinct.length === bins.length)
    // the oversize item sits alone
    val over = bins.find(_.item_ids.contains(6L)).get
    assert(over.item_ids === Seq(6L) && over.total_tokens === 150L)
  }

  test("pruned upsert equals unpruned when bounds participate in the key") {
    val hist = Seq(("k1", Some(10L)), ("k2", Some(20L)), ("k4", None)).toDF("key", "ts")
    val batch = Seq(("k2", Some(20L)), ("k3", Some(15L)), ("k4", None)).toDF("key", "ts")
    // the batch's bounds, as its own write would observe them
    val pruned = Upsert.newRowsPruned(batch, hist, "key", "ts",
        Some((15L, 20L)), hasNull = true)
      .select("key").as[String].collect().toSeq
    val full = Upsert.newRows(batch, hist, "key")
      .select("key").as[String].collect().toSeq
    assert(pruned === full)
    assert(pruned === Seq("k3"))
    // empty batch: no range and no NULL, so no rows and no crash
    val empty = batch.filter($"ts" > 100)
    assert(Upsert.newRowsPruned(empty, hist, "key", "ts", None, hasNull = false)
      .count() === 0)
  }

  test("salted count equals plain groupBy count under heavy key skew") {
    import graft.operators.Skew
    val skewed = (0L until 10000L).map(i => if (i % 10 != 0) "hot" else s"k$i")
      .toDF("key")
    val salted = Skew.saltedCount(skewed, "key", salts = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = skewed.groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
    assert(salted("hot") === 9000L)
  }

  test("autoSalts: skew-adaptive pick — off for uniform keys, wide for a hot key") {
    import graft.operators.Skew
    // uniform: 100 keys × 100 rows — the hottest key's sampled share is
    // ~1/100 << 1/32 of a reducer, so the engine must NOT pay the
    // second shuffle (pick 1; ≤2 tolerated for md5-sample granularity)
    val uniform = (0L until 10000L).map(i => (i, s"k${i % 100}"))
      .toDF("rid", "key")
    val u = Skew.autoSalts(uniform, "key", idCol = "rid")
    assert(u <= 2, s"uniform data must not salt, picked $u")
    // planted skew: ~2/3 of rows on ONE key → ratio ≈ ceil(2/3·32) ≈ 22
    // → smallest power of two ≥ ratio = 32
    val skewed = (0L until 10000L).map(i =>
        (i, if (i % 3 != 0) "hot" else s"k${i % 100}"))
      .toDF("rid", "key")
    val k = Skew.autoSalts(skewed, "key", idCol = "rid")
    assert(k === 32, s"hot key carrying 2/3 of rows must pick 32, got $k")
    // the auto-salted aggregate stays semantically invisible and carries
    // the pick on every row
    val out = Skew.autoSaltedAggregate(
        skewed, Seq("key"), idCol = "rid",
        partialAggs = Seq(F.count(F.lit(1)).as("c")),
        finalAggs = Seq(F.sum("c").as("n")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val plain = skewed.groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(t => t._1 -> t._2).toMap === plain)
    assert(out.forall(_._3 == k.toLong))
  }

  test("olsFit2: exact recovery on planted linear data, NULLs on a singular system") {
    import graft.operators.Regression
    // y = 3·x1 + 2·x2 + 5 over a non-degenerate grid: the exact-integer
    // Cramer solve must recover the weights bit-for-bit and the
    // milli-truncated prediction must leave zero L1 residual
    val grid = for (a <- 0L until 20L; b <- 0L until 5L)
      yield ("g1", a, a * 7 % 13, 3 * a + 2 * (a * 7 % 13) + 5 + b * 0)
    val df = grid.toDF("src", "x1", "x2", "y")
    val fit = Regression.olsFit2(df, "src", F.col("x1"), F.col("x2"), F.col("y"))
      .collect().head
    assert((fit.getLong(2), fit.getLong(3), fit.getLong(4)) === ((3000L, 2000L, 5000L)))
    assert(fit.getLong(5) === 0L, "perfect fit must have zero residual")
    // constant second feature → singular normal matrix → NULL weights,
    // never a division crash
    val sing = (0L until 10L).map(i => ("g2", i, 4L, i * 2))
      .toDF("src", "x1", "x2", "y")
    val s2 = Regression.olsFit2(sing, "src", F.col("x1"), F.col("x2"), F.col("y"))
      .collect().head
    assert(s2.isNullAt(2) && s2.isNullAt(3) && s2.isNullAt(4))
    // ridge: the penalty must shrink the planted weights toward zero
    // (and so trade residual for stability), never grow them
    val rf = Regression.olsFit2(df, "src", F.col("x1"), F.col("x2"), F.col("y"),
        ridge = 1000000L)
      .collect().head
    assert(math.abs(rf.getLong(2)) < 3000L && math.abs(rf.getLong(3)) < 2000L)
    assert(rf.getLong(5) > 0L, "shrunk weights must cost residual")
    // the singular system becomes solvable under the penalty (diagonal
    // dominance) — ridge is the degenerate-group fallback
    val rs = Regression.olsFit2(sing, "src", F.col("x1"), F.col("x2"), F.col("y"),
        ridge = 1000L).collect().head
    assert(!rs.isNullAt(2))
  }

  test("salted join equals plain join on a skewed key") {
    import graft.operators.Skew
    val left = (0L until 1000L).map(i => (if (i % 5 != 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val right = Seq(("hot", "H"), ("k0", "Z")).toDF("key", "name")
    val salted = Skew.saltedJoin(left, right, "key")
      .select("key", "v", "name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val plain = left.join(right, Seq("key"))
      .select("key", "v", "name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(salted === plain)
  }

  test("frame sampling yields strided frames with bounded byte blocks") {
    val media = Multimodal.syntheticMedia(
      Seq((1L, "x" * 300)).toDF("doc_id", "text"), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, new StubDecoder(4),
      frameBytes = 64, stride = 2).collect().sortBy(_.frame_idx)
    // 300 bytes -> 5 frames (0..4), stride 2 -> frames 0, 2, 4
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2, 4))
    assert(frames.forall(_.features.length === 4))
  }

  test("connected components: chains collapse to min-id clusters; keep-set drops the rest") {
    // components: {1,2,3} (chain), {10,11}, {20,21,22}, {4,5},
    // {30..36} (a 7-node path — takes multiple propagation rounds)
    val chain = (30L until 36L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (5L, 4L)) ++ chain)
      .toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
    assert(Seq(4L, 5L).forall(cc(_) == 4L))
    assert((30L to 36L).forall(cc(_) == 30L), "long chain must fully converge")
    // canonical keep-set: cluster minima survive, other members drop,
    // untouched docs pass through
    val docs = (1L to 40L).toDF("doc_id")
    val kept = Dedup.dropNearDuplicates(docs, pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(30L) && !kept.contains(36L))
    assert(kept.contains(7L) && kept.contains(40L))
  }

  test("asof join matches latest prior-or-equal right row; ties to highest id") {
    import graft.operators.AsOf
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")),  // before any right -> null
      (101L, 1L, ts("2024-01-01 12:00:00")),  // after r1, r2 -> r2 (equal ts)
      (102L, 1L, ts("2024-01-01 13:00:00")),  // -> r2 still latest
      (103L, 2L, ts("2024-01-01 12:00:00")))  // other key -> r4
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts("2024-01-01 11:00:00")),
      (2L, 1L, ts("2024-01-01 12:00:00")),    // equal-ts match for 101
      (9L, 1L, ts("2024-01-01 12:00:00")),    // tie: highest id wins
      (4L, 2L, ts("2024-01-01 11:30:00")),
      (5L, 2L, ts("2024-01-01 14:00:00")))    // future: never matches 103
      .toDF("event_id", "user_id", "ts")
    val got = AsOf.asofJoin(left, right, Seq("user_id"), "ts", "event_id", "event_id")
      .collect().map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(got(100L) === None)
    assert(got(101L) === Some(9L))
    assert(got(102L) === Some(9L))
    assert(got(103L) === Some(4L))
  }

  test("forward asof matches earliest at-or-after right row; ties to lowest id") {
    import graft.operators.AsOf
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")),  // -> r1 (first future right)
      (101L, 1L, ts("2024-01-01 12:00:00")),  // equal ts: tie -> LOWEST id (2)
      (102L, 1L, ts("2024-01-01 13:00:00")),  // after every right -> null
      (103L, 2L, ts("2024-01-01 12:00:00")))  // other key -> r5
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts("2024-01-01 11:00:00")),
      (2L, 1L, ts("2024-01-01 12:00:00")),
      (9L, 1L, ts("2024-01-01 12:00:00")),
      (4L, 2L, ts("2024-01-01 11:30:00")),    // past: never matches 103
      (5L, 2L, ts("2024-01-01 14:00:00")))
      .toDF("event_id", "user_id", "ts")
    val got = AsOf.asofJoinForward(left, right, Seq("user_id"), "ts", "event_id", "event_id")
      .collect().map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(got(100L) === Some(1L))
    assert(got(101L) === Some(2L))
    assert(got(102L) === None)
    assert(got(103L) === Some(5L))
  }

  test("bucketed range join equals the theta join, including boundary points") {
    import graft.operators.RangeJoin
    val points = Seq((1L, 0.0), (2L, 63.9), (3L, 64.0), (4L, 100.0), (5L, 199.99), (6L, 200.0), (7L, 500.0))
      .toDF("pid", "v")
    val ranges = Seq((10L, 0L, 64L), (11L, 64L, 200L), (12L, 100L, 300L))
      .toDF("rid", "lo", "hi")
    val got = RangeJoin.bucketed(points, "v", ranges, "lo", "hi", bucketWidth = 64)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.crossJoin(ranges)
      .filter($"v" >= $"lo" && $"v" < $"hi")
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.contains((4L, 11L)) && want.contains((4L, 12L))) // overlapping bands
    assert(!want.exists(_._1 == 7L)) // uncovered point drops out
  }

  test("packAssignments matches pack's greedy bins on a single stream") {
    import graft.operators.Corpus
    val items = Seq((1L, 50L), (2L, 60L), (3L, 30L), (4L, 200L), (5L, 10L), (6L, 120L), (7L, 1L))
      .toDF("doc_id", "n_tokens")
    val got = Corpus.packAssignments(items, budgetTokens = 120)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // greedy: [50,60]=110 then 30 overflows -> bin1 [30]=30, 200 overflows
    // -> bin2 [200] oversize closes, bin3 [10], 120 overflows -> bin4
    // [120] closes at budget, bin5 [1]
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 4L, 7L -> 5L))
    // the parallel pack() on one partition produces the same bins
    val viaPack = Corpus.pack(items.repartition(1), budgetTokens = 120)
      .collect().flatMap(b => b.item_ids.map(_ -> b.bin_id))
      .groupBy(_._1).map { case (id, xs) => id -> xs.head._2 }
    val gotByBin = got.groupBy(_._2).map { case (_, xs) => xs.keys.toSet }.toSet
    val packByBin = viaPack.groupBy(_._2).map { case (_, xs) => xs.keys.toSet }.toSet
    assert(gotByBin === packByBin)
  }

  test("decontamination flags and drops docs overlapping the benchmark") {
    import graft.operators.Hygiene
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "prefix alpha beta gamma delta epsilon suffix"), // shares a 5-gram
      (2L, "alpha beta gamma unrelated delta epsilon"),     // shares none
      (3L, "completely different words here entirely now"))
      .toDF("doc_id", "text")
    val counts = Hygiene.contaminationCounts(docs, bench, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 1L))
    val kept = Hygiene.decontaminate(docs, bench, n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
    // broadcast shape: the benchmark side must not shuffle the corpus
    val plan = Hygiene.contaminationCounts(docs, bench, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("pii detection counts and redaction mask emails and digit runs") {
    import graft.operators.Hygiene
    val docs = Seq(
      (1L, "reach me at jane.doe+x@corp.example.org or 0123456 now"),
      (2L, "no pii here at all"),
      (3L, "double a@b.co c@d.org and 12345 67890"))
      .toDF("doc_id", "text")
    val got = Hygiene.piiReport(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L)._1 === 1L && got(1L)._2 === 1L)
    assert(got(2L)._1 === 0L && got(2L)._2 === 0L)
    assert(got(3L)._1 === 2L && got(3L)._2 === 2L)
    val redacted = docs.select($"doc_id", Hygiene.redactPii($"text").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(redacted(1L) === "reach me at <EMAIL> or <NUM> now")
    assert(redacted(3L) === "double <EMAIL> <EMAIL> and <NUM> <NUM>")
  }

  test("curate composes dedup, quality floor, decontamination, sampling") {
    import graft.operators.Corpus
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, filler),                      // survives (if its hash lands under 3/4)
      (2L, filler),                      // exact dup of 1: dropped by dedup
      (3L, "too short"),                 // dropped by the token floor
      (4L, s"alpha beta gamma delta epsilon $filler")) // contaminated
      .toDF("doc_id", "text")
    val kept = Corpus.curate(docs, bench, minTokens = 20)
      .collect().map(_.getLong(0)).toSet
    assert(!kept(2L) && !kept(3L) && !kept(4L))
    assert(kept.subsetOf(Set(1L)))
  }

  test("incremental dedup pairs touch the batch, never corpus x corpus") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base), (2L, base), // corpus-internal dup: must NOT pair
      (3L, "some totally unrelated corpus document about spark plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                    // dups corpus docs 1 and 2
      (11L, base),                    // dups within the batch too
      (12L, "nothing like anything else in either set whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalCandidatesMd5(batch, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got((1L, 10L)) && got((2L, 10L)) && got((1L, 11L)) && got((10L, 11L)))
    assert(!got((1L, 2L)), "corpus x corpus pair leaked")
    assert(!got.exists(p => p._1 == 12L || p._2 == 12L))
    // every pair touches the batch
    assert(got.forall(p => p._1 >= 10L || p._2 >= 10L))
    // a PERSISTED corpus bucket table yields identical candidates: the
    // refresh path never re-shingles the corpus
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft-buckets").toString + "/corpus_buckets"
    Dedup.bucketTableMd5(corpus).write.parquet(tableDir)
    val viaTable = Dedup.incrementalCandidatesFromBuckets(
        Dedup.bucketTableMd5(batch), spark.read.parquet(tableDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaTable === got)
  }

  test("incremental dedup: hot corpus buckets cannot crowd out batch ids") {
    import graft.operators.Dedup
    // three corpus ids and two batch ids share one bucket, cap = 2:
    // a shared min-id cap over the union would keep only corpus ids
    // [1,2] on the pairing side and silently drop the batch-internal
    // pair (10,11); per-side caps keep both
    val corpusB = Seq((1L, 0, 7L), (2L, 0, 7L), (3L, 0, 7L)).toDF("id", "band", "bk")
    val batchB = Seq((10L, 0, 7L), (11L, 0, 7L)).toDF("id", "band", "bk")
    val got = Dedup.incrementalCandidatesFromBuckets(batchB, corpusB, maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (10L, 11L)))
  }

  test("connected components: 64-vertex chain converges in O(log n) rounds") {
    import graft.operators.Dedup
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    // threshold 0 forces the DISTRIBUTED loop; 12 rounds << the 63 a
    // pure neighbor-min walk would need: only the pointer-jumping
    // shortcut converges this fast
    val got = Dedup.connectedComponents(chain, maxIter = 12,
        driverCollapseThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 64)
    assert(got.values.forall(_ == 0L))
    // the driver union-find fast path produces identical labels
    val viaDriver = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === got)
    // null ids are not vertices: dropped, not NPE'd
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(2L), None))
      .toDF("a", "b")
    val labels = Dedup.connectedComponents(withNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L))
    // non-convergence is loud, not silently-wrong labels
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2, driverCollapseThreshold = 0)
    }
  }

  test("imageio decode extracts real PNG headers; corrupt payloads survive") {
    import graft.operators.Multimodal
    val ids = Seq(0L, 5L, 36L, 40L).toDF("doc_id")
    val imgs = Multimodal.syntheticImages(ids, "doc_id")
    val got = Multimodal.decodeImageMeta(imgs).collect()
      .map(m => m.media_id -> m).toMap
    got.foreach { case (id, m) =>
      assert(m.format === "png")
      assert(m.width === (1 + id % 37).toInt, s"width of $id")
      assert(m.height === (1 + id % 23).toInt, s"height of $id")
      assert(m.channels === 3)
    }
    // non-image payloads: recorded, not crashed — including a payload
    // with a VALID PNG magic number but corrupt header bytes, which
    // makes readers throw RuntimeExceptions rather than IOException
    val pngMagicJunk =
      Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a) ++
        Array.fill[Byte](16)(0x7f)
    val junk = Seq((1L, "definitely not a png".getBytes("UTF-8")),
      (2L, Array.empty[Byte]), (3L, null.asInstanceOf[Array[Byte]]),
      (4L, pngMagicJunk))
      .toDF("media_id", "payload")
    val bad = Multimodal.decodeImageMeta(junk).collect().map(m => m.media_id -> m).toMap
    assert(bad.values.forall(m => m.width == -1 && m.channels == -1), bad.toString)
  }

  test("bloom-prefiltered contamination counts match the exact operator") {
    import graft.operators.Hygiene
    val corpus = docs.filter(F.col("doc_id") >= 2)
    val bench = docs.filter(F.col("doc_id") < 2)
    val exact = Hygiene.contaminationCounts(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Hygiene.contaminationCountsBloom(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom === exact)
    assert(exact.nonEmpty) // fixture docs 0/2 share 3-grams, so non-trivial
    // a Bloom filter admits false positives but never false negatives:
    // every inserted gram must probe true through the SQL surface
    // the bloom side must be a constant or scalar subquery (the same
    // contract Spark's runtime filters obey)
    val hits = spark.sql(
      """WITH g AS (SELECT explode(sequence(1, 500)) AS v)
        |SELECT COUNT(*) AS n FROM g
        |WHERE might_contain(
        |  (SELECT bloom_agg(xxhash64(CAST(v AS STRING)), CAST(500 AS BIGINT)) FROM g),
        |  xxhash64(CAST(v AS STRING)))""".stripMargin)
      .head().getLong(0)
    assert(hits === 500L)
    // empty benchmark: nothing flagged, empty result
    assert(Hygiene.contaminationCountsBloom(
      corpus, bench.limit(0), n = 3).count() === 0L)
  }

  test("decodePixelStats round-trips seeded PNG pixels exactly") {
    import graft.operators.Multimodal
    val ids = Seq(1L, 5L, 38L)
    val imgs = Multimodal.syntheticImages(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.decodePixelStats(imgs).collect()
      .map(p => p.media_id -> p).toMap
    ids.foreach { id =>
      val w = (1 + id % 37).toInt; val h = (1 + id % 23).toInt
      var r = 0L; var g = 0L; var b = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((id * 31 + x * 7 + y * 13) & 0xffffff).toInt
        r += (v >> 16) & 0xff; g += (v >> 8) & 0xff; b += v & 0xff
      }
      val p = got(id)
      assert((p.width, p.height) === ((w, h)), s"dims of $id")
      assert((p.sum_r, p.sum_g, p.sum_b) === ((r, g, b)), s"channel sums of $id")
    }
    // corrupt payloads: recorded, not crashed
    val bad = Multimodal.decodePixelStats(
      Seq((99L, "not an image".getBytes("UTF-8"))).toDF("media_id", "payload"))
      .head()
    assert(bad.width === -1 && bad.sum_r === 0L)
  }

  test("heavyHitters: exact terms above total/k via the MG 2-pass protocol") {
    import graft.operators.Corpus
    // 'hot' is 55/90 tokens, 'warm' 15/90; everything else appears once
    val fixture = (0 until 45).map { i =>
      val body =
        if (i < 20) "hot hot"
        else if (i < 35) "hot warm"
        else s"cold$i unique$i"
      (i.toLong, body)
    }.toDF("doc_id", "text")
    val got = Corpus.heavyHitters(fixture, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // total = 90 tokens; threshold cnt*10 > 90 -> cnt > 9
    assert(got === Map("hot" -> 55L, "warm" -> 15L))
    // guarantee survives partition merges: same answer highly partitioned
    val gotP = Corpus.heavyHitters(fixture.repartition(13), k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotP === got)
    // empty corpus: empty result, no crash
    assert(Corpus.heavyHitters(fixture.limit(0), k = 10).count() === 0L)
  }

  test("kmeansStep emits exact per-cell counts and component sums") {
    import graft.operators.Similarity
    // two obvious clusters on the axes; quantization x1000 is exact here
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(1000L, 0L), Seq(0L, 1000L))
    val got = Similarity.kmeansStep(vecs, cents).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    // floor-quantization of floats: 0.9f = 0.8999999... -> 899
    assert(got(0) === ((2L, Seq(1899L, 100L))))  // ids 1,2: (1000+899, 0+100)
    assert(got(1) === ((2L, Seq(100L, 1899L))))  // ids 3,4
    // the aggregate is SQL-callable and merges across partitions
    val sql = spark.sql(
      """SELECT sum_vec_l(v) AS s FROM (
        |  SELECT array(CAST(id AS BIGINT), CAST(id * 2 AS BIGINT)) AS v
        |  FROM range(1, 101) t(id) DISTRIBUTE BY id)""".stripMargin)
      .head().getSeq[Long](0)
    assert(sql === Seq(5050L, 10100L))
  }

  test("kmeansStep conserves mass: every vector assigned once, sums total") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.sampleCentroids(emb, nlist = 4)
    val stats = Similarity.kmeansStep(emb, cents).collect()
    assert(stats.map(_.getLong(1)).sum === emb.count())
    // element-wise totals across cells equal the global quantized sum
    val dims = stats.head.getSeq[Long](2).length
    val byCell = stats.map(_.getSeq[Long](2))
    val total = (0 until dims).map(i => byCell.map(_(i)).sum)
    val global = emb.select(
        graft.functions.VectorAgg.sumVecL(
          graft.functions.VectorFunctions.quantize(F.col("embedding"))).as("s"))
      .head().getSeq[Long](0)
    assert(total === global)
  }

  test("kmeansTrain converges on planted clusters and reseeds empty cells") {
    import graft.operators.Similarity
    // Arrange vectors by each id's md5-order POSITION (the engine's seed
    // rule) so the scenario is fully pinned: the three seeds are X, X, Y
    // — duplicate seeds, so cell 1 is empty after iteration 1 (ties
    // assign to the lowest cell) and must reseed from pool index
    // nlist*iter + cell = 4, where we plant the corpus' single Z vector.
    def h(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byMd5 = (1L to 20L).sortBy(id => (h(id), id))
    val X = Seq(1.0f, 0.0f, 0.0f)
    val Y = Seq(0.0f, 1.0f, 0.0f)
    val Z = Seq(0.0f, 0.0f, 1.0f)
    val vecOf = byMd5.zipWithIndex.map { case (id, pos) =>
      id -> (pos match {
        case 0 | 1 => X
        case 2 => Y
        case 4 => Z
        case p if p % 2 == 0 => X
        case _ => Y
      })
    }.toMap
    val df = (1L to 20L).map(id => (id, vecOf(id))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val r = Similarity.kmeansTrain(df, nlist = 3, maxIters = 10)
    // iter 1: Z rides with cell 0 (all dots 0, tie to lowest) and cell 1
    // reseeds to Z; iter 2: clusters separate, centroids become exactly
    // (X, Z, Y); iter 3: fixed point detected
    assert(r.converged, r.toString)
    assert(r.iterations === 3, r.toString)
    assert(r.centroids === Seq(
      Seq(1000L, 0L, 0L), Seq(0L, 0L, 1000L), Seq(0L, 1000L, 0L)))
    // the result is a true fixed point and conserves mass
    val stats = Similarity.kmeansStep(df, r.centroids).collect()
      .map(row => row.getInt(0) ->
        ((row.getLong(1), row.getSeq[Long](2)))).toMap
    assert(stats.values.map(_._1).sum === 20L)
    r.centroids.zipWithIndex.foreach { case (c, j) =>
      val (n, sums) = stats(j)
      assert(sums.map(x => Math.floorDiv(x, n)) === c, s"cell $j not fixed")
    }
  }

  test("lsh bucket index persisted to parquet serves identical ANN results") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(F.col("vec_id") < 5)
    val direct = Similarity.lshTopK(emb, queries, k = 3, bits = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // build the index once, round-trip it through storage, serve from it
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    Similarity.lshBucketTable(emb, bits = 4).write.mode("overwrite").parquet(dir)
    val served = Similarity.lshTopKFromIndex(
        spark.read.parquet(dir), queries, k = 3, bits = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(served === direct)
    assert(direct.nonEmpty)
  }

  test("packText concatenates each bin's texts in id order") {
    import graft.operators.Corpus
    val fixture = Seq(
      (1L, "one two three"),   // 3 tokens
      (2L, "four five"),       // 2 tokens -> bin 0 now at 5, next overflows
      (3L, "six seven eight"), // 3 tokens -> bin 1
      (4L, "nine ten")).toDF("doc_id", "text")
    val got = Corpus.packText(fixture, budgetTokens = 5L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    assert(got(0L) === ((2L, 5L, md5("one two three\n\nfour five"))))
    assert(got(1L) === ((2L, 5L, md5("six seven eight\n\nnine ten"))))
  }

  test("sentences splits on punctuation runs, trims, and drops empties") {
    import graft.operators.Corpus
    val fixture = Seq(
      (1L, "First sentence. Second one! And... a third?  Tail"),
      (2L, "no punctuation at all"),
      (3L, "trailing period. ")).toDF("doc_id", "text")
    val got = Corpus.sentences(fixture).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got((1L, 0)) === "First sentence")
    assert(got((1L, 1)) === "Second one")
    assert(got((1L, 2)) === "And")
    assert(got((1L, 3)) === "a third")
    assert(got((1L, 4)) === "Tail")
    assert(got((2L, 0)) === "no punctuation at all")
    // the trailing '. ' leaves an empty tail piece, which is dropped
    assert(got((3L, 0)) === "trailing period")
    assert(!got.contains((3L, 1)))
  }

  test("keywordsTfIdf ranks terms by tf/df with deterministic ties") {
    import graft.operators.Corpus
    val corpus = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry cherry cherry"),
      (3L, "apple date")).toDF("doc_id", "text")
    val got = Corpus.keywordsTfIdf(corpus, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3), r.getLong(4))))
      .toMap
    // df: apple 2, banana 2, cherry 1, date 1
    assert(got((1L, 1)) === (("apple", 2L, 2L)))  // 2/2 = 1.0
    assert(got((1L, 2)) === (("banana", 1L, 2L))) // 1/2 = 0.5
    assert(got((2L, 1)) === (("cherry", 3L, 1L))) // 3/1 = 3.0
    assert(got((3L, 1)) === (("date", 1L, 1L)))   // 1/1 beats 1/2
    assert(got((3L, 2)) === (("apple", 1L, 2L)))
  }

  test("compositionApprox sketch stays within the graded error bound") {
    import graft.operators.Corpus
    val corpus = (0 until 300)
      .map(i => (i.toLong, s"document body number $i with shared words",
        if (i % 2 == 0) "en" else "de", s"s${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = Corpus.compositionApprox(corpus).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct")
      val approx = r.getAs[Long]("approx_distinct")
      assert(math.abs(approx - exact) <= math.max(2L, exact / 20),
        s"sketch outside bound for ${r.getAs[String]("lang")}/${r.getAs[String]("source")}")
    }
  }

  test("gif sequence encode/decode round-trips frame counts and per-frame dims") {
    import graft.operators.Multimodal
    val ids = Seq(0L, 3L, 20L, 64L).toDF("doc_id")
    val gifs = Multimodal.syntheticGifs(ids, "doc_id")
    val got = Multimodal.decodeFrameMeta(gifs).collect()
    val byId = got.groupBy(_.media_id)
    byId.foreach { case (id, frames) =>
      val n = (2 + id % 5).toInt
      assert(frames.length === n, s"frame count of $id")
      assert(frames.map(_.frame_idx).sorted.toSeq === (0 until n))
      frames.foreach { m =>
        assert(m.format === "gif")
        assert(m.n_frames === n)
        assert(m.width === (3 + id % 21).toInt)
        assert(m.height === (2 + id % 13).toInt)
      }
    }
    // corrupt containers record one sentinel row, never crash: junk
    // bytes, empty, null, and a valid GIF magic with a truncated body
    val gifMagicJunk = "GIF89a".getBytes("US-ASCII") ++ Array.fill[Byte](8)(0x7f)
    val junk = Seq((1L, "definitely not a gif".getBytes("UTF-8")),
      (2L, Array.empty[Byte]), (3L, null.asInstanceOf[Array[Byte]]),
      (4L, gifMagicJunk))
      .toDF("media_id", "payload")
    val bad = Multimodal.decodeFrameMeta(junk).collect()
    assert(bad.length === 4)
    assert(bad.forall(m => m.frame_idx == -1 && m.n_frames == 0 && m.width == -1),
      bad.mkString(","))
  }

  test("batch sessionize splits on the gap and shares one exchange") {
    import graft.operators.Sessions
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(10)), // session 1 of user 1
      (3L, 1L, ts(50)),                  // 40-min gap: session 2
      (4L, 2L, ts(5)))                   // user 2: one session
      .toDF("event_id", "user_id", "ts")
    val got = Sessions.sessionizeBatch(ev, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(5))).toMap
    assert(got((1L, 1L)) === ((2L, 600000000L))) // 2 events, 10 min span
    assert(got((1L, 2L)) === ((1L, 0L)))
    assert(got((2L, 1L)) === ((1L, 0L)))
    // both windows + the session aggregate share ONE shuffle exchange
    val p = Sessions.sessionizeBatch(ev).queryExecution.executedPlan.toString
    assert(p.split("Exchange hashpartitioning").length - 1 === 1, p.take(900))
  }

  test("frame sampling slices strided blocks; byte-budget repartition sizes tasks") {
    import graft.operators.Multimodal
    val media = Seq(
      (1L, Array.tabulate[Byte](300)(_.toByte)), // 5 frames of 64 -> idx 0,2,4
      (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(media, new StubDecoder(4),
        frameBytes = 64, stride = 2)
      .collect().map(f => (f.media_id, f.frame_idx)).toSet
    assert(frames === Set((1L, 0), (1L, 2), (1L, 4)))
    // byte-budget partitioning: 300 payload bytes at a 100-byte budget
    // -> 3 partitions; empty/null payloads cost nothing
    val parts = Multimodal.repartitionForDecode(media, targetBytesPerPartition = 100)
      .rdd.getNumPartitions
    assert(parts === 3)
    // hamming distance over 64-bit signatures
    val d = spark.sql("SELECT 1").select(
      graft.operators.Dedup.hammingDist(F.lit(0L), F.lit(-1L))).head().getInt(0)
    assert(d === 64)
  }

  test("audio decode extracts real WAV headers; junk payloads survive") {
    import graft.operators.Multimodal
    val ids = Seq(0L, 1L, 2L, 7L).toDF("doc_id")
    val wavs = Multimodal.syntheticAudio(ids, "doc_id")
    val got = Multimodal.decodeAudioMeta(wavs).collect().map(m => m.media_id -> m).toMap
    got.foreach { case (id, m) =>
      assert(m.format === "wave")
      assert(m.sample_rate === (8000 * (1 + id % 3)).toInt, s"rate of $id")
      assert(m.channels === (1 + id % 2).toInt)
      assert(m.n_frames === 200 + id % 100)
    }
    val junk = Seq((1L, "not audio at all".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val bad = Multimodal.decodeAudioMeta(junk).collect().head
    assert(bad.format == null && bad.sample_rate == -1 && bad.n_frames == -1L)
  }

  test("md5 near-dup pipeline finds planted dups and skips unrelated docs") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base),                                      // exact dup
      (3L, base.replace("lazy", "sleepy")),            // near dup
      (4L, "completely different content about spark catalyst expressions"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidatesMd5(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands((1L, 2L)))
    val verified = Dedup.nearDuplicatesMd5(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified((1L, 2L)))
    assert(verified((1L, 3L)) && verified((2L, 3L))) // high char-5-gram overlap
    assert(!verified.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bucketed range join is exact above 2^53 and for negatives") {
    import graft.operators.RangeJoin
    // double division loses ulp precision above 2^53: these values round
    // to different longs under `floor(v / w)` in double arithmetic, so
    // only exact integer floor-division buckets them consistently
    val big = 1L << 62
    val points = Seq((1L, big + 2L), (2L, big - 1L), (3L, big + 599L),
      (4L, -5L), (5L, -10L), (6L, 0L)).toDF("pid", "v")
    val ranges = Seq((10L, big - 600L, big + 600L), (11L, big + 2L, big + 5L),
      (12L, -10L, 0L)).toDF("rid", "lo", "hi")
    val got = RangeJoin.bucketed(points, "v", ranges, "lo", "hi", bucketWidth = 3)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.crossJoin(ranges)
      .filter($"v" >= $"lo" && $"v" < $"hi")
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want((1L, 10L)) && want((1L, 11L)) && want((4L, 12L)) && want((5L, 12L)))
    assert(!want.exists(_._1 == 6L))
  }

  test("repetition stats count most-repeated token and bigram") {
    import graft.operators.Corpus
    val d = Seq(
      (1L, "spam spam spam ham"),
      (2L, "all words unique here"),
      (3L, "")).toDF("doc_id", "text")
    val got = Corpus.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === ((2L, 3L, 2L))) // {spam, ham}; spam x3; "spam spam" x2
    assert(got(2L) === ((4L, 1L, 1L)))
    assert(got(3L) === ((0L, 0L, 1L))) // empty doc: single empty whole-text shingle
  }

  test("approx length quantiles agree with exact answers on small groups") {
    import graft.operators.Corpus
    val d = (1 to 101).map(i => (i.toLong, "x" * i, "en"))
      .toDF("doc_id", "text", "lang")
    val q = Corpus.lengthQuantiles(d, Seq(0.5)).collect()
    assert(q.length === 1)
    // 101 docs of lengths 1..101: exact median length is 51
    assert(q.head.getSeq[Long](1) === Seq(51L))
  }

  test("hash sampling is deterministic, stratum-rated, and repartition-stable") {
    import graft.operators.Corpus
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val rates = Map("en" -> (1, 4), "zh" -> (3, 4))
    val once = Corpus.hashSample(df, "doc_id", "lang", rates)
      .collect().map(_.getLong(0)).toSet
    val again = Corpus.hashSample(df.repartition(7), "doc_id", "lang", rates)
      .collect().map(_.getLong(0)).toSet
    assert(once === again, "sampling must not depend on partitioning")
    val enRate = once.count(_ % 2 == 0) / 1000.0
    val zhRate = once.count(_ % 2 == 1) / 1000.0
    assert(math.abs(enRate - 0.25) < 0.06, s"en rate $enRate")
    assert(math.abs(zhRate - 0.75) < 0.06, s"zh rate $zhRate")
  }

  test("connected components equal union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (0 until 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val got = Dedup.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val groups = parent.keys.groupBy(find).map { case (_, vs) => vs.toSet -> vs.min }
    groups.foreach { case (vs, m) => vs.foreach(v => assert(got(v) === m, s"vertex $v")) }
    assert(got.size === parent.keys.size)
  }

  test("asof join equals the naive per-row latest-prior lookup on random data") {
    val rnd = new scala.util.Random(9)
    def randRows(n: Int, idBase: Long) = (0 until n).map { i =>
      (idBase + i, rnd.nextInt(5).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L))
    }
    val lRows = randRows(150, 1000)
    val rRows = randRows(150, 5000)
    val got = graft.operators.AsOf.asofJoin(
        lRows.toDF("event_id", "user_id", "ts"), rRows.toDF("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", "event_id", "event_id")
      .collect().map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    lRows.foreach { case (lid, u, lts) =>
      val cands = rRows.filter(r => r._2 == u && !r._3.after(lts))
      val want =
        if (cands.isEmpty) None
        else Some(cands.maxBy(r => (r._3.getTime, r._1))._1)
      assert(got(lid) === want, s"left $lid")
    }
  }

  test("nearest asof picks the min-gap side and resolves equal gaps to prior") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val left = Seq((1L, 1L, ts(100)), (2L, 1L, ts(5)), (3L, 2L, ts(50)))
      .toDF("event_id", "user_id", "ts")
    // user 1: right at 90 (gap 10) and 105 (gap 5) -> next wins for
    // left 100; for left 5 only later rows exist -> next; rights at 95
    // and 105 around a left at 100 would tie -> prior (user 3 below)
    val right = Seq(
      (10L, 1L, ts(90)), (11L, 1L, ts(105)),
      (20L, 2L, ts(45)), (21L, 2L, ts(55))
    ).toDF("event_id", "user_id", "ts")
    val out = graft.operators.AsOf.asofJoinNearest(
        left, right, Seq("user_id"), "ts", "event_id", "event_id")
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getString(3), r.getLong(4))).toMap
    assert(out(1L) === ((11L, "next", 5000000L)))   // 5s gap beats 10s
    assert(out(2L) === ((10L, "next", 85000000L)))  // nothing prior
    assert(out(3L) === ((20L, "prior", 5000000L)))  // equal 5s gaps -> prior
  }

  test("nearDuplicates pipeline: finds planted near-dup, rejects dissimilar") {
    val corpus = Seq(
      (0L, "spark is a unified analytics engine for large scale data processing with apis"),
      (1L, "spark is a unified analytics engine for large scale data processing with api"), // near-dup of 0
      (2L, "completely different text about cooking pasta with tomatoes and fresh basil"),
      (3L, "yet another topic entirely discussing mountain hiking trails and equipment")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.nearDuplicates(corpus, minJaccard = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("embedding near-dups finds planted duplicate pair") {
    val planted = vecs.unionByName(
      vecs.filter($"vec_id" === 0L).select(F.lit(999L).as("vec_id"), $"embedding"))
    // identical vectors share every LSH bucket, so the banded candidate
    // generation cannot miss the planted pair
    val pairs = Dedup.embeddingNearDups(planted, thresholdNum = 999, thresholdDen = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 999L)))
  }

  test("embedding near-dup governor refuses a quadratic-ish operating point loudly") {
    // a degenerate dense cloud: every vector identical, so all n land in
    // ONE bucket per table and the candidate mass is tables * C(n,2) —
    // the shape a too-loose band produces on a 100x-denser corpus
    val dense = spark.range(0, 300)
      .select(F.col("id").as("vec_id"),
        F.typedlit(Array.fill(64)(0.5f)).as("embedding"))
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.embeddingNearDups(dense, maxCandidatesPerVec = 100L)
    }
    assert(e.getMessage.contains("governor") &&
      e.getMessage.contains("embeddingNearDupsAuto"),
      s"refusal must name the budget and the adaptive alternative: ${e.getMessage}")
    // the guard is a governor, not a cap: disabling it returns the full
    // listing, and a spread cloud passes under the default budget
    assert(graft.operators.Dedup.embeddingNearDups(dense,
      maxCandidatesPerVec = 0L).count() === 300L * 299L / 2L)
  }

  test("simhashPairs finds identical docs at hamming 0, skips dissimilar") {
    val docs = Seq(
      (0L, "spark shuffles partition data across the cluster nodes"),
      (1L, "spark shuffles partition data across the cluster nodes"),
      (2L, "an entirely unrelated sentence about cooking pasta dinner")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 1L && h == 0L })
    assert(!pairs.exists { case (a, b, _) => b == 2L || a == 2L })
  }

  test("pqCodes gives codebook members zero error and bounded codes") {
    val out = Similarity.pqCodes(vecs, m = 4, ksub = 8).collect()
    assert(out.length === 50)
    // every code indexes into the 8-entry sub-codebook
    assert(out.forall(r => (1 to 4).forall(i => r.getInt(i) >= 0 && r.getInt(i) < 8)))
    // the 8 sampled codebook vectors reconstruct themselves exactly
    assert(out.count(_.getLong(5) == 0L) >= 8)
    // non-members carry positive quantization error
    assert(out.exists(_.getLong(5) > 0L))
  }

  test("pqAdcTopK equals exact quantized L2 when every vector is a codebook entry") {
    val eight = vecs.filter($"vec_id" < 8)
    val out = Similarity.pqAdcTopK(eight, eight.filter($"vec_id" < 2), k = 3, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // ksub == |corpus| makes PQ lossless: ADC distances are the true
    // quantized L2^2, so verify against a hand-computed ranking
    val qv = eight.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(f => math.floor(f * 1000).toLong).toArray
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (q <- Seq(0L, 1L)) {
      val expected = qv.keys.filter(_ != q).toSeq
        .map(n => (l2(qv(q), qv(n)), n)).sorted.take(3)
      val got = out.filter(_._1 == q).sortBy(_._4).map(r => (r._3, r._2)).toSeq
      assert(got === expected)
    }
  }

  test("ivfPqTopK with full probe and lossless codebook equals exact L2") {
    val eight = vecs.filter($"vec_id" < 8)
    val out = Similarity.ivfPqTopK(eight, eight.filter($"vec_id" < 2), k = 3,
        nlist = 4, nprobe = 4, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val qv = eight.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(f => math.floor(f * 1000).toLong).toArray
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (q <- Seq(0L, 1L)) {
      val expected = qv.keys.filter(_ != q).toSeq
        .map(n => (l2(qv(q), qv(n)), n)).sorted.take(3)
      val got = out.filter(_._1 == q).sortBy(_._4).map(r => (r._3, r._2)).toSeq
      assert(got === expected)
    }
  }

  test("semDedup keeps the smallest id of a planted duplicate pair") {
    val planted = vecs.unionByName(
      vecs.filter($"vec_id" === 3L).select(F.lit(777L).as("vec_id"), $"embedding"))
    val out = Dedup.semDedup(planted, nlist = 4, thresholdNum = 99, thresholdDen = 100)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out.size === 51)
    val (cell3, kept3) = out(3L)
    val (cell777, kept777) = out(777L)
    assert(cell3 === cell777) // identical vectors share the argmax cell
    assert(kept3 && !kept777) // smallest id survives, duplicate dropped
  }

  test("bpeTrain applies merges greedily (back-to-back) and stops when exhausted") {
    val docs = Seq((0L, "abab abab abab")).toDF("doc_id", "text")
    val out = graft.operators.Retrieval.bpeTrain(docs, merges = 3)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // step 1: pair "a b" appears twice per word (6 total) and beats
    // "b a" (3); applying it must merge BOTH occurrences in one pass
    // ([a,b,a,b] -> [ab,ab], the non-overlapping back-to-back case)
    // step 2: "ab ab" -> [abab]; step 3: no pairs left -> loop stops
    assert(out.toSeq === Seq((1, "a b", 6L), (2, "ab ab", 3L)))
  }

  test("bpeEncode counts post-merge subwords per document") {
    val docs = Seq((0L, "abab abab abab"), (1L, "")).toDF("doc_id", "text")
    def counts(merges: Int) =
      graft.operators.Retrieval.bpeEncode(docs, merges = merges)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // one merge (a b): each "abab" -> [ab, ab] = 2 subwords
    assert(counts(1) === Seq((0L, 3L, 6L), (1L, 0L, 0L)))
    // two merges collapse each word to a single symbol
    assert(counts(2) === Seq((0L, 3L, 3L), (1L, 0L, 0L)))
  }

  test("bpeWordCodec law: decode(encode(w)) == w over generated corpora") {
    // property over GENERATED corpora (fixed seeds, deterministic): for
    // every vocabulary word, rebuilding from the subword-id sequence
    // alone must reproduce the word exactly, at several merge depths
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val corpus = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, word))
    (0 until 12).foreach { i =>
      val words = corpus.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val docs = words.grouped(4).zipWithIndex
        .map { case (ws, d) => (d.toLong, ws.mkString(" ")) }
        .toSeq.toDF("doc_id", "text")
      val merges = 1 + i % 4
      val rows = graft.operators.Retrieval.bpeWordCodec(docs, merges = merges)
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[String]("decoded") === r.getAs[String]("w"),
          s"seed $i merges $merges: id round-trip broke for '${r.getAs[String]("w")}'")
      }
    }
    // and the merges are real: a repeated bigram compresses below chars
    val dd = Seq((0L, "abab abab abab")).toDF("doc_id", "text")
    val c = graft.operators.Retrieval.bpeWordCodec(dd, merges = 1).collect()(0)
    assert(c.getAs[Long]("n_ids") === 2L) // [ab, ab], not 4 chars
    assert(c.getAs[String]("decoded") === "abab")
  }

  test("bpeApply with the trained merge table equals bpeEncode") {
    val docs = Seq((0L, "abab abab cd cd cd"), (1L, "cd abab")).toDF("doc_id", "text")
    val learned = graft.operators.Retrieval.bpeTrain(docs, merges = 3)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    val direct = graft.operators.Retrieval.bpeEncode(docs, merges = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val applied = graft.operators.Retrieval.bpeApply(docs, learned)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(applied === direct)
    // and on a DIFFERENT corpus the persisted table still applies
    val other = Seq((9L, "abab cdcd")).toDF("doc_id", "text")
    val o = graft.operators.Retrieval.bpeApply(other, learned).collect()(0)
    assert(o.getLong(1) === 2L) // 2 tokens, subwords reflect the merges
  }

  test("duplicatedSpans surfaces shared boilerplate with bounded doc samples") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over it"),
      (1L, "intro text the quick brown fox jumps away"),
      (2L, "the quick brown fox jumps again and again"),
      (3L, "completely different words here entirely now")
    ).toDF("doc_id", "text")
    val rows = Dedup.duplicatedSpans(docs, n = 5, minDocs = 2, topK = 10, maxSample = 2)
      .collect()
    val bySpan = rows.map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(bySpan.contains("the quick brown fox jumps"))
    val (nDocs, sample) = bySpan("the quick brown fox jumps")
    assert(nDocs === 3L)
    assert(sample === Seq(0L, 1L)) // bounded to the 2 smallest ids
    // a span repeated within ONE doc (doc 2: "again") never qualifies alone
    assert(!bySpan.keys.exists(_.contains("again and again")))
  }

  test("segmentDedup keeps first occurrences and reports exact shrink") {
    val rep = (("alpha beta gamma delta eps one two three four five " * 2) +
      "tail word").trim // 10-token block repeated, then a 2-token tail
    val docs = Seq((0L, rep), (1L, ""), (2L, "short doc")).toDF("doc_id", "text")
    val out = graft.operators.Corpus.segmentDedup(docs, blockTokens = 10)
      .orderBy("doc_id").collect()
    // doc 0: 3 blocks (two identical + tail), 2 kept
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 2L)
    // empty doc: one empty block, kept
    assert(out(1).getLong(1) === 1L && out(1).getLong(2) === 1L)
    // digest equals md5 of the first-occurrence reconstruction
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha beta gamma delta eps one two three four five tail word"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getString(3) === expected)
  }

  test("contaminationFraction scores overlap and keeps zero-hit docs") {
    val bench = Seq((100L, "secret eval question one two")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "secret eval question one two plus commentary words"), // hits
      (1L, "totally unrelated content about other things here")   // zero hits
    ).toDF("doc_id", "text")
    val out = graft.operators.Hygiene.contaminationFraction(corpus, bench, n = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 4L) // 8 tokens -> 4 distinct 5-grams
    assert(out(0).getLong(2) === 1L) // exactly the benchmark's 5-gram
    assert(out(1).getLong(2) === 0L) // zero-hit doc present, not dropped
  }

  test("splitAssign cuts exact per-stratum proportions deterministically") {
    val rows = (0L until 100L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = graft.operators.Corpus
      .splitAssign(rows, Seq("train" -> 8, "val" -> 1, "test" -> 1), "lang")
    val counts = out.groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // en: 34 rows -> floor boundaries at 27 / 30; de: 66 -> 52 / 59
    assert(counts(("en", "train")) === 27L && counts(("en", "val")) === 3L &&
      counts(("en", "test")) === 4L)
    assert(counts(("de", "train")) === 52L && counts(("de", "val")) === 7L &&
      counts(("de", "test")) === 7L)
    // deterministic: same input, same assignment
    val again = graft.operators.Corpus
      .splitAssign(rows, Seq("train" -> 8, "val" -> 1, "test" -> 1), "lang")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(out.collect().map(r => (r.getLong(0), r.getString(2))).toMap === again)
  }

  test("knnClassify predicts the planted majority label with smallest-label ties") {
    // cluster A near (1,0): ids 0-4 label 1; cluster B near (0,1): ids 5-9 label 2
    val rows = (0 until 10).map { i =>
      val base = if (i < 5) Array(1f, 0f) else Array(0f, 1f)
      val eps = 0.001f * i
      (i.toLong, Array(base(0) + eps, base(1) + eps), if (i < 5) 1 else 2)
    }.toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity
      .knnClassify(rows, rows, k = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    for (i <- 0L until 10L) {
      val (t, p, v) = out(i)
      assert(p === t, s"id $i predicted $p, true $t")
      assert(v === 3L, "all 3 votes from the home cluster")
    }
  }

  test("ewmaByKey folds (x + s) >> 1 in event-time order") {
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d")
    val ev = Seq(
      (1L, ts(3), 9L, 1.00),  // out of insertion order on purpose
      (1L, ts(1), 7L, 0.40),
      (1L, ts(2), 8L, 0.20),
      (2L, ts(1), 10L, 5.00)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = graft.operators.Sessions.ewmaByKey(ev)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // user 1 cents ordered by ts: 40, 20, 100 -> s=40; (20+40)>>1=30; (100+30)>>1=65
    assert(out(1L) === ((3L, 65L)))
    assert(out(2L) === ((1L, 500L)), "single event seeds the fold")
  }

  test("ewmaByKey survives a hot key: O(1) per-key state, exact fold") {
    // one key with 100k events — the collect_list shape this operator
    // replaced would hold the whole array per key; the secondary-sort
    // fold keeps two longs. Values cycle so the fixed point is not
    // trivially the seed.
    val n = 100000
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ev = spark.range(n.toLong).selectExpr(
      "CAST(7 AS BIGINT) AS user_id",
      s"timestamp_millis(${base}L + id * 1000) AS ts",
      "id AS event_id",
      "CAST(id % 97 AS DOUBLE) / 100.0 + 0.001 AS value")
    val out = graft.operators.Sessions.ewmaByKey(ev).collect()
    assert(out.length === 1)
    // cents = floor(value*100) = i % 97 (the +0.001 keeps fp above it)
    var s = 0L
    (0 until n).foreach { i =>
      val x = (i % 97).toLong
      s = if (i == 0) x else (x + s) >> 1
    }
    assert(out.head.getLong(1) === n.toLong)
    assert(out.head.getLong(2) === s, "fold must replay the recurrence exactly")
  }

  test("duplicatedRuns run lengths account exactly for removed tokens") {
    // cross-operator invariant on real data: per doc, the sum of
    // maximal-run lengths must equal the tokens removeDuplicatedSpans
    // strips (both derive from the same covered-positions set)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val runs = graft.operators.Dedup.duplicatedRuns(docs, n = 5, minDocs = 2)
      .groupBy("doc_id").agg(F.sum("run_len").as("covered"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = graft.operators.Dedup
      .removeDuplicatedSpans(docs, n = 5, minDocs = 2)
      .select(F.col("doc_id"), (F.col("n_tokens") - F.col("n_kept")).as("gone"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .filter(_._2 > 0L)
    assert(runs.nonEmpty, "sf0.001 must contain duplicated spans")
    assert(runs === removed,
      "sum(run_len) per doc must equal n_tokens - n_kept per doc")
  }

  test("duplicatedRuns merges overlapping covered grams into maximal runs") {
    // docs 0 and 1 share a 9-token block: 5-grams at starts 2..6 of doc
    // 0 all qualify, and their union must come back as ONE run of 9 —
    // not five overlapping gram hits
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"zero alpha $shared zero omega"),
      (1L, s"$shared one two three four five"),
      (2L, "totally different content with no shared span at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.duplicatedRuns(docs, n = 5, minDocs = 2)
      .orderBy("doc_id", "run_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Array((0L, 2L, 9L), (1L, 0L, 9L)))
  }

  test("duplicatedRunsChar recovers a punctuation-variant block token dedup misses") {
    // docs 0 and 1 carry the SAME 200+-char block, but doc 1 attaches a
    // comma to every word — so no whitespace token matches and the
    // word-5-gram tier finds NOTHING; the char tier must normalize the
    // punctuation away and recover the block as ONE maximal run per doc
    val words = (1 to 40).map(i => f"blockword$i%02d")
    val blockA = words.mkString(" ")           // plain spaces
    val blockB = words.mkString(", ") + ","    // comma-variant copy
    val docs = Seq(
      (0L, s"prefixzeroalphaqq $blockA qqzerotailomega"),
      (1L, s"prefixoneuniquezz $blockB zzonetailunique"),
      (2L, "entirely unrelated filler content nothing shared here at all")
    ).toDF("doc_id", "text")
    // the word tier provably misses the variant copy
    assert(graft.operators.Dedup.duplicatedRuns(docs, n = 5, minDocs = 2)
      .count() === 0L)
    // scale discipline: the char tier must stay lineage-only — no
    // corpus-sized cache/checkpoint blocks may survive the query
    // (r10's localCheckpoint of the full gram table was a ~30x storage
    // amplification; this pin keeps it out)
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Dedup
      .duplicatedRunsChar(docs, n = 20, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val blocksAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((blocksAfter -- blocksBefore).isEmpty,
      s"duplicatedRunsChar left persisted RDDs behind: ${blocksAfter -- blocksBefore}")
    // normalized block is identical for both docs: one run each, full length
    val normBlock = blockA.toLowerCase.replaceAll("[^\\p{L}\\p{N}]", "")
    assert(normBlock.length >= 200, s"planted block too short: ${normBlock.length}")
    val prefixLen = "prefixzeroalphaqq".length
    assert(out.length === 2, s"expected one run per doc, got ${out.mkString(",")}")
    assert(out(0) === ((0L, prefixLen.toLong, normBlock.length.toLong)))
    assert(out(1)._3 === normBlock.length.toLong)
  }

  test("hashed-gram substring dedup reproduces the literal-gram result") {
    // the production posture keys the df-count shuffle and dup-gram
    // semi-join on xxhash64(gram) (8-byte shuffle key) instead of the
    // literal gram string; absent a 64-bit collision the covered-position
    // set — and everything derived from it — is identical. Pin the
    // equality on real data for both the char tier and the word tier.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val litChar = graft.operators.Dedup
      .duplicatedRunsChar(docs, n = 20, minDocs = 2)
      .orderBy("doc_id", "run_start").collect().toSeq
    val hashChar = graft.operators.Dedup
      .duplicatedRunsChar(docs, n = 20, minDocs = 2, hashGram = true)
      .orderBy("doc_id", "run_start").collect().toSeq
    assert(litChar.nonEmpty, "sf0.001 must contain char-level dup runs")
    assert(hashChar === litChar, "hashed char-gram path must match literal")
    val litSpan = graft.operators.Dedup
      .removeDuplicatedSpans(docs, n = 5, minDocs = 2)
      .orderBy("doc_id").collect().toSeq
    val hashSpan = graft.operators.Dedup
      .removeDuplicatedSpans(docs, n = 5, minDocs = 2, hashGram = true)
      .orderBy("doc_id").collect().toSeq
    assert(hashSpan === litSpan, "hashed word-gram path must match literal")
  }

  test("autoBandBits: deterministic pick, tightens with measured density") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // sparse cloud -> widest band; the pick is a pure function of the
    // data (md5 sample + integer rule), so it must be stable run-to-run
    assert(graft.operators.Dedup.autoBandBits(embs) === 4)
    assert(graft.operators.Dedup.autoBandBits(embs) === 4)
    // the auto wrapper must equal the manual operator at the picked
    // width, plus the bits column carrying the pick
    val auto = graft.operators.Dedup.embeddingNearDupsAuto(embs)
      .orderBy("a", "b").collect()
    val manual = graft.operators.Dedup.embeddingNearDups(embs, bits = 4)
      .orderBy("a", "b").collect()
    assert(auto.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      manual.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(auto.forall(_.getLong(3) === 4L))
    // densify the cloud ×20 by verbatim replication under fresh ids:
    // same-position replicas collide at BOTH probe resolutions, so
    // their (irreducible) dup mass cancels out of the background
    // estimate (C8 − C12) — but cross-position background pairs grow
    // QUADRATICALLY (each colliding position pair now collides
    // replicas × replicas times) while the budget grows only linearly
    // with n, so the rule must tighten the band — by ~log2(400/20)/2
    // bits here, not to the max — exactly the density response the
    // sf10 sweep calibrated
    val dense = (0 until 20).map(k =>
        embs.select((F.col("vec_id") + F.lit(k * 1000000L)).as("vec_id"),
          F.col("embedding")))
      .reduce(_.unionAll(_))
    assert(graft.operators.Dedup.autoBandBits(dense) === 5,
      "quadratic background densification must tighten the pick modestly")
  }

  test("hardNegatives returns only wrong-label neighbors, nearest first") {
    val rows = Seq(
      (0L, Array(1.0f, 0f), 1), (1L, Array(0.99f, 0f), 1), // same label as query
      (2L, Array(0.9f, 0f), 2), (3L, Array(0.5f, 0f), 2),  // negatives
      (4L, Array(0f, 1f), 3)                               // far negative
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity
      .hardNegatives(rows, rows.filter($"vec_id" === 0), k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 3L), "nearest wrong-label first")
    assert(out.forall(_.getInt(2) != 1), "no same-label rows")
  }

  test("mergeIntervals merges overlapping and touching windows, splits gapped ones") {
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${sec / 60}%02d:${sec % 60}%02d")
    val ev = Seq(
      (1L, ts(0), 1L),    // [0, 60)
      (1L, ts(30), 2L),   // overlaps -> [0, 90)
      (1L, ts(90), 3L),   // touches 90 -> merges -> [0, 150)
      (1L, ts(300), 4L),  // gap -> new interval [300, 360)
      (2L, ts(0), 5L)
    ).toDF("user_id", "ts", "event_id")
    val out = graft.operators.Sessions
      .mergeIntervals(ev, windowUs = 60000000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((2L, 210000000L)), "merged [0,150) + [300,360) = 210 s")
    assert(out(2L) === ((1L, 60000000L)))
  }

  test("zipfFit recovers slope ≈ −1 on a Zipfian corpus") {
    // term i appears floor(1024/i) times: a textbook Zipf distribution
    val words = (1 to 64).flatMap(i => Seq.fill(1024 / i)(s"w$i"))
    val docs = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    val r = graft.operators.Corpus.zipfFit(docs).collect().head
    val slopeMilli = r.getLong(1)
    assert(r.getLong(0) === 64L)
    assert(slopeMilli < -850L && slopeMilli > -1150L,
      s"expected ≈ -1000 milli, got $slopeMilli")
  }

  test("diagnostic curves hold their invariants on a generated corpus") {
    // deterministic skewed corpus: 120 docs, zipf-ish vocab, mixed lengths
    val rnd = new scala.util.Random(23)
    val docs = (0 until 120).map { i =>
      val len = 1 + rnd.nextInt(60)
      (i.toLong, (0 until len)
        .map(_ => s"w${math.min(rnd.nextInt(40), rnd.nextInt(40))}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val vc = graft.operators.Corpus.vocabCoverage(docs,
        ks = Seq(1L, 3L, 9L, 27L, 81L)).orderBy("k")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // covered mass is monotone in k, capped by total, equal at k >= n_terms
    assert(vc.sliding(2).forall(p => p(0)._1 <= p(1)._1))
    assert(vc.forall(x => x._1 <= x._2))
    assert(vc.last._1 === vc.last._2, "k=81 >= n_terms must cover everything")
    val ls = graft.operators.Corpus.lengthSurvival(docs, Seq(1L, 10L, 30L, 60L))
      .orderBy("min_tokens").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ls.sliding(2).forall(p => p(0)._1 >= p(1)._1 && p(0)._2 >= p(1)._2),
      "survivorship must be non-increasing in the floor")
    val pw = graft.operators.Corpus.padWaste(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(pw.forall { case (cap, nd, st, w) => w >= 0L && w == nd * cap - st },
      "waste must be the exact pad-to-cap overhead and never negative")
    assert(pw.map(_._2).sum === 120L, "every non-empty doc lands in one bucket")
    val jc = graft.operators.Dedup.jaccardThresholdCurve(docs,
        thresholds = Seq((1L, 100L), (1L, 10L), (1L, 2L), (9L, 10L)),
        dfCapNum = 1, dfCapDen = 2)
      .collect().map(_.getLong(2))
    assert(jc.sliding(2).forall(p => p(0) >= p(1)),
      s"pair counts must be non-increasing in the threshold: ${jc.toSeq}")
  }

  test("ivfRecallCurve is monotone and reaches full recall at full probe") {
    val rnd = new scala.util.Random(7)
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.ivfRecallCurve(
        emb, emb.filter(F.col("vec_id") < 5), k = 3,
        nprobes = Seq(1, 4, 8), nlist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1) === Array(1L, 4L, 8L))
    assert(out.forall(_._2 === 15L), "truth is 5 queries x k=3")
    assert(out(0)._3 <= out(1)._3 && out(1)._3 <= out(2)._3,
      s"recall must be monotone in nprobe: $out")
    assert(out(2)._3 === 15L,
      "probing every cell IS brute force - recall must be perfect")
  }

  test("contaminationSweep decays with gram length") {
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (10L, "alpha beta gamma completely different tail here now"), // 3-gram hit only
      (11L, "alpha beta gamma delta epsilon zeta eta plus extras"), // hits at all n
      (12L, "nothing shared with the benchmark at any length")
    ).toDF("doc_id", "text")
    val out = graft.operators.Hygiene.contaminationSweep(docs, bench, Seq(3, 5, 7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1) === Array(3L, 5L, 7L))
    assert(out(0)._2 === 2L, "n=3: docs 10 and 11 hit")
    assert(out(1)._2 === 1L && out(2)._2 === 1L, "n=5,7: only doc 11 survives")
    assert(out(0)._3 > out(1)._3 && out(1)._3 > out(2)._3,
      "total hits must strictly decay over this corpus")
  }

  test("bpeFertility aggregates the encode accounting per group") {
    val docs = Seq(
      (0L, "en", "low low low lower lower newest"),
      (1L, "en", "newest newest widest low"),
      (2L, "de", "tief tief tiefer tiefer neueste")
    ).toDF("doc_id", "lang", "text")
    val enc = graft.operators.Retrieval.bpeEncode(docs, merges = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = graft.operators.Retrieval.bpeFertility(docs, merges = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("en") === ((2L, enc(0L)._1 + enc(1L)._1, enc(0L)._2 + enc(1L)._2)))
    assert(out("de") === ((1L, enc(2L)._1, enc(2L)._2)))
    // subword counts strictly exceed token counts pre-convergence:
    // fertility must be a real expansion signal, not a copy of tokens
    assert(out("en")._3 > out("en")._2)
  }

  test("jaccardThresholdCurve counts candidate pairs per threshold") {
    // docs 0/1 share "a b c" -> 3-gram sets intersect in 1 of 3 distinct
    // grams each (jaccard 1/5); doc 2 shares nothing
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "a b c x y"),
      (2L, "p q r s t")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.jaccardThresholdCurve(
        docs, thresholds = Seq((1L, 10L), (1L, 4L)), n = 3,
        dfCapNum = 1, dfCapDen = 1) // tiny corpus: every gram is "rare"
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // pair (0,1): inter 1, union 5 -> jaccard 1/5: >= 1/10 yes, >= 1/4 no
    assert(out === Array((1L, 10L, 1L), (1L, 4L, 0L)))
  }

  test("lengthSurvival reports docs and tokens above each floor") {
    val docs = Seq(
      (0L, "a b c"),
      (1L, (1 to 10).map("w" + _).mkString(" ")),
      (2L, (1 to 20).map("v" + _).mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.lengthSurvival(docs, Seq(5L, 15L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Array((5L, 2L, 30L), (15L, 1L, 20L)))
  }

  test("vocabCoverage accumulates top-k token mass in rank order") {
    val docs = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    val out = graft.operators.Corpus.vocabCoverage(docs, ks = Seq(1L, 2L, 8L))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array((1L, 3L, 6L, 3L), (2L, 5L, 6L, 3L), (8L, 6L, 6L, 3L)))
  }

  test("padWaste buckets by log2 length and charges pad-to-cap overhead") {
    val docs = Seq(
      (0L, "x y z"),                     // 3 tokens -> bucket 1, cap 4
      (1L, "a b c d e"),                 // 5 tokens -> bucket 2, cap 8
      (2L, "p q r s t u v w"),           // 8 tokens -> bucket 3, cap 16
      (3L, " ")                          // empty: excluded
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.padWaste(docs).orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Array(
      (1L, 4L, 1L, 3L, 1L), (2L, 8L, 1L, 5L, 3L), (3L, 16L, 1L, 8L, 8L)))
  }

  test("splitOverlap sees full leakage on clones, zero on disjoint vocab") {
    val clone = "the very same sentence repeated in every single document here"
    val clones = (0L until 10L).map(i => (i, "en", clone))
      .toDF("doc_id", "lang", "text")
    val full = graft.operators.Corpus.splitOverlap(clones).collect().head
    assert(full.getLong(0) > 0L && full.getLong(1) === full.getLong(0),
      "identical docs: every test gram is in train")
    val disjoint = (0L until 10L).map(i =>
      (i, "en", (0 until 8).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val none = graft.operators.Corpus.splitOverlap(disjoint).collect().head
    assert(none.getLong(0) > 0L && none.getLong(1) === 0L,
      "disjoint vocab: no test gram can appear in train")
  }

  test("removeDuplicatedSpans strips shared spans, keeps unique text") {
    val docs = Seq(
      (0L, "aa bb cc dd ee unique zero tail words here"),
      (1L, "aa bb cc dd ee other one ending text body"),
      (2L, "totally different content with no shared span")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.removeDuplicatedSpans(docs, n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
    // docs 0 and 1 share the 5-gram "aa bb cc dd ee": those 5 tokens go
    assert(out(0).getLong(1) === 10L && out(0).getLong(2) === 5L)
    assert(out(1).getLong(2) === 5L)
    // doc 2 untouched, digest equals md5 of its own lowered text
    assert(out(2).getLong(1) === out(2).getLong(2))
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("totally different content with no shared span".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(2).getString(3) === expected)
  }

  test("multi-probe LSH candidates dominate the single-bucket tier") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 80L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 8)
    def best(df: org.apache.spark.sql.DataFrame) = df
      .filter($"rank" === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val single = best(graft.operators.Similarity
      .lshTopK(vecs, qs, k = 3, bits = 4, dims = 16))
    val multi = best(graft.operators.Similarity
      .lshTopKMultiProbe(vecs, qs, k = 3, bits = 4, probes = 2, dims = 16))
    // probing supersets the candidate pool: the best hit can only improve,
    // and no query served by the single tier goes unserved
    for ((q, s) <- single) assert(multi.getOrElse(q, Double.MinValue) >= s,
      s"query $q: multi-probe best ${multi.get(q)} < single-bucket best $s")
    assert(multi.keySet.size >= single.keySet.size)
  }

  test("clusterRepresentatives keeps maxReps per cluster and all singletons") {
    val ids = (0L until 8L).toDF("doc_id")
    // cluster {0,1,2,3} via chain; {5,6} pair; 4 and 7 singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = graft.operators.Dedup.clusterRepresentatives(ids, pairs, maxReps = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 4L, 5L, 6L, 7L),
      "2 reps from the big cluster, both of the pair, both singletons")
    assert(out.filter(_._1 < 4).forall(_._2 === 0L), "big cluster labeled by min id")
    assert(out.find(_._1 === 4L).get._2 === 4L, "singleton is its own cluster")
  }

  test("rrfFuse rewards documents both rankings agree on") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val out = graft.operators.Retrieval.rrfFuse(a, b, k = 3)
      .orderBy("rank").collect()
    // doc 11 is in both lists (ranks 2 and 1) and must fuse on top
    assert(out(0).getLong(1) === 11L && out(0).getLong(3) === 2L)
    val s = 1048576L
    assert(out(0).getLong(2) === s / 62 + s / 61, "integer RRF formula")
    assert(out.map(_.getLong(1)).toSeq === Seq(11L, 10L, 12L),
      "singles rank by their own reciprocal: rank-1 doc 10 above rank-2 doc 12")
  }

  test("kCenterGreedy selects farthest-first with non-increasing radii") {
    // three tight clusters far apart; k=3 must pick one point per cluster
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0.1f, 0f)),
      (10L, Array(100f, 0f)), (11L, Array(100.1f, 0f)),
      (20L, Array(0f, 100f)), (21L, Array(0f, 100.1f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.kCenterGreedy(pts, k = 3)
      .orderBy("rank").collect()
    assert(out.length === 3)
    val clusters = out.map(_.getLong(1) / 10).toSet
    assert(clusters === Set(0L, 1L, 2L), s"one center per cluster, got ${out.map(_.getLong(1)).toSeq}")
    val dists = out.map(_.getLong(2))
    assert(dists(0) === 0L && dists(1) >= dists(2), "radii non-increasing")
    // duplicate-free: exact dup of a center is never selected
    val dup = pts.unionByName(Seq((99L, Array(0f, 0f))).toDF("vec_id", "embedding"))
    val ids = graft.operators.Similarity.kCenterGreedy(dup, k = 7)
      .collect().map(_.getLong(1)).toSet
    assert(!(ids.contains(0L) && ids.contains(99L)), "never both exact duplicates")
  }

  test("textRank ranks the hub term highest; leaves tie exactly") {
    // star graph: 'a' co-occurs with each of b, c, d; leaves only with a
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "a d")).toDF("doc_id", "text")
    val pr = graft.operators.Corpus.textRank(docs, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("a") > pr("b"), "hub outranks leaves")
    assert(pr("b") === pr("c") && pr("c") === pr("d"), "symmetric leaves tie")
    // hand-rolled recurrence: N=4, S=2^20, base=S*3/80, damp 17/20
    val S = 1048576L; val base = S * 3 / 80
    var (pa, pl) = (S / 4, S / 4)
    for (_ <- 1 to 3) {
      val ia = 3L * (pl * 1 / 1)        // each leaf sends all its rank to a
      val il = pa * 1 / 3               // a splits evenly across 3 leaves
      pa = base + 17 * ia / 20
      pl = base + 17 * il / 20
    }
    assert(pr("a") === pa && pr("b") === pl, "matches the integer recurrence")
  }

  test("ivfPqTopKFromIndex equals inline ivfPqTopK after a parquet round-trip") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val inline = graft.operators.Similarity
      .ivfPqTopK(corpus, queries, k = 4, nlist = 8, nprobe = 3, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val (model, codes) = graft.operators.Similarity
      .ivfPqIndex(corpus, nlist = 8, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-test").toString
    model.write.parquet(s"$dir/model")
    codes.write.parquet(s"$dir/codes")
    val served = graft.operators.Similarity
      .ivfPqTopKFromIndex(
        spark.read.parquet(s"$dir/model"), spark.read.parquet(s"$dir/codes"),
        queries, k = 4, nlist = 8, nprobe = 3, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(inline.nonEmpty && served === inline)
  }

  test("ivfRebalanceIfSkewed: planted drift fires and equals a fresh build; balanced data passes through") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val spread = (0L until 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // drift: the second half collapses onto one far point — coded
    // against a model trained on the spread half, they pile into one cell
    val collapsed = (20L until 40L).map(i =>
      (i, Array.fill(8)(2.0f + i.toFloat / 10000f)))
    val drifted = (spread ++ collapsed).toDF("vec_id", "embedding")
    val (model0, _) = Similarity.ivfPqIndex(
      drifted.filter($"vec_id" < 20), nlist = 8, m = 4, ksub = 8)
    val codes0 = Similarity.ivfPqCodeTable(drifted,
      Similarity.collectPool(model0), 8, 4, 8, "vec_id", "embedding")
    val (model1, codes1, fired) = Similarity.ivfRebalanceIfSkewed(
      drifted, model0, codes0, nlist = 8, m = 4, ksub = 8)
    assert(fired, "half the corpus in one cell must fire the retrain")
    // rebalanced index is INDISTINGUISHABLE from a fresh build
    val (freshModel, freshCodes) = Similarity.ivfPqIndex(
      drifted, nlist = 8, m = 4, ksub = 8)
    assert(model1.collect().map(_.toSeq).toSet ===
      freshModel.collect().map(_.toSeq).toSet)
    assert(codes1.collect().map(_.toSeq).toSet ===
      freshCodes.collect().map(_.toSeq).toSet)
    // the frozen pool had NO centroid in the drifted region; the
    // rebalanced pool does — the model now represents the current
    // distribution (which is what a stale pool silently loses: ADC
    // distances for drifted queries are measured against centroids
    // from the wrong region). Cell FLATNESS is deliberately not
    // asserted: under the quantized-dot cell metric one genuinely
    // dense cluster occupies one cell no matter the pool.
    def inDriftedRegion(m: org.apache.spark.sql.DataFrame) =
      m.filter(F.array_max(F.col("centroid")) >= 1500L).count()
    assert(inDriftedRegion(model0) === 0L)
    assert(inDriftedRegion(model1) > 0L)
    // no-drift arm: a balanced code table passes through UNTOUCHED
    val balanced = drifted.filter($"vec_id" < 20)
    val (modelB, _) = Similarity.ivfPqIndex(balanced, nlist = 8, m = 4, ksub = 8)
    val codesB = Similarity.ivfPqCodeTable(balanced,
      Similarity.collectPool(modelB), 8, 4, 8, "vec_id", "embedding")
    val (mOut, cOut, firedB) = Similarity.ivfRebalanceIfSkewed(
      balanced, modelB, codesB, nlist = 8, m = 4, ksub = 8)
    assert(!firedB, "balanced occupancy must not trigger a rebuild")
    assert(mOut eq modelB, "the pass-through arm must return the same model")
    assert(cOut.collect().map(_.toSeq).toSet ===
      codesB.collect().map(_.toSeq).toSet,
      "the pass-through arm returns the codes (materialized, not re-planned)")
  }

  test("withIlog2Fp: exact at powers of two, within 2/64 bit, monotone") {
    val xs = (0 to 62).map(1L << _) ++
      Seq(3L, 7L, 918L, 964L, 27165L, 1000003L, 987654321987L, Long.MaxValue / 2)
    val out = graft.operators.Corpus
      .withIlog2Fp(xs.toDF("x"), "x", "fp", fracBits = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- 0 to 62) assert(out(1L << k) === 64L * k, s"2^$k exact")
    for ((x, fp) <- out) {
      val err = fp / 64.0 - math.log(x.toDouble) / math.log(2.0)
      assert(err <= 0.001 && err > -2.0 / 64, s"x=$x fp=$fp err=$err")
    }
    val sorted = xs.sorted.map(out)
    assert(sorted == sorted.sorted, "monotone non-decreasing")
  }

  test("unigramSurprisal scores rare-token docs above common-token docs") {
    // 'rare' appears once; 'the' appears many times
    val docs = Seq(
      (0L, "the the the the"),
      (1L, "rare the the the"),
      (2L, "")
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.unigramSurprisal(docs)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 4L && out(1).getLong(1) === 4L)
    assert(out(1).getLong(2) > out(0).getLong(2), "rare token raises surprisal")
    assert(out(2).getLong(1) === 0L && out(2).getLong(2) === 0L, "empty doc scores 0")
    // doc 0: 4 tokens of p=7/8 -> surprisal 4*(ilog2fp(8)-ilog2fp(7))
    val fp = graft.operators.Corpus
      .withIlog2Fp(Seq(7L, 8L).toDF("x"), "x", "fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0).getLong(2) === 4L * (fp(8L) - fp(7L)))
  }

  test("bigramSurprisal: shared context splits probability; unique continuations score 0") {
    // model over both docs: c("a b")=1, c("a c")=1, ctx a=2
    // -log2 P(b|a) = 1 bit = 64 fixed-point units at fracBits=6
    val docs = Seq(
      (0L, "a b"),
      (1L, "a c"),
      (2L, "x y z w"), // every bigram AND context count 1 -> 0 bits
      (3L, "solo"),    // < 2 tokens -> no bigrams
      (4L, "")
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.bigramSurprisal(docs)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 64L)
    assert(out(1).getLong(1) === 1L && out(1).getLong(2) === 64L)
    assert(out(2).getLong(1) === 3L && out(2).getLong(2) === 0L,
      "bigrams with deterministic continuations carry zero conditional surprisal")
    assert(out(3).getLong(1) === 0L && out(3).getLong(2) === 0L)
    assert(out(4).getLong(1) === 0L && out(4).getLong(2) === 0L)
  }

  test("sourceHealth counts short/low-quality/en docs per source") {
    val d = Seq(
      (0L, "a b", "en", "sA"),                                        // short
      (1L, ("the and of to in is " * 20).trim, "en", "sA"),           // long, stopword-rich
      (2L, "!!! ??? ... ###", "de", "sB"),                            // short + punct-heavy
      (3L, ("word " * 60).trim, "fr", "sB")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.operators.Corpus.sourceHealth(d, shortTokens = 40L)
      .orderBy("source").collect()
    assert(out(0).getString(0) === "sA" && out(0).getLong(1) === 2L)
    assert(out(0).getLong(2) === 2L + 120L, "token totals")
    assert(out(0).getLong(3) === 1L, "one short doc in sA")
    assert(out(0).getLong(5) === 2L, "both sA docs labeled en")
    assert(out(1).getString(0) === "sB" && out(1).getLong(3) === 1L)
    assert(out(1).getLong(4) >= 1L, "punct-heavy doc scores below the floor")
    assert(out(1).getLong(5) === 0L)
  }

  test("phraseSearch counts overlapping positional matches") {
    val d = Seq(
      (0L, "a b a b a"),   // "a b a" at pos 0 AND 2 (overlapping)
      (1L, "a b c a b a"), // one match at pos 3
      (2L, "a a b b a"),   // no "a b a"
      (3L, "b a")          // shorter than the phrase
    ).toDF("doc_id", "text")
    val out = graft.operators.Retrieval.phraseSearch(d, Seq("a", "b", "a"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 2L), (1L, 1L)),
      "overlapping matches both count; non-matching docs are absent")
  }

  test("proximitySearch counts position pairs within slop, either order") {
    val d = Seq(
      (0L, "x a y y b x a"), // pairs within 3: (a@1,b@4), (b@4,a@6)
      (1L, "a x x x x b"),   // distance 5 > slop
      (2L, "b a")            // adjacent, reversed order still counts
    ).toDF("doc_id", "text")
    val out = graft.operators.Retrieval.proximitySearch(d, "a", "b", slop = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 2L), (2L, 1L)))
  }

  test("kAnonPanel zeros under-k cells but keeps their rows") {
    val d = Seq(
      (0L, "a b c", "en", "sA"), (1L, "d e", "en", "sA"),
      (2L, "f", "de", "sB")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.operators.Hygiene.kAnonPanel(d, k = 2L)
      .orderBy("lang", "source").collect()
    assert(out.length === 2, "suppressed cells must stay as rows")
    assert(out(0).getString(0) === "de" && !out(0).getBoolean(2) &&
      out(0).getLong(3) === 0L && out(0).getLong(4) === 0L)
    assert(out(1).getString(0) === "en" && out(1).getBoolean(2) &&
      out(1).getLong(3) === 2L && out(1).getLong(4) === 5L)
  }

  test("sourceCap trims over-median sources at the token budget") {
    val ten = ("tok " * 10).trim
    val d = Seq(
      (0L, ten, "sA"),
      (1L, ten, "sB"), (2L, ten, "sB"),
      (3L, ten, "sC"), (4L, ten, "sC"), (5L, ten, "sC")
    ).toDF("doc_id", "text", "source")
    // totals 10/20/30 -> lower median budget 20
    val out = graft.operators.Corpus.sourceCap(d).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0) === (("sA", 10L, 1L, 10L)), "under-budget source keeps all")
    assert(out(1) === (("sB", 20L, 2L, 20L)), "at-budget source keeps all")
    assert(out(2) === (("sC", 30L, 2L, 20L)), "over-budget source trims to budget")
  }

  test("gramNovelty attributes shared grams to the first source") {
    val d = Seq(
      (0L, "a b c d e f", "sA"),
      (1L, "a b c x y z", "sB"),
      (2L, "xx", "sC") // below gram width -> zero grams
    ).toDF("doc_id", "text", "source")
    val out = graft.operators.Corpus.gramNovelty(d, n = 3)
      .orderBy("source").collect()
    // sA: 4 grams, all novel; "a b c" occurs again in sB -> 5 attributed
    assert(out(0).getString(0) === "sA" && out(0).getLong(1) === 4L &&
      out(0).getLong(2) === 4L && out(0).getLong(3) === 5L)
    // sB: 4 grams, "a b c" already seen -> 3 novel, 3 attributed
    assert(out(1).getString(0) === "sB" && out(1).getLong(1) === 4L &&
      out(1).getLong(2) === 3L && out(1).getLong(3) === 3L)
    assert(out(2).getString(0) === "sC" && out(2).getLong(1) === 0L &&
      out(2).getLong(2) === 0L && out(2).getLong(3) === 0L)
  }

  test("qualityCorr emits bounded exact-integer Spearman components") {
    val out = graft.operators.Corpus.qualityCorr(docs).collect()
    assert(out.length === 1)
    val (n, d2, rho) = (out(0).getLong(0), out(0).getLong(1), out(0).getLong(2))
    assert(n === 5L, "all fixture docs have tokens")
    // 0 <= sum_d2 <= 2 * C(n+1,3) (the reversed-ranking maximum)
    val maxD2 = n * (n * n - 1) / 3
    assert(d2 >= 0L && d2 <= maxD2, s"sum_d2 $d2 out of [0, $maxD2]")
    assert(rho >= -1000L && rho <= 1000L, s"rho_milli $rho out of range")
    // identical ranking universe: both rankings are permutations of 1..n
    // so parity of sum_d2 must be even (sum of (rq-rs) over a
    // permutation pair is 0, so the squared sum is even)
    assert(d2 % 2 === 0L, "permutation-difference squares sum to even")
  }

  test("sq8 codes stay on the [0,254] grid and topk recall vs exact is sane") {
    val codes = Similarity.sq8Codes(vecs).collect()
    assert(codes.length === 50)
    val all = codes.flatMap(_.getSeq[Long](1))
    assert(all.forall(c => c >= 0L && c <= 254L), "codes on the byte grid")
    assert(all.min === 0L && all.max === 254L,
      "trained affine map must hit both grid endpoints")
    // truth under the SAME metric family (L2 on the x1000-quantized
    // vectors, no byte grid) — computed locally on the 50x16 fixture
    val raw = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong)).toMap
    def l2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = (0L until 5L).flatMap { qid =>
      raw.keys.filter(_ != qid).toSeq
        .sortBy(nid => (l2(raw(qid), raw(nid)), nid)).take(3).map(qid -> _)
    }.toSet
    val rows = Similarity.sq8TopK(vecs, vecs.filter($"vec_id" < 5), k = 3).collect()
    assert(rows.length === 15)
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)), "self excluded")
    // 8-bit quantization distorts but must broadly agree with exact L2
    val recall = (truth & rows.map(r => (r.getLong(0), r.getLong(1))).toSet).size
      .toDouble / truth.size
    assert(recall >= 0.6, s"sq8 recall $recall vs exact L2 too low")
  }

  test("Ilog2Fp expression matches the column-chain reference bit for bit") {
    val rnd = new scala.util.Random(42)
    val xs = (Seq(1L, 2L, 3L, 1023L, 1024L, 1025L, (1L << 62) - 1, 1L << 61) ++
      Seq.fill(500)(math.abs(rnd.nextLong()) % ((1L << 62) - 1) + 1)).distinct
    val df = xs.toDF("x")
    for (fb <- Seq(0, 6, 16)) {
      val expr = graft.operators.Corpus.withIlog2Fp(df, "x", "fp", fb)
        .orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1)))
      val cols = graft.operators.Corpus.withIlog2FpColumns(df, "x", "fp", fb)
        .orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(expr.toSeq === cols.toSeq, s"fracBits=$fb diverged")
    }
    // interpreted path must agree with codegen (eval vs doGenCode)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    val e = graft.functions.Ilog2Fp(Literal(1025L), 6)
    assert(e.eval(null) === graft.operators.Corpus
      .withIlog2FpColumns(Seq(1025L).toDF("x"), "x", "fp", 6)
      .collect().head.getLong(1))
  }

  test("calendarGaps: planted missing days are counted and measured") {
    // user 0: days 0,1,2,...,9 minus {3,4,7} -> 2 gap runs, longest 2
    val present = Seq(0, 1, 2, 5, 6, 8, 9)
    val rows = present.map(d =>
      (1L, new java.sql.Timestamp(d * 86400000L + 1000L), "purchase"))
    val ev = rows.toDF("user_id", "ts", "event_type")
    val out = graft.operators.Sessions.calendarGaps(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 0L && r.getLong(2) === 9L) // first/last
    assert(r.getLong(3) === 7L, "days present")
    assert(r.getLong(4) === 3L, "days missing inside the span")
    assert(r.getLong(5) === 2L, "gap runs")
    assert(r.getLong(6) === 2L, "longest gap")
  }

  test("keySkewPanel: a planted hot key dominates the top-k share") {
    val rows = (0L until 90L).map(i => ("g", i % 30)) ++ // 30 cold keys x3
      Seq.fill(110)(("g", 999L)) // one hot key
    val out = graft.operators.Skew.keySkewPanel(
      rows.toDF("grp0", "key0"), "key0", "grp0").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 31L && r.getLong(2) === 200L)
    assert(r.getLong(3) === 110L, "hottest key rows")
    // hot key + 9 cold keys of 3 = 137 of 200 = 685 milli
    assert(r.getLong(4) === 137L && r.getLong(5) === 685L)
  }

  test("rollingDailyMedian shrugs off a one-day spike the mean would follow") {
    val rows = (0 until 9).map { d =>
      val v = if (d == 4) 1000.0 else 10.0 + d // spike on day 4
      (1L, new java.sql.Timestamp(d * 86400000L + 1000L), "view", v)
    }
    val out = graft.operators.Sessions.rollingDailyMedian(
        rows.toDF("user_id", "ts", "event_type", "value"))
      .orderBy("day").collect()
    assert(out.length === 9)
    val meds = out.map(_.getLong(3))
    assert(!meds.contains(100000L), "median must never equal the spike")
    // after the window slides past day 4 the median returns to the ramp
    assert(meds.last < 2000L)
  }

  test("cooccurTriangles: a planted clique closes, a pendant does not") {
    // a,b,c pairwise co-occur in every doc (clique); d co-occurs only
    // with a (pendant edge, no triangle)
    val corpus = (0L until 10L).map(i => (i, "a b c")) ++ Seq((10L, "a d"), (11L, "a d"), (12L, "a d"), (13L, "a d"), (14L, "a d"), (15L, "a d"), (16L, "a d"))
    val out = graft.operators.Corpus.cooccurTriangles(
        corpus.toDF("doc_id", "text"), floorMilli = 500L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") === 1L && out("b") === 1L && out("c") === 1L,
      s"clique corners each close one triangle: $out")
    assert(out("d") === 0L, "pendant vertex closes nothing")
  }

  test("crossDocSentenceDedup keeps only the global first occurrence") {
    val corpus = Seq(
      (0L, "shared line one. unique alpha"),
      (1L, "shared line one. unique beta"),
      (2L, "unique gamma. shared line one")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.crossDocSentenceDedup(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((2L, 2L)), "first doc keeps everything")
    assert(out(1L) === ((2L, 1L)), "repeat of the shared line drops")
    assert(out(2L) === ((2L, 1L)), "repeat drops regardless of position")
  }

  test("conversionLatency: medians and bounded-window conversions per cohort") {
    def ts(day: Int, h: Int) = new java.sql.Timestamp((day * 24L + h) * 3600000L)
    val ev = Seq(
      (1L, ts(0, 0), "signup"), (1L, ts(0, 5), "purchase"),   // 5h
      (2L, ts(0, 0), "signup"), (2L, ts(9, 0), "purchase"),   // 9d (not within 3d)
      (3L, ts(0, 0), "signup"),                                // never converts
      (4L, ts(1, 0), "signup"), (4L, ts(1, 1), "purchase")     // 1h, own cohort
    ).toDF("user_id", "ts", "event_type")
    val out = graft.operators.Sessions.conversionLatency(ev)
      .orderBy("cohort_day").collect()
    assert(out.length === 2)
    val c0 = out.head
    assert(c0.getLong(1) === 3L, "cohort 0 signups")
    assert(c0.getLong(2) === 1L, "only the 5h user converts within 3d")
    // converted latencies in cohort 0: 5h, 9d -> lower median = 5h
    assert(c0.getLong(3) === 5L * 3600000000L)
    assert(out(1).getLong(3) === 3600000000L)
  }

  test("charEntropy: repeated filler scores below varied text") {
    val corpus = Seq(
      (0L, "aaaaaaaaaaaaaaaaaaaa"),
      (1L, "the quick brown fox jumps over"),
      (2L, "")
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.charEntropy(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L)._2 === 0L, "single-symbol text has zero entropy")
    assert(out(2L) === ((0L, 0L)), "empty doc emits (0,0)")
    // varied text: strictly positive, sane bits/char (< 6)
    val (n1, e1) = out(1L)
    assert(e1 > 0L && e1 < n1 * 64L * 6L, s"entropy out of range: $e1")
  }

  test("sourceKl: a drifted source diverges more than mixture-like ones") {
    // srcA/srcB share the mixture vocabulary; srcC is all rare jargon
    val corpus = (0L until 30L).map { i =>
      val (src, body) =
        if (i < 10) ("srcA", "alpha beta gamma delta epsilon")
        else if (i < 20) ("srcB", "alpha beta gamma delta zeta")
        else ("srcC", s"legalese$i whereas heretofore notwithstanding")
      (i, src, body)
    }.toDF("doc_id", "source", "text")
    val out = graft.operators.Corpus.sourceKl(corpus)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 3)
    // compare per-token drift with integer cross-multiplication
    def beats(hi: String, lo: String) =
      out(hi)._2 * out(lo)._1 > out(lo)._2 * out(hi)._1
    assert(beats("srcC", "srcA") && beats("srcC", "srcB"),
      s"jargon source must dominate the drift panel: $out")
  }

  test("pmiCollocations ranks a planted bigram above independent pairs") {
    // "alpha beta" always adjacent (high PMI); "gamma"/"delta" frequent
    // but never adjacent to each other more than chance
    val corpus = (0L until 40L).map { i =>
      (i, s"alpha beta gamma x$i delta gamma y$i delta")
    }.toDF("doc_id", "text")
    val out = graft.operators.Corpus.pmiCollocations(corpus, minCount = 5L, k = 5)
      .collect()
    assert(out.nonEmpty)
    val top = (out.head.getString(0), out.head.getString(1))
    assert(top === ("alpha", "beta"),
      s"always-adjacent pair must win, got $top")
    // PMI column is the exact fp difference — top score must be positive
    assert(out.head.getLong(3) > 0L)
  }

  test("dsirScore favors target-like docs and covers every doc") {
    val corpus = Seq(
      (0L, "law court judge ruling appeal", true),
      (1L, "law court judge verdict appeal", true),
      (2L, "pizza recipe cheese oven dough", false),
      (3L, "pizza recipe cheese oven crust", false),
      (4L, "law court pizza cheese appeal", false),
      (5L, "", false)
    ).toDF("doc_id", "text", "is_tgt")
    val out = graft.operators.Corpus.dsirScore(corpus, F.col("is_tgt"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 6, "every doc scored, empty included")
    assert(out(5L) === ((0L, 0L)), "empty doc emits (0,0)")
    // pure-target-vocab docs must outscore pure-background docs
    assert(out(0L)._2 > out(2L)._2,
      s"target doc ${out(0L)} must beat background ${out(2L)}")
    // the mixed doc sits strictly between
    assert(out(4L)._2 < out(0L)._2 && out(4L)._2 > out(2L)._2)
  }

  test("mmrRerank: rank0 is the relevance argmax; diversity penalty binds") {
    val out = Similarity.mmrRerank(vecs, queryId = 0L, poolSize = 20, k = 6)
      .collect()
    assert(out.length === 6)
    assert(out.map(_.getLong(0)).toSeq === (0L until 6L).toSeq, "ranks 0..5")
    assert(!out.exists(_.getLong(1) == 0L), "query never returned")
    // rank0 = argmax rel, and its mmr2 equals rel (no penalty yet)
    val r0 = out.head
    assert(r0.getLong(2) === out.map(_.getLong(2)).max,
      "first pick must be the pool relevance max")
    assert(r0.getLong(3) === r0.getLong(2))
    // replay the whole greedy locally on the quantized fixture — rank
    // order, ids and both score columns must match exactly (the penalty
    // can be negative for anti-correlated vectors, so mmr2 vs rel has
    // no fixed inequality; the replay checks the real contract)
    val raw = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val pool = raw.keys.filter(_ != 0L).toSeq
      .map(id => (id, dot(raw(id), raw(0L))))
      .sortBy { case (id, rel) => (-rel, id) }.take(20)
    var remaining = pool
    var sel = Vector.empty[(Long, Long, Long, Long)]
    for (rank <- 0 until 6) {
      val scored = remaining.map { case (id, rel) =>
        val pen = if (rank == 0) 0L
          else sel.map(s => dot(raw(id), raw(s._2))).max
        (id, rel, if (rank == 0) rel else rel - pen)
      }
      val (pid, prel, pmmr) = scored.minBy { case (id, _, m) => (-m, id) }
      sel :+= ((rank.toLong, pid, prel, pmmr))
      remaining = remaining.filterNot(_._1 == pid)
    }
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    assert(got === sel, s"greedy replay mismatch:\n got $got\n exp $sel")
  }

  test("curriculumDeciles partitions the corpus into monotone difficulty bins") {
    val corpus = (0L until 40L).map { i =>
      // low ids: common-token soup; high ids: increasingly rare tokens
      val body = if (i < 20) "the the the cat sat" else s"zeta$i omega$i rho$i tau$i nu$i"
      (i, body)
    }.toDF("doc_id", "text")
    val out = graft.operators.Corpus.curriculumDeciles(corpus, buckets = 4)
      .orderBy("decile").collect()
    assert(out.map(_.getLong(1)).sum === 40L, "bins partition the corpus")
    assert(out.map(_.getLong(0)).toSeq === (0L until 4L).toSeq)
    // brackets must be non-overlapping and increasing across bins
    val brackets = out.map(r => (r.getLong(4), r.getLong(5)))
    brackets.sliding(2).foreach { case Array((_, hiA), (loB, _)) =>
      assert(hiA <= loB, s"bin brackets overlap: $hiA > $loB")
    }
    // the rare-token half must land strictly above the soup half
    assert(brackets.last._1 > brackets.head._2)
  }

  test("winsorizePanel: bounds bracket the clamp counts and sums") {
    val corpus = (0L until 40L).map { i =>
      val n = if (i == 0) 1 else if (i == 39) 400 else 10 + (i % 5)
      (i, Seq.fill(n.toInt)("w").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val out = graft.operators.Corpus.winsorizePanel(corpus, denom = 20).collect()
    assert(out.length === 1)
    val r = out.head
    val (lo, hi) = (r.getLong(1), r.getLong(2))
    val (below, above) = (r.getLong(3), r.getLong(4))
    val (clamped, raw) = (r.getLong(5), r.getLong(6))
    assert(lo <= hi)
    assert(below >= 1L, "the 1-token outlier must clamp low")
    assert(above >= 1L, "the 400-token outlier must clamp high")
    // clamping pulls the outlier-heavy sum toward the bounds
    assert(clamped >= 40L * lo && clamped <= 40L * hi)
    assert(raw > clamped, "the 400-token tail dominates the raw sum")
  }

  test("tombstone live-filter degrades from broadcast to shuffle join past the size guard") {
    import org.apache.spark.sql.{functions => F}
    val rows = spark.range(100).select(
      F.col("id").as("doc_id"), F.lit(0L).as("seq"))
    val tomb = spark.range(10).select(
      F.col("id").as("doc_id"), F.lit(1L).as("seq"))
    // identical semantics on both sides of the threshold
    val viaBroadcast = graft.operators.Tombstones.live(rows, tomb)
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "a small tombstone set must broadcast")
    assert(viaBroadcast.select("doc_id").collect().map(_.getLong(0)).sorted
      === (10L until 100L).toArray)
    // past the guard the hint is withheld; with the planner's own
    // auto-broadcast disabled (as it would be for a genuinely huge
    // side) the join degrades to a shuffle join with identical output
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaShuffle = graft.operators.Tombstones.live(
        rows, tomb, maxBroadcastBytes = 1L)
      val shufflePlan = viaShuffle.queryExecution.executedPlan.toString
      assert(!shufflePlan.contains("BroadcastHashJoin"),
        "past the guard the tombstone side must NOT broadcast: " +
          shufflePlan.take(800))
      assert(viaShuffle.select("doc_id").collect().map(_.getLong(0)).sorted
        === (10L until 100L).toArray,
        "the fallback join must produce the identical live set")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
