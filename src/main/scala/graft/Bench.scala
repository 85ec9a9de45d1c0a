package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every catalog query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through a `noop` sink write — unlike `count()`,
  * which lets Catalyst prune the whole projection away, noop computes
  * every output column while writing nothing.
  *
  * Session hygiene (r8 finding): a shared session accumulates cached
  * blocks and localCheckpoint RDDs across ~125 entries, taxing
  * late-alphabet entries 3-4× their isolated cost. Between measured
  * runs (outside the timer) the harness clears the SQL cache and
  * unpersists every lingering RDD; the three end-to-end composites
  * (pipeline / streaming / streaming_dedup) each get a fresh
  * SparkSession on a fresh SparkContext so micro-batch state never
  * inherits the query sweep's block-manager residue.
  */
object Bench {

  /** Bump when the measurement methodology or composite workload shape
    * changes (r10 lesson: harness deltas — micro-batch counts, replay
    * tile counts, session sharing — were indistinguishable from engine
    * deltas in the round-over-round numbers). Stamped into
    * bench_full.json so cross-round comparisons are gated on equal
    * versions.
    *   r11: per-entry repeats with min/med/max spread; workload
    *   fingerprint of the measured testdata (the driver regenerated
    *   /root/testdata this round — events.ts nanos→micros, documents
    *   much heavier in duplicated grams — so r11 numbers are NOT
    *   comparable to r10 regardless of harness).
    *   r12: MEDIAN-first reporting (the r11 verdict's measurement-
    *   honesty nit: headlines cited min while committed spreads showed
    *   medians up to 2.4× higher) — `queries`/`value` now carry the
    *   median; min/max stay in `spreads`. Entries whose in-sweep
    *   max/min exceeds 2× additionally get ONE isolated re-run in a
    *   fresh session, recorded as `isolated` next to the spread, so
    *   sweep-interference outliers are adjudicated mechanically, not ad
    *   hoc. Fingerprint now walks directory datasets (dir File.length
    *   was the constant inode size, so a regenerated dir-based sf dir
    *   kept its stamp).
    *   r13 (version string UNCHANGED — the per-entry estimator and
    *   workloads are identical, so r12/r13 numbers stay comparable):
    *   adds the `calib` host-load entry (fixed synthetic workload at
    *   sweep start/end) and extends the isolated-re-run trigger to
    *   ROUND-OVER-ROUND movers — any entry whose median shifts >1.5×
    *   vs the committed prior report (same harness + workload stamps)
    *   gets the same fresh-session adjudication run as in-sweep
    *   high-variance entries.
    *   r14 (version string still unchanged — estimator identical):
    *   the calib becomes a SERIES (one probe every ~25 sweep entries,
    *   recorded with its position) so a host-speed shift can be
    *   LOCALIZED to the entries it inflated instead of inferred from
    *   two endpoints (r13's q_ann_mrr 1.94× move was adjudicated only
    *   by alphabet-position inference); and reports are ROUND-STAMPED
    *   (`round` field + an archived copy under bench_rounds/), with
    *   the mover trigger comparing against the PRIOR ROUND's archived
    *   medians — an intra-round sweep can no longer mask a
    *   round-over-round move by overwriting bench_full.json.
    *   r15 (version string still unchanged — estimator identical):
    *   HOST-NORMALIZED medians — each entry's median divided by the
    *   calib series value interpolated at its sweep position — land as
    *   a `normalized` map beside the raw ones, and the >1.5× mover
    *   trigger fires on the NORMALIZED ratio whenever the prior
    *   round's report carries the map (raw otherwise). A host-speed
    *   shift between rounds now cancels out of the trigger instead of
    *   flooding the mover list (r14: the whole sweep read +29% purely
    *   from a 1.3-2.2× slower host); a real per-entry regression still
    *   fires because the calib divisor is entry-local.
    */
  private val HarnessVersion = "r12-median-1"

  /** Fingerprint of the measured dataset: name:size for every regular
    * file under every *.parquet entry (Spark-written datasets are
    * DIRECTORIES named *.parquet — their File.length() is the inode
    * size, constant under regeneration, so the walk must reach the
    * part files). Two rounds' numbers are comparable only when both
    * the harness version and this fingerprint agree.
    */
  private def workloadFingerprint(sfDir: String): String = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).toSeq
          .flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Seq.empty
      else Seq(s"${f.getName}:${f.length}")
    val files = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      .flatMap(walk).mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** One entry's measured spread. `point` — the reported per-query
    * number — is the MEDIAN (r12): the min systematically understated
    * entries whose later runs inherit sweep noise, and round-over-round
    * comparisons led with it. The min stays in the spread as the
    * floor-of-the-computation estimate. For even n the median averages
    * the two middle runs (the r11 upper-median made med == max for the
    * composites' n=2).
    */
  // private[graft]: the point-promotion rule is spec-pinned
  // (BenchGatingSpec) the same way moverTrigger is
  private[graft] final case class Spread(
      runs: Seq[Double],
      isolated: Double = Double.NaN,
      // r16 window evidence: the per-entry host probes bracketing this
      // entry's repeats read >WindowThresh× the sweep's probe floor —
      // its measurement window was demonstrably CPU-contended even if
      // the contention was consistent enough to keep the spread <2×
      // (the shape the sparse calib series misses entirely: an 8 s load
      // window between two probes 25 entries apart)
      windowed: Boolean = false,
      // false when the isolated re-run's own pre-probe never read quiet
      // (the host stayed loaded through every gate attempt) — such a
      // re-run is as contaminated as the sweep and must not be promoted
      isolatedQuiet: Boolean = true) {
    // a single failed attempt marks the entry failed (r10 semantics:
    // min-of-2 propagated NaN) — a flaky query must not report its
    // surviving attempt as a clean number
    val ok: Seq[Double] = runs.filterNot(_.isNaN).sorted
    def failed: Boolean = ok.size != runs.size || ok.isEmpty
    def med: Double =
      if (failed) Double.NaN
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    // the HEADLINE value: the sweep median, EXCEPT when contamination
    // EVIDENCE exists — a >2× in-sweep spread (intermittent windows
    // hit some repeats) OR bracketing host probes read the entry's
    // window loaded (consistent contamination the spread can't see) —
    // AND a fresh-session isolated re-run exists that itself passed
    // the quiet gate. Then the isolated number is the better estimate
    // (r15's driver artifact reported q_bm25_stream at 28.3 s in-sweep
    // vs 13.0 s isolated on the same build). The raw runs stay in the
    // spread for adjudication.
    def point: Double =
      if (!isolated.isNaN && isolatedQuiet && (highVariance || windowed))
        isolated
      else med
    def min: Double = if (failed) Double.NaN else ok.head
    def max: Double = if (failed) Double.NaN else ok.last
    def highVariance: Boolean = !failed && ok.head > 0 && ok.last / ok.head > 2.0
    def withIsolated(v: Double): Spread = copy(isolated = v)
    def json: String =
      if (failed) """{"n":0}"""
      else {
        val iso = if (isolated.isNaN) "" else f""","isolated":$isolated%.3f"""
        val win = if (windowed) ""","windowed":true""" else ""
        val gate = if (isolated.isNaN || isolatedQuiet) "" else ""","iso_quiet":false"""
        f"""{"n":${ok.size},"min":$min%.3f,"med":$med%.3f,"max":$max%.3f$iso$win$gate}"""
      }
  }

  /** Release cross-entry session state: cached relations plus any
    * persistent RDDs (localCheckpoint blocks otherwise linger in
    * executor storage until driver GC — the r8 tail-contamination
    * mechanism).
    */
  /** The round-over-round MOVER decision, factored pure so the gating
    * can be validated against a real archived round without a sweep
    * (spec-pinned both ways: a uniform host-speed shift fires nothing,
    * a genuine per-entry regression fires). Host-normalized ratio when
    * both rounds carry the divisor — med ÷ calib cancels a host-speed
    * change — falling back to raw medians against pre-normalization
    * archives. */
  def moverTrigger(
      normalized: Double,
      priorNormalized: Option[Double],
      med: Double,
      priorMed: Option[Double]): Boolean =
    priorNormalized.filter(_ > 0)
        .filter(_ => !normalized.isNaN && normalized > 0) match {
      case Some(p) =>
        // r17: a normalized move must be CORROBORATED by the entry's own
        // raw median moving the same direction (>1.25x). The first live
        // round of med-symmetric gating exposed the third false-positive
        // class: an idle fast host ran the CPU-pure calib 1.7x faster
        // than r16 while the fs/fixed-cost-bound queries barely moved —
        // med/calib inflated uniformly and 46 spurious movers fired
        // (every isolated re-run confirmed parity). Calib-only variance
        // moves normalized but not raw; host load moves raw but not
        // normalized; only a real regression moves both. Tradeoff,
        // stated: a genuine ~1.6x regression on a simultaneously 1.5x
        // faster host reads raw ~1.07 and is suppressed here — the >2x
        // spread and window-flag arms still catch that shape, and the
        // next round's archive resets the baseline.
        val rawUp = priorMed.exists(q => q > 0 && !med.isNaN && med / q > 1.25)
        val rawDown = priorMed.exists(q => q > 0 && !med.isNaN && q / med > 1.25)
        (normalized / p > 1.5 && rawUp) || (p / normalized > 1.5 && rawDown)
      case None => priorMed.exists(p =>
        p > 0 && !med.isNaN && (med / p > 1.5 || p / med > 1.5))
    }

  /** Parse a prior round's archived report into (raw medians,
    * mover-baseline normalized map) — factored pure so the gating spec
    * exercises the same shapes main uses. Returns empty maps when the
    * harness or workload stamp disagrees (the numbers would not be
    * comparable; no trigger fires).
    *
    * The normalized baseline PREFERS the median-based map
    * (`normalized_med`, r17+): the current round's mover check divides
    * its sweep MEDIAN by calib, so both sides of the >1.5× comparison
    * must be the same estimator. The point-based `normalized` map
    * follows promoted isolated values — comparing next round's
    * med-normalized against it would manufacture a spurious mover for
    * any entry promoted this round whose sweep median is again
    * window-inflated (ADVICE r16). The point map stays in the report as
    * the headline's normalized form; pre-r17 archives fall back to it. */
  private[graft] def parsePriorArchive(
      txt: String,
      harness: String,
      workload: String): (Map[String, Double], Map[String, Double]) = {
    val h = """"harness":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    val w = """"workload":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    if (!h.contains(harness) || !w.contains(workload))
      (Map.empty, Map.empty)
    else {
      val meds =
        """"([^"]+)":\{"n":\d+,"min":[0-9.eE+-]+,"med":([0-9.eE+-]+)""".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
      def parseNormMap(field: String): Map[String, Double] =
        ("\"" + field + """":\{([^}]*)\}""").r.findFirstMatchIn(txt)
          .map(_.group(1)).map { body =>
            """"([^"]+)":([0-9.eE+-]+)""".r.findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }.getOrElse(Map.empty[String, Double])
      val normMed = parseNormMap("normalized_med")
      val norm =
        if (normMed.nonEmpty) normMed else parseNormMap("normalized")
      (meds, norm)
    }
  }

  private def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // ContextCleaner only reclaims shuffle files / broadcast blocks when
    // their owners are GARBAGE-COLLECTED; between measurements (outside
    // every timer) force the collection so an entry never pays for its
    // predecessors' accumulated shuffle state — the residue that taxes
    // whichever composite happens to run last in the shared session
    System.gc()
  }

  /** Host-load calibration entry (r13, the r12 verdict's ask): a FIXED
    * synthetic workload — pure compute, no table I/O, shape independent
    * of the measured scale factor and of SPARK_GRAFT_CPUS — benched at
    * sweep start and sweep end and recorded as `calib` in
    * bench_full.json. Two sweeps of identical code on the same data
    * then carry their own load divisor: r12's driver sweep read 1.41×
    * the committed sweep purely from loadavg 4.53 vs 3.34, and nothing
    * in the artifacts let a reader subtract the host; now the calib
    * ratio reproduces that inflation (or doesn't), converting loadavg
    * from an anecdote into a measurement.
    */
  private def calibOnce(s: SparkSession): Double = {
    scrub(s)
    import org.apache.spark.sql.{functions => F}
    val t0 = System.nanoTime()
    s.range(0L, 20000000L, 1L, 8) // fixed 8-way parallelism, always
      .select(F.xxhash64(F.col("id")).as("h"))
      .groupBy(F.pmod(F.col("h"), F.lit(1024L)))
      .agg(F.sum("h"), F.count(F.lit(1)))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def calibMedian(s: SparkSession): Double =
    Spread(Seq.fill(3)(calibOnce(s))).med

  /** Per-entry HOST-WINDOW probe: external CPU utilization, delegated
    * to the ONE shared implementation ([[graft.tools.HostProbe]],
    * factored out in r17 — the bench, ScaleProbe and the shell load
    * harness all read the same measurement; see its doc for why
    * /proc/stat-minus-own-ticks and not a compute probe or the calib
    * series). */
  private[graft] def hostBusyFraction(sampleMs: Long = 60): Double =
    graft.tools.HostProbe.busyFraction(sampleMs)

  /** See [[graft.tools.HostProbe.WindowBusyThresh]]. */
  private[graft] val WindowBusyThresh = graft.tools.HostProbe.WindowBusyThresh

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    def freshSession(name: String): SparkSession = {
      val s = GraftSession.builder(name, cpus)
        .master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      GraftFunctions.register(s)
      s
    }
    val spark = freshSession("graft-bench")
    // Warm up the JVM/codegen/parquet paths once so the first measured
    // query doesn't absorb classloading + first-codegen cost.
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    // Optional filter: bench only the named queries (space/comma separated).
    val only = args.flatMap(_.split("[,\\s]+")).filter(_.nonEmpty).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(kv => only(kv._1)).toSeq.sortBy(_._1)
    // Steady-state warmup: run every selected query once against the
    // smallest sibling scale factor (when present) so measurements
    // reflect warmed whole-stage codegen and classloading rather than
    // first-run JIT — the measured directory's data stays untouched, so
    // its I/O remains cold and honestly measured.
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory && warmDir.getPath != new java.io.File(sfDir).getPath) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir.getPath).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      scrub(spark)
    }
    // N measured runs per query (default 3), report the MEDIAN as the
    // point estimate (r12): single-run local timings are ±20% noisy
    // (GC, page cache), and the r11 min-first headline systematically
    // understated entries whose spread the same file showed at up to
    // 2.4×. The full spread (min/med/max) lands in bench_full.json so
    // a round-over-round delta can be checked against the measured
    // noise floor instead of re-running.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    // calibration SERIES (r14): a median-of-3 anchor after warmup, one
    // single probe every ~25 sweep entries (each ~0.3-1.5 s, outside
    // every timer), and a closing anchor after the composites — so a
    // host-speed shift mid-sweep is localized to the entries it
    // actually inflated, instead of inferred from two endpoints
    val calibSeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val calibStart = calibMedian(spark)
    calibSeries += 0 -> calibStart
    val calibEvery = 25
    // per-entry utilization samples: a probe at every run boundary
    // (the probe between consecutive entries serves as entry N's last
    // and entry N+1's first), each ~60 ms, all outside every timer —
    // ~40 s of wall across a 206-entry x3 sweep, zero effect on any
    // measured value. The map keeps each entry's MAX observed external
    // busy fraction.
    val windowProbes = scala.collection.mutable.Map.empty[String, Double]
    var lastBusy = hostBusyFraction()
    val results = selected.zipWithIndex.map { case ((name, fn), entryIdx) =>
      if (entryIdx > 0 && entryIdx % calibEvery == 0)
        calibSeries += entryIdx -> calibOnce(spark)
      // a failed run must NOT report its (fast) elapsed time as the
      // query's benchmark — NaN marks the entry failed and the report
      // carries an explicit failed list
      def once(): Double = {
        // outside the timer: start every run with a clean block manager
        // so an entry's cost never includes (or hides behind) another
        // entry's lingering cached/checkpointed blocks
        scrub(spark)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Double.NaN
        }
      }
      // probe at EVERY run boundary, not just entry boundaries: an
      // 8 s burst interior to a 3-run entry with quiet edges inflates
      // every repeat consistently (<2x spread) while both entry-edge
      // probes read quiet — measured in the load harness. A burst
      // longer than one run now crosses a probed boundary; one shorter
      // than a run inflates only that run, which the spread sees.
      val entryProbes = scala.collection.mutable.ArrayBuffer[Double](lastBusy)
      val sp = Spread(Seq.fill(repeats) {
        val v = once()
        entryProbes += hostBusyFraction()
        v
      })
      lastBusy = entryProbes.last
      windowProbes(name) = entryProbes.max
      name -> sp
    }
    def windowBusyOf(name: String): Double =
      windowProbes.getOrElse(name, 0.0)
    val windowFlagged = results.collect {
      case (k, s) if !s.failed && windowBusyOf(k) > WindowBusyThresh => k
    }
    if (windowFlagged.nonEmpty)
      System.err.println(
        f"[bench] host-window flagged (external CPU >${WindowBusyThresh}%.2f " +
          "between entries): " +
          windowFlagged.map(k => f"$k(${windowBusyOf(k)}%.2f)").mkString(", "))
    val resultsW = results.map { case (k, s) =>
      k -> s.copy(windowed = windowBusyOf(k) > WindowBusyThresh)
    }
    // sweep position per entry — the host-normalization divisor is the
    // calib series linearly interpolated at this index
    val entryIdxOf: Map[String, Int] =
      selected.zipWithIndex.map { case ((n, _), i) => n -> i }.toMap
    def calibAt(idx: Int): Double = {
      val pts = calibSeries.sortBy(_._1)
      if (pts.isEmpty) Double.NaN
      else if (idx <= pts.head._1) pts.head._2
      else if (idx >= pts.last._1) pts.last._2
      else {
        val i = pts.lastIndexWhere(_._1 <= idx)
        val (x0, y0) = pts(i); val (x1, y1) = pts(i + 1)
        y0 + (y1 - y0) * (idx - x0).toDouble / (x1 - x0)
      }
    }
    // med ÷ local host speed: dimensionless "entry cost in calib units";
    // NaN when the entry failed or no calib bracket exists
    def normalizedOf(name: String, med: Double): Double = {
      val c = entryIdxOf.get(name).map(calibAt)
        .getOrElse(calibSeries.sortBy(_._1).lastOption.map(_._2)
          .getOrElse(Double.NaN))
      if (med.isNaN || c.isNaN || c <= 0) Double.NaN else med / c
    }
    // Mechanical outlier isolation (r12, the r11 verdict's ask): any
    // entry whose in-sweep max/min exceeded 2x gets ONE re-run in a
    // FRESH session after the sweep — the previously ad-hoc "isolated
    // adjudication run" (q_attrib_stream in r11) made automatic. The
    // isolated number rides bench_full.json next to the spread, and
    // since r16 it IS the headline for >2×-spread entries
    // (Spread.point): a 2× in-sweep spread proves the sweep runs were
    // contaminated, so reporting their median over-reports the entry
    // under host load. Movers WITHOUT high variance keep the sweep
    // median (their isolated run adjudicates the move, it does not
    // replace a consistent measurement).
    spark.stop()
    // Resolve the repo root once (the dir holding build.sbt, walking up
    // from CWD): the prior round's committed bench_full.json lives
    // there, and the report below writes back to it.
    val repoRoot: java.nio.file.Path = {
      var d = java.nio.file.Paths.get("").toAbsolutePath
      while (d != null && !java.nio.file.Files.exists(d.resolve("build.sbt")))
        d = d.getParent
      if (d == null) java.nio.file.Paths.get("").toAbsolutePath else d
    }
    // The ROUND number (r14): inferred from the driver's committed
    // BENCH_r{N}.json files — the highest N is the last completed
    // round, so this sweep belongs to N+1. Stamped into the report and
    // used to archive a per-round copy under bench_rounds/.
    val currentRound: Int = {
      val rx = """BENCH_r(\d+)\.json""".r
      val ns = Option(repoRoot.toFile.listFiles()).getOrElse(Array.empty)
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (ns.isEmpty) 1 else ns.max + 1
    }
    // Round-over-round movers (r13, the r12 verdict's ask; r14 fix):
    // the PRIOR ROUND's archived medians — bench_rounds/round{M}.json
    // for the highest M < currentRound — readable ONLY when both the
    // harness version and the workload fingerprint agree (unequal
    // stamps mean the numbers are not comparable and no trigger
    // fires). r13 compared against bench_full.json, which an
    // intermediate INTRA-round sweep overwrites, masking genuine
    // round-over-round moves (q_ann_mrr's 1.94× went unadjudicated
    // exactly this way). Any entry whose median moved >1.5× in either
    // direction joins the isolated re-run set.
    val (priorMeds, priorNorm): (Map[String, Double], Map[String, Double]) = try {
      val roundsDir = repoRoot.resolve("bench_rounds")
      val rx = """round(\d+)\.json""".r
      val prior = Option(roundsDir.toFile.listFiles()).getOrElse(Array.empty)
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt -> f))
        .filter(_._1 < currentRound)
        .sortBy(-_._1).headOption
        // first r14 run: no archive yet — fall back to the committed
        // bench_full.json (pre-archive rounds wrote only that)
        .map(_._2.toPath).orElse {
          val bf = repoRoot.resolve("bench_full.json")
          if (java.nio.file.Files.exists(bf)) Some(bf) else None
        }
      prior.map(java.nio.file.Files.readString) match {
        case None => (Map.empty[String, Double], Map.empty[String, Double])
        case Some(txt) =>
          parsePriorArchive(txt, HarnessVersion, workloadFingerprint(sfDir))
      }
    } catch { case scala.util.control.NonFatal(_) => (Map.empty, Map.empty) }
    // mover trigger: HOST-NORMALIZED ratio when both rounds have the
    // divisor (a host-speed shift cancels out), raw medians otherwise —
    // the decision itself is [[moverTrigger]], factored pure for the
    // replay-validation spec
    def isMover(k: String, med: Double): Boolean =
      moverTrigger(normalizedOf(k, med), priorNorm.get(k), med, priorMeds.get(k))
    val movers = resultsW.collect {
      case (k, s) if !s.failed && isMover(k, s.med) => k
    }
    if (movers.nonEmpty)
      System.err.println(s"[bench] round-over-round movers (>1.5x vs committed, host-normalized when available): ${movers.mkString(", ")}")
    // the isolated re-run set: >2x spreads and window-flagged entries
    // (both promotion-eligible) plus movers (adjudication evidence).
    // Window-driven membership is CAPPED at the worst 12 by measured
    // busy: under SUSTAINED load every entry flags, and re-running the
    // whole sweep would double its cost for re-runs that can't pass
    // the quiet gate anyway — windows are by definition a minority of
    // the sweep; a majority-flagged sweep is just a loaded host, which
    // the normalized map already handles round-over-round
    val windowSelected =
      windowFlagged.sortBy(k => -windowBusyOf(k)).take(12)
    if (windowSelected.size < windowFlagged.size)
      System.err.println(
        s"[bench] ${windowFlagged.size} entries window-flagged — " +
          s"sustained load, re-running only the worst ${windowSelected.size}")
    val highVar = (resultsW.filter(_._2.highVariance).map(_._1) ++
      windowSelected ++ movers).distinct
    val resultsIso = if (highVar.isEmpty) resultsW else {
      val iso = freshSession("graft-bench-isolated")
      iso.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count()
        .write.format("noop").mode("overwrite").save()
      // quiet gate: an isolated re-run only counters sweep-window
      // contamination if it actually runs on a quiet host — probe
      // before each re-run and wait out residual load (bounded; if the
      // host never goes quiet the re-run still executes but is marked
      // un-quiet and the promotion rule keeps the sweep median)
      // the quiet waiting is bounded by a GLOBAL budget across the
      // whole isolated phase, not per entry: under sustained load a
      // per-entry 30 s wait times a dozen flagged entries would stall
      // the sweep for minutes buying nothing — once the budget is
      // spent, attempts run immediately and report un-quiet, and the
      // promotion rule keeps their sweep medians
      val quietBudgetMs = new java.util.concurrent.atomic.AtomicLong(90000L)
      def awaitQuiet(): Boolean =
        graft.tools.HostProbe.awaitQuiet(quietBudgetMs)
      // per-entry codegen warmup against the small sibling SF (the
      // sweep's own discipline): without it the fresh session's FIRST
      // run of each re-run query pays cold codegen/classloading —
      // measured at +0.6-1.6 s on ~2 s entries, i.e. the isolated
      // value would be biased ABOVE the warmed sweep it adjudicates
      val isoWarmDir = new java.io.File(
        new java.io.File(sfDir).getParentFile, "sf0.001")
      val isoMap = highVar.map { name =>
        if (isoWarmDir.isDirectory &&
            isoWarmDir.getPath != new java.io.File(sfDir).getPath) {
          try SparkEntry.queries(name)(iso, isoWarmDir.getPath)
            .write.format("noop").mode("overwrite").save()
          catch { case scala.util.control.NonFatal(_) => () }
        }
        // the quiet gate BRACKETS the re-run: a pre-probe alone passes
        // inside a load lull and the run then collides with the next
        // burst (measured: a 2 s entry read 10.8 s exactly this way) —
        // so re-probe after the runs and retry a bounded number of
        // times until one attempt is quiet on both sides. Each attempt
        // is the SWEEP'S OWN estimator (median of `repeats` runs): a
        // promoted isolated value is a headline, and a single run of a
        // noisy ~2 s streaming entry spreads ±25% session-to-session —
        // exactly the error a median exists to cut
        def attempt(): (Double, Boolean) = {
          val preQuiet = awaitQuiet()
          def one(): Double = {
            scrub(iso)
            val t0 = System.nanoTime()
            try {
              SparkEntry.queries(name)(iso, sfDir)
                .write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } catch { case scala.util.control.NonFatal(_) => Double.NaN }
          }
          val v = Spread(Seq.fill(repeats)(one())).med
          (v, preQuiet && hostBusyFraction() <= WindowBusyThresh)
        }
        var (v, quiet) = attempt()
        var retries = 0
        // retries exist for the WINDOW case (the next lull is seconds
        // away); once the quiet budget is spent the host is sustained-
        // loaded and another triple-run buys nothing
        while (!quiet && !v.isNaN && retries < 2 && quietBudgetMs.get() > 0) {
          retries += 1
          val (v2, q2) = attempt(); v = v2; quiet = q2
        }
        System.err.println(f"[bench] isolated re-run $name: $v%.3f s" +
          (if (quiet) "" else " (host never went quiet)"))
        name -> (v, quiet)
      }.toMap
      iso.stop()
      resultsW.map { case (k, s) =>
        k -> isoMap.get(k).map { case (v, quiet) =>
          s.withIsolated(v).copy(isolatedQuiet = quiet)
        }.getOrElse(s)
      }
    }
    // The composites below share ONE fresh SparkSession on a fresh
    // SparkContext (local mode allows one context per JVM, so the query
    // sweep's session stops first): their micro-batch/pipeline timings
    // must not inherit the sweep's block-manager and GC residue, but
    // they may — and should — share each other's warmed codegen and
    // classloading (the r9 finding: six cold session bootstraps taxed
    // the composite block more than the measured work itself). Each
    // composite keeps the min-of-2 estimator's REPEATS (n=2, reported
    // as their mean via the even-n median) — the first run absorbs
    // cold JIT/codegen (checkpoint-heavy streaming flows swing 2-3x
    // between cold and warm), every attempt on fresh scratch dirs; the
    // sweep-style scrub between attempts keeps attempts independent.
    val compositeSession = freshSession("graft-bench-composites")
    // composite repeats default to 2 (they are the slowest entries);
    // adjudication runs raise this to get a real distribution
    val compositeRepeats =
      sys.env.getOrElse("SPARK_GRAFT_COMPOSITE_REPEATS", "2").toInt
    def min2(attempt: SparkSession => Double): Spread = {
      def once(): Double = {
        scrub(compositeSession)
        attempt(compositeSession)
      }
      Spread(Seq.fill(compositeRepeats)(once()))
    }
    // The reference's ACTUAL workload: three pipeline batches (CSV
    // ingest -> trip_key derivation -> date-pruned dedup upsert ->
    // incremental matview refresh; the middle batch repeats the first,
    // so its upsert is pure dedup work; the third overlaps 50%), then
    // small-file compaction of the accreted partitions. Parameterized
    // by batch rows so the same body serves the tiny-volume warm-up.
    def pipelineAttempt(s: SparkSession, rows: Int): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bench-pipe").toString
      def csv(name: String, n: Int, offset: Int): String = {
        val p = s"$dir/$name.csv"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          graft.tools.TripPipelineDemo.syntheticCsv(n, offset,
            tsHeader = "date_time"))
        p
      }
      val b1 = csv("b1", rows, 0)
      val b2 = csv("b2", rows, rows / 2)
      val t0 = System.nanoTime()
      try {
        val pipe = new Pipeline(s, s"$dir/warehouse")
        pipe.runBatch(b1)
        pipe.runBatch(b1) // idempotent re-run: all-duplicate batch
        pipe.runBatch(b2) // 50% fresh keys
        pipe.compactHist(maxFilesPerPartition = 1)
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] pipeline failed: ${e.getMessage}")
        Double.NaN
      }
    }
    // The streaming path: three files dropped up front, consumed as
    // three micro-batches (maxFilesPerTrigger=1) through the file-drop
    // source -> keyed dedup-upsert flow (S8) — the continuous form of
    // the pipeline entry above, sharing its batch operators.
    def streamingAttempt(s: SparkSession, rows: Int): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bench-stream").toString
      val drop = s"$dir/drop"
      new java.io.File(drop).mkdirs()
      (0 until 3).foreach { i =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$drop/b$i.csv"),
          graft.tools.TripPipelineDemo.syntheticCsv(rows, i * (rows / 2),
            tsHeader = "date_time"))
      }
      val t0 = System.nanoTime()
      try {
        val catalog = new graft.sources.Catalog(s, s"$dir/warehouse")
        catalog.ensureTable("hist_trip_data", graft.model.Trip.schema)
        graft.queries.Replay(s, dir, None) { r =>
          r.run(graft.streaming.Streams.streamingUpsert(
            graft.streaming.Streams.tripFileStream(r.session, drop, maxFilesPerTrigger = 1),
            catalog, "hist_trip_data", r.cp))
        }
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] streaming failed: ${e.getMessage}")
        Double.NaN
      }
    }
    // Streaming incremental dedup: two JSONL batches (the second
    // re-drops 30% of the first's texts under new ids) flow through the
    // file-drop source -> persisted-bucket-table candidate probe ->
    // exact-Jaccard verify -> corpus+bucket append. The corpus admitted
    // in earlier micro-batches is never re-shingled; the cross-batch
    // property (a later batch's dups resolving against the PERSISTED
    // index, not a re-derivation) needs one batch boundary, and each
    // extra micro-batch only re-times the trigger machinery.
    def sdedupAttempt(s: SparkSession, docs: Int): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bench-sdedup").toString
      val drop = s"$dir/drop"
      new java.io.File(drop).mkdirs()
      // deterministic word-salad texts over a 99991-word vocabulary;
      // the word sequence is an arithmetic progression determined by
      // seed mod 99991, and all seeds (< 2*docs <= 3000) are distinct
      // residues — so the ONLY duplicates are the intended dupFrom
      // re-drops
      def text(seed: Long): String =
        (0 until 30).map(j => s"w${(seed * 1009 + j * 7919) % 99991}").mkString(" ")
      def batchFile(name: String, ids: Range, dupFrom: Long => Long): Unit = {
        val lines = ids.map { i =>
          s"""{"doc_id":$i,"text":"${text(dupFrom(i.toLong))}"}"""
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$drop/$name"), lines.mkString("\n"))
      }
      batchFile("b0.jsonl", 0 until docs, identity)
      batchFile("b1.jsonl", docs until 2 * docs,
        i => if (i % 10 < 3) i - docs else i) // 30% dups of b0
      val t0 = System.nanoTime()
      try {
        // right-size shuffle width to the micro-batch (the twins'
        // replay-width rationale): a 1500-doc batch through a ~7-job
        // foreachBatch chain pays task-launch overhead per shuffle
        // partition per job; 32-wide shuffles are the 100 TB posture,
        // not the micro-batch one
        graft.queries.Replay(s, dir, Some(4)) { r =>
          val catalog = new graft.sources.Catalog(r.session, s"$dir/warehouse")
          val ddl = org.apache.spark.sql.types.StructType.fromDDL _
          catalog.ensureTable("corpus", ddl("doc_id BIGINT, text STRING"))
          catalog.ensureTable("corpus_buckets", ddl("id BIGINT, band INT, bk BIGINT"))
          r.run(graft.streaming.Streams.streamingDocDedup(
            graft.streaming.Streams.docFileStream(r.session, drop, maxFilesPerTrigger = 1),
            catalog, "corpus", "corpus_buckets", r.cp))
        }
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] streaming_dedup failed: ${e.getMessage}")
        Double.NaN
      }
    }
    // Tiny-volume warm-up of every selected composite path (r12): the
    // composites session is a fresh JVM-context whose FIRST measured
    // attempt used to absorb cold JIT/codegen/commit-protocol
    // initialization — measured swings of 2x between the two attempts
    // on identical input (the r11 pipeline +41% "regression" was this
    // noise amplified by a min-of-2 with a cold first attempt). The
    // query sweep already warms via sf0.001; this is the same
    // discipline for the composites: identical code paths, negligible
    // data, outside every timer.
    def wantComposite(name: String): Boolean = only.isEmpty || only(name)
    if (wantComposite("pipeline")) { pipelineAttempt(compositeSession, 50); () }
    if (wantComposite("streaming")) { streamingAttempt(compositeSession, 50); () }
    if (wantComposite("streaming_dedup")) { sdedupAttempt(compositeSession, 40); () }
    scrub(compositeSession)
    val withPipeline =
      if (!wantComposite("pipeline")) resultsIso
      else resultsIso :+ ("pipeline" -> min2(pipelineAttempt(_, 20000)))
    val withStreaming =
      if (!wantComposite("streaming")) withPipeline
      else withPipeline :+ ("streaming" -> min2(streamingAttempt(_, 20000)))
    val withStreamDedup =
      if (!wantComposite("streaming_dedup")) withStreaming
      else withStreaming :+ ("streaming_dedup" -> min2(sdedupAttempt(_, 1500)))
    // round-over-round adjudication for the COMPOSITES too: the catalog
    // sweep's mover check above cannot see them (they are appended
    // here); a composite whose median moved >1.5× vs the committed
    // report gets one extra attempt on fresh scratch dirs, recorded as
    // `isolated` beside its spread like any other adjudicated entry
    val compositeAttempt: Map[String, SparkSession => Double] = Map(
      "pipeline" -> (pipelineAttempt(_, 20000)),
      "streaming" -> (streamingAttempt(_, 20000)),
      "streaming_dedup" -> (sdedupAttempt(_, 1500)))
    // calibration point 2: after the last measured entry (same fixed
    // workload; the session differs from calibStart's but the entry is
    // pure compute, so the delta tracks the HOST, not the session).
    // Taken BEFORE the composite mover adjudication below so the
    // composites' host divisor exists when their trigger is evaluated.
    val calibEnd = calibMedian(compositeSession)
    calibSeries += selected.size -> calibEnd
    val withCompIso = withStreamDedup.map { case (k, sp) =>
      val moved = !sp.failed && isMover(k, sp.med)
      compositeAttempt.get(k).filter(_ => moved) match {
        case Some(attempt) =>
          System.err.println(s"[bench] round-over-round mover (composite): $k")
          scrub(compositeSession)
          val v = attempt(compositeSession)
          System.err.println(f"[bench] isolated re-run $k: $v%.3f s")
          k -> sp.withIsolated(v)
        case None => k -> sp
      }
    }
    compositeSession.stop()
    val failed = withCompIso.collect { case (k, v) if v.failed => k }
    val qs = withCompIso.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.failed) "-1" else f"${v.point}%.3f")
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = withCompIso.map(_._2).filterNot(_.failed).map(_.point).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // Durable copy: the driver captures only the stdout TAIL, which has
    // truncated the first ~90 per-query timings in past rounds. The
    // engine persists its own complete report — per-query point (median)
    // AND spread (n/min/med/max, plus `isolated` re-runs for entries
    // whose in-sweep spread exceeded 2×), the harness version, a workload
    // fingerprint of the measured data, and the host's load average —
    // so a later round can adjudicate a delta without re-running:
    // unequal harness/workload stamps mean the numbers are not
    // comparable at all; a delta inside [min,max] of either round is
    // noise, not regression.
    val spreads = withCompIso.map { case (k, v) =>
      "\"" + k + "\":" + v.json
    }.mkString("{", ",", "}")
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // the series: [[entryIndex, seconds], ...] — a reader divides an
    // entry's timing by the nearest probe to get a host-local estimate
    val calibSeriesJson = calibSeries
      .map { case (at, v) => f"[$at,$v%.3f]" }.mkString("[", ",", "]")
    // host-normalized medians (r15): med ÷ interpolated calib at the
    // entry's sweep position — the values the next round's mover
    // trigger compares, so a host-speed shift cancels out of it
    val normalizedJson = withCompIso.flatMap { case (k, v) =>
      // normalized follows the HEADLINE (point), so a promoted isolated
      // value and its normalized form agree with the reported number
      val nv = if (v.failed) Double.NaN else normalizedOf(k, v.point)
      if (nv.isNaN) None else Some("\"" + k + "\":" + f"$nv%.4f")
    }.mkString("{", ",", "}")
    // the MOVER-TRIGGER side of the archive: median-normalized, because
    // the next round's check divides ITS sweep median by calib — both
    // sides of the >1.5× comparison must be the same estimator or a
    // promotion this round (point < med) manufactures a mover next
    // round out of nothing but window inflation (ADVICE r16)
    val normalizedMedJson = withCompIso.flatMap { case (k, v) =>
      val nv = if (v.failed) Double.NaN else normalizedOf(k, v.med)
      if (nv.isNaN) None else Some("\"" + k + "\":" + f"$nv%.4f")
    }.mkString("{", ",", "}")
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","round":$currentRound,"cpus":$cpus,"repeats":$repeats,"harness":"$HarnessVersion","workload":"${workloadFingerprint(sfDir)}","loadavg":$loadAvg%.2f,"calib":{"start":$calibStart%.3f,"end":$calibEnd%.3f,"series":$calibSeriesJson},"entries":${withCompIso.size},"queries":$qs,"normalized":$normalizedJson,"normalized_med":$normalizedMedJson,"spreads":$spreads,"failed":$failedJson,"sf":"$sfDir"}"""
    if (only.isEmpty) {
      java.nio.file.Files.writeString(
        repoRoot.resolve("bench_full.json"), full + "\n")
      // round-stamped archive: intra-round re-runs overwrite THIS
      // round's file only, so the next round's mover trigger always
      // sees the last COMPLETED round's medians
      val roundsDir = repoRoot.resolve("bench_rounds")
      java.nio.file.Files.createDirectories(roundsDir)
      java.nio.file.Files.writeString(
        roundsDir.resolve(s"round$currentRound.json"), full + "\n")
    } else {
      // filtered spot-runs still leave durable evidence, in target/ so a
      // partial report never shadows the round's full one
      val tdir = repoRoot.resolve("target")
      java.nio.file.Files.createDirectories(tdir)
      java.nio.file.Files.writeString(
        tdir.resolve("bench_full_partial.json"), full + "\n")
    }
    // Re-print the contract line as the ABSOLUTE LAST stdout of the run
    // (after every file write that could throw): the driver captures
    // only the stdout TAIL, and r20's round-over-round comparison was
    // lost because per-query epilogue pushed the (single) JSON line past
    // the capture window. Two identical lines cost nothing; a tail
    // capture now always ends with a complete one.
    println(line)
  }
}
