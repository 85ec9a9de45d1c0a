package graft

import java.nio.file.Files
import org.apache.spark.sql.{functions => F}
import graft.sources.Catalog
import graft.streaming.{Bm25Index, OpLog, Streams}

/** The two lifecycle contracts every index family must honor:
  *
  *  - FIRST-OP SAFETY: delete / replace / compact must work as the
  *    FIRST operation ever run on a fresh family. Production
  *    maintenance is scheduled, not sequenced after ingest — a cron'd
  *    compaction or a takedown request can land before any stream has
  *    created the family's tables, and reading a never-created table
  *    throws PATH_NOT_FOUND (the r14 regression this spec pins against).
  *
  *  - SINGLE WRITER, ENFORCED: every op span (attempt → appends →
  *    commit) holds the family writer lease ([[OpLog.withWriter]],
  *    scope = the ops table — the same scope every maintenance pass
  *    takes), so a concurrent second writer or a maintenance rewrite
  *    racing an op refuses loudly with
  *    [[Catalog.MaintenanceLeaseHeld]] instead of interleaving: two
  *    writers deriving the same base from the op log would race
  *    beginAttempt on one seq, and a log rewrite would silently drop a
  *    commit row appended inside its stage→swap window.
  */
class LifecycleContractSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft-lifecycle").toString)

  // ---------------------------------------------------------------- dedup

  test("dedup family: delete, replace, compact each work as the first-ever op") {
    // DELETE first: no victims, op committed, tables exist afterwards
    val c1 = freshCat()
    Streams.deleteDocsFromDedup(c1, "corpus", "corpus_tomb",
      Seq(1L, 2L).toDF("doc_id"))
    assert(c1.readWithSchema("corpus_tomb", Streams.dedupTombSchema).isEmpty,
      "deleting from an empty family tombstones nothing")
    // REPLACE first: the batch lands as a live generation
    val c2 = freshCat()
    Streams.replaceDocsInDedup(c2, "corpus", "buckets", "corpus_tomb",
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"))
    val live = graft.operators.Tombstones.live(
      c2.readWithSchema("corpus", Streams.dedupCorpusSchema),
      c2.readWithSchema("corpus_tomb", Streams.dedupTombSchema), "doc_id")
    assert(live.count() === 2L, "replace-as-first-op ingests the batch")
    // COMPACT first: pure no-op, no PATH_NOT_FOUND
    val c3 = freshCat()
    Streams.compactDocDedup(c3, "corpus", "buckets", "corpus_tomb")
    assert(c3.readWithSchema("corpus", Streams.dedupCorpusSchema).isEmpty)
  }

  // ---------------------------------------------------------------- vector

  test("vector family: delete, replace, compact each work as the first-ever op") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 12L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 4, m = 4, ksub = 8)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    // DELETE first
    val c1 = freshCat()
    Streams.deleteVectors(c1, "codes", codesSchema, "codes_tomb",
      Seq(3L).toDF("neighbor_id"))
    assert(c1.readWithSchema("codes_tomb", Streams.vectorTombSchema).isEmpty)
    // REPLACE first: the batch lands as live codes
    val c2 = freshCat()
    Streams.replaceVectors(c2, "codes", codesSchema, "codes_tomb",
      vecs.limit(3), model, nlist = 4, m = 4, ksub = 8)
    val live = graft.operators.Tombstones.live(
      c2.readWithSchema("codes", codesSchema),
      c2.readWithSchema("codes_tomb", Streams.vectorTombSchema), "neighbor_id")
    assert(live.count() === 3L, "replace-as-first-op codes the batch")
    // COMPACT first
    val c3 = freshCat()
    Streams.compactVectorIndex(c3, "codes", codesSchema, "codes_tomb")
    assert(c3.readWithSchema("codes", codesSchema).isEmpty)
  }

  // ---------------------------------------------------------------- bm25

  test("bm25 family: delete, replace, compact each work as the first-ever op") {
    // DELETE first (no ensure() call — the op itself must materialize)
    val i1 = new Bm25Index(spark, freshCat())
    i1.delete(Seq(5L).toDF("doc_id"), 0L)
    assert(i1.serveBatch(Seq((1L, "any")).toDF("query_id", "term")).isEmpty)
    // REPLACE first: docs land and serve
    val i2 = new Bm25Index(spark, freshCat())
    i2.replace(Seq((1L, "spark spark engine"), (2L, "engine")).toDF("doc_id", "text"), 0L)
    val hits = i2.serve(Seq("spark"))
    assert(hits.select("doc_id").as[Long].collect().toSet === Set(1L),
      "replace-as-first-op must ingest and serve")
    // COMPACT first
    val i3 = new Bm25Index(spark, freshCat())
    i3.compact()
    assert(i3.serve(Seq("anything")).isEmpty)
  }

  // ----------------------------------------------------------- writer lease

  test("op spans hold the family writer lease: a concurrent foreign holder refuses loudly") {
    val dir = Files.createTempDirectory("graft-writer-lease").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val foreign = new Catalog(spark, s"$dir/wh") // distinct holder id
    // seed the family so the refused op would otherwise have real work
    Streams.replaceDocsInDedup(cat, "corpus", "buckets", "corpus_tomb",
      Seq((1L, "alpha")).toDF("doc_id", "text"))
    foreign.withMaintenanceLease("corpus_ops") {
      // writer-vs-writer: every dedup op entry refuses while the scope is held
      intercept[Catalog.MaintenanceLeaseHeld] {
        Streams.deleteDocsFromDedup(cat, "corpus", "corpus_tomb",
          Seq(1L).toDF("doc_id"))
      }
      intercept[Catalog.MaintenanceLeaseHeld] {
        Streams.replaceDocsInDedup(cat, "corpus", "buckets", "corpus_tomb",
          Seq((1L, "omega")).toDF("doc_id", "text"))
      }
      // writer-vs-maintenance shares the same scope, so the log rewrite
      // arms (compact/checkpoint) refuse too — a commit row can never be
      // appended inside a rewrite's stage→swap window
      intercept[Catalog.MaintenanceLeaseHeld] {
        new OpLog(spark, cat, "corpus_ops", OpLog.countPayload).compact()
      }
      intercept[Catalog.MaintenanceLeaseHeld] {
        new OpLog(spark, cat, "corpus_ops", OpLog.countPayload).checkpoint()
      }
    }
    // window over: the identical op goes through and the doc dies
    Streams.deleteDocsFromDedup(cat, "corpus", "corpus_tomb",
      Seq(1L).toDF("doc_id"))
    assert(graft.operators.Tombstones.live(
      cat.readWithSchema("corpus", Streams.dedupCorpusSchema),
      cat.readWithSchema("corpus_tomb", Streams.dedupTombSchema),
      "doc_id").isEmpty)
  }

  test("bm25 op spans hold the writer lease; nested self re-entry still works") {
    val dir = Files.createTempDirectory("graft-bm25-lease").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val idx = new Bm25Index(spark, cat)
    idx.ensure()
    val foreign = new Catalog(spark, s"$dir/wh")
    foreign.withMaintenanceLease("ops") {
      intercept[Catalog.MaintenanceLeaseHeld] {
        idx.ingest(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
      }
      intercept[Catalog.MaintenanceLeaseHeld] {
        idx.replace(Seq((1L, "gamma")).toDF("doc_id", "text"), 0L)
      }
      intercept[Catalog.MaintenanceLeaseHeld] {
        idx.delete(Seq(1L).toDF("doc_id"), 0L)
      }
      intercept[Catalog.MaintenanceLeaseHeld] { idx.compact() }
    }
    // the same catalog instance re-enters (maintenance calling op
    // helpers, op protocols calling log.compact): depth-counted, no
    // self-deadlock
    cat.withMaintenanceLease("ops") {
      idx.ingest(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    }
    assert(idx.serve(Seq("alpha")).count() === 1L)
  }

  test("lease re-entrancy is thread-scoped: a second thread through the SAME catalog refuses") {
    val dir = Files.createTempDirectory("graft-thread-lease").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // mutual exclusion under real concurrency: 8 threads contend for one
    // scope through ONE Catalog instance; the instance-level depth count
    // must not let them all "re-enter" — at most one body runs at a time,
    // losers refuse loudly (they lose tryCreate against the live file)
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val won = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() =>
        try {
          cat.withMaintenanceLease("scope") {
            val now = inBody.incrementAndGet()
            maxConcurrent.getAndUpdate(v => math.max(v, now))
            Thread.sleep(50)
            inBody.decrementAndGet()
          }
          won.incrementAndGet()
        } catch {
          case _: Catalog.MaintenanceLeaseHeld => refused.incrementAndGet()
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(won.get() >= 1, "at least one contender must acquire")
    assert(won.get() + refused.get() === 8, "every contender wins or refuses loudly")
    assert(maxConcurrent.get() === 1,
      s"bodies interleaved (${maxConcurrent.get()} concurrent) — thread-scoped re-entrancy broken")
    // same-thread nesting still re-enters freely
    cat.withMaintenanceLease("scope") {
      cat.withMaintenanceLease("scope") { assert(true) }
    }
  }

  test("two Catalog instances race lease acquisition: exactly one winner per round") {
    // the two-PROCESS shape the lease file exists for, modeled as two
    // Catalog instances (distinct holder ids, distinct leaseDepth maps —
    // they share nothing but the filesystem). Exclusion must come from
    // the coordinator's atomic create-if-absent, not from either
    // instance's in-memory state. 100 rounds; each round both contend,
    // exactly one enters, then releases.
    val dir = Files.createTempDirectory("graft-two-cat").toString
    val a = new Catalog(spark, s"$dir/wh")
    val b = new Catalog(spark, s"$dir/wh")
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    var maxConcurrent = 0
    (1 to 100).foreach { _ =>
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = Seq(a, b).map(c => new Thread(() => {
        gate.await()
        try {
          c.withMaintenanceLease("scope") {
            val now = inBody.incrementAndGet()
            synchronized { maxConcurrent = math.max(maxConcurrent, now) }
            inBody.decrementAndGet()
          }
          wins.incrementAndGet()
        } catch {
          case _: Catalog.MaintenanceLeaseHeld => losses.incrementAndGet()
        }
      }))
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
      assert(wins.get() >= 1, "someone must acquire each round")
      assert(wins.get() + losses.get() === 2)
    }
    assert(maxConcurrent === 1,
      s"two catalogs ran their bodies concurrently ($maxConcurrent)")
    // the exclusion primitive itself is atomic WITHOUT any JVM monitor:
    // N bare coordinator create-if-absent calls on one fresh path (the
    // cross-process channel — O_EXCL on the local filesystem, which
    // Hadoop's check-then-create LocalFileSystem.create(overwrite=false)
    // does NOT guarantee) admit exactly one winner
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (1 to 20).foreach { i =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/excl_$i")
      val winners = new java.util.concurrent.atomic.AtomicInteger(0)
      val g = new java.util.concurrent.CountDownLatch(1)
      val ts = (1 to 8).map(n => new Thread(() => {
        g.await()
        if (graft.sources.CommitCoordinator.fileAtomics
            .createIfAbsent(fs, p, s"holder$n")) winners.incrementAndGet()
      }))
      ts.foreach(_.start()); g.countDown(); ts.foreach(_.join())
      assert(winners.get() === 1, s"round $i: ${winners.get()} winners")
    }
  }

  test("op-log commit on a thread other than the lease owner's fails loudly") {
    // fencing is keyed on the owning thread: a span that hands its
    // commit to another thread (Future, listener callback) would
    // silently publish UNFENCED — the commit point must refuse instead
    val dir = Files.createTempDirectory("graft-xthread").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val log = new OpLog(spark, cat, "ops", OpLog.countPayload)
    log.ensure()
    @volatile var thrown: Throwable = null
    log.withWriter() {
      val t = new Thread(() =>
        try log.commitCount(0L, 1L)
        catch { case e: Throwable => thrown = e })
      t.start(); t.join()
    }
    assert(thrown != null, "cross-thread commit must not publish silently")
    assert(thrown.isInstanceOf[IllegalStateException]
        && thrown.getMessage.contains("different thread"),
      s"wrong failure: $thrown")
    assert(log.committedSeqs.isEmpty)
    // same-thread commit inside the span still works
    log.withWriter() { log.commitCount(0L, 1L) }
    assert(log.committedSeqs.count() === 1L)
  }

  // --------------------------------------------------------------- fencing

  test("a writer that overruns its lease TTL is fenced at commit, not interleaved") {
    val dir = Files.createTempDirectory("graft-fence").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val foreign = new Catalog(spark, s"$dir/wh")
    val log = new OpLog(spark, cat, "ops", OpLog.countPayload)
    log.ensure()
    // overrun: a 1ms-TTL span sleeps past expiry, a contender breaks the
    // stale lease and runs its own span (then releases). The overrunner
    // must now refuse to publish: commit is the first fence point.
    intercept[Catalog.WriterFenced] {
      log.withWriter(ttlMs = 1L) {
        Thread.sleep(10)
        foreign.withMaintenanceLease("ops") { /* successor's window */ }
        log.commitCount(0L, 1L) // fenced: the lease no longer exists/is ours
      }
    }
    assert(log.committedSeqs.isEmpty,
      "the fenced writer must not have published a commit row")
    // the same overrun fences a maintenance swap (replaceTable path)
    cat.ensureTable("t", org.apache.spark.sql.types.StructType.fromDDL("a BIGINT"))
    intercept[Catalog.WriterFenced] {
      cat.withMaintenanceLease("t", ttlMs = 1L) {
        Thread.sleep(10)
        foreign.withMaintenanceLease("t") {}
        cat.replaceTable("t", Seq(1L).toDF("a"))
      }
    }
    // an in-TTL span commits normally (the fence is a no-op for a live lease)
    log.withWriter() { log.commitCount(1L, 1L) }
    assert(log.committedSeqs.count() === 1L)
    // the fence is THREAD-scoped: another thread's healthy span must not
    // be aborted by THIS thread's lapsed lease (two streams on different
    // families in one process fail independently)
    val otherLog = new OpLog(spark, cat, "ops_b", OpLog.countPayload)
    otherLog.ensure()
    @volatile var otherOk = false
    intercept[Catalog.WriterFenced] {
      cat.withMaintenanceLease("t", ttlMs = 1L) {
        Thread.sleep(10)
        foreign.withMaintenanceLease("t") {}
        val worker = new Thread(() => {
          otherLog.withWriter() { otherLog.commitCount(0L, 1L) }
          otherOk = true
        })
        worker.start(); worker.join()
        cat.replaceTable("t", Seq(2L).toDF("a")) // this thread IS fenced
      }
    }
    assert(otherOk, "a healthy writer on another thread was falsely fenced")
    assert(otherLog.committedSeqs.count() === 1L)
  }

  test("the full lifecycle runs through a non-file coordinator (external lock-service shape)") {
    // the CommitCoordinator seam must be load-bearing, not decorative:
    // plug the key-value reference coordinator (coordination state in a
    // linearizable map, data dirs still on fs — the object-store
    // deployment shape) into two Catalogs sharing it, and run real ops
    val dir = Files.createTempDirectory("graft-kv-coord").toString
    val kv = graft.sources.CommitCoordinator.keyValue()
    val cat = new Catalog(spark, s"$dir/wh", kv)
    val other = new Catalog(spark, s"$dir/wh", kv)
    // ingest + replace + delete + compact, all via leases/stamps in the map
    Streams.replaceDocsInDedup(cat, "corpus", "buckets", "tomb",
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"))
    // the layout stamp lives in the coordinator and still refuses
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceDocsInDedup(other, "corpus", "buckets", "tomb",
        Seq((3L, "x")).toDF("doc_id", "text"), stateBuckets = 32)
    }
    // exclusion decided by the MAP, not the filesystem: no __lease file
    // ever lands on disk, yet a second client refuses
    other.withMaintenanceLease("corpus_ops") {
      intercept[Catalog.MaintenanceLeaseHeld] {
        Streams.deleteDocsFromDedup(cat, "corpus", "tomb", Seq(1L).toDF("doc_id"))
      }
      assert(!new java.io.File(s"$dir/wh/corpus_ops__lease").exists(),
        "lease leaked to the filesystem — the coordinator is decorative")
    }
    Streams.deleteDocsFromDedup(cat, "corpus", "tomb", Seq(1L).toDF("doc_id"))
    Streams.compactDocDedup(cat, "corpus", "buckets", "tomb")
    val live = graft.operators.Tombstones.live(
      cat.readWithSchema("corpus", Streams.dedupCorpusSchema),
      cat.readWithSchema("tomb", Streams.dedupTombSchema), "doc_id")
    assert(live.select("doc_id").as[Long].collect().toSet === Set(2L))
    // fencing through the map: a TTL overrun broken by the other client
    val log = new OpLog(spark, cat, "corpus_ops", OpLog.countPayload)
    intercept[Catalog.WriterFenced] {
      log.withWriter(ttlMs = 1L) {
        Thread.sleep(10)
        other.withMaintenanceLease("corpus_ops") {}
        log.commitCount(log.nextBaseSeq, 1L)
      }
    }
  }

  test("bm25 and vector lifecycles run through the key-value coordinator too") {
    // "every lease/break/fence/stamp point inherits the coordinator"
    // must hold for ALL index families, not just dedup — a single
    // direct-filesystem lease or stamp anywhere in the bm25/vector op
    // paths would silently void the object-store deployment story.
    // Same shape as the dedup kv test: real ops through two Catalogs
    // sharing the map, exclusion and stamps decided by the MAP, with
    // explicit no-file-on-disk assertions.
    val dir = Files.createTempDirectory("graft-kv-coord-all").toString
    val kv = graft.sources.CommitCoordinator.keyValue()

    // ---- bm25 family
    val bcat = new Catalog(spark, s"$dir/bm", kv)
    val bother = new Catalog(spark, s"$dir/bm", kv)
    val idx = new Bm25Index(spark, bcat)
    idx.ingest(Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text"), 0L)
    // the layout stamp lives in the map and still refuses a
    // mismatched-bucket reopen through the OTHER client
    intercept[Catalog.LayoutMismatch] {
      new Bm25Index(spark, bother, buckets = 32).ensure()
    }
    bother.withMaintenanceLease("ops") {
      intercept[Catalog.MaintenanceLeaseHeld] {
        idx.delete(Seq(1L).toDF("doc_id"), 1L)
      }
      assert(!new java.io.File(s"$dir/bm/ops__lease").exists(),
        "bm25 lease leaked to the filesystem — the coordinator is decorative")
    }
    assert(!new java.io.File(s"$dir/bm/postings__layout").exists(),
      "bm25 layout stamp leaked to the filesystem")
    idx.delete(Seq(1L).toDF("doc_id"), idx.nextSeq)
    idx.compact()
    assert(idx.serve(Seq("alpha")).select("doc_id").as[Long].collect().toSet
      === Set(2L))

    // ---- vector family
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 8L).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 2, m = 2, ksub = 4)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    val vcat = new Catalog(spark, s"$dir/vv", kv)
    val vother = new Catalog(spark, s"$dir/vv", kv)
    Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
      vecs, model, nlist = 2, m = 2, ksub = 4)
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceVectors(vother, "codes", codesSchema, "codes_tomb",
        vecs.limit(1), model, nlist = 2, m = 2, ksub = 8)
    }
    vother.withMaintenanceLease("codes_ops") {
      intercept[Catalog.MaintenanceLeaseHeld] {
        Streams.deleteVectors(vcat, "codes", codesSchema, "codes_tomb",
          Seq(0L).toDF("neighbor_id"))
      }
      assert(!new java.io.File(s"$dir/vv/codes_ops__lease").exists(),
        "vector lease leaked to the filesystem")
    }
    assert(!new java.io.File(s"$dir/vv/codes__layout").exists(),
      "vector layout stamp leaked to the filesystem")
    Streams.deleteVectors(vcat, "codes", codesSchema, "codes_tomb",
      Seq(0L).toDF("neighbor_id"))
    Streams.compactVectorIndex(vcat, "codes", codesSchema, "codes_tomb")
    val vlog = new OpLog(spark, vcat, "codes_ops", OpLog.countPayload)
    val live = graft.operators.Tombstones.live(
      vlog.visible(vcat.readWithSchema("codes", codesSchema)),
      vlog.visible(vcat.readWithSchema("codes_tomb", Streams.vectorTombSchema)),
      "neighbor_id").select("neighbor_id").as[Long].collect().toSet
    assert(live === (1L to 7L).toSet)
  }

  test("two families' leases never contend: independent scopes proceed in parallel") {
    // the r15 ADVICE #3 fix made lease acquire/release critical
    // sections PER-PATH monitors (Catalog.leaseLock) — this pins the
    // semantics that fix exists for: a thread holding family A's
    // maintenance lease must not block (or fail) a sibling thread
    // taking family B's, while the SAME scope still refuses. The
    // wall-clock dividend is recorded in scale/concurrency_dividend.json.
    val cat = freshCat()
    cat.withMaintenanceLease("a_ops") {
      val bHeld = new java.util.concurrent.atomic.AtomicBoolean(false)
      val t = new Thread(() =>
        cat.withMaintenanceLease("b_ops") { bHeld.set(true) })
      t.start(); t.join(10000)
      assert(bHeld.get,
        "an UNRELATED scope's lease blocked behind a held one")
      // the same scope from another thread still refuses loudly
      val refused = new java.util.concurrent.atomic.AtomicBoolean(false)
      val t2 = new Thread(() =>
        try cat.withMaintenanceLease("a_ops") {}
        catch { case _: Catalog.MaintenanceLeaseHeld => refused.set(true) })
      t2.start(); t2.join(10000)
      assert(refused.get, "a held scope was re-acquired by another thread")
    }
  }

  test("all three families share one key-value coordinator across Catalogs") {
    // The object-store deployment story end-to-end: coordination state
    // in one shared key-value map (the conditional-PUT / lock-service
    // shape), data directories on the filesystem. Independent client
    // Catalogs per family, real ingest/delete/compact/serve, exclusion
    // and stamps decided by the MAP (no coordination file may touch
    // disk).
    val dir = Files.createTempDirectory("graft-shared-kv-coord").toString
    val kv = graft.sources.CommitCoordinator.keyValue()
    // ---- dedup family
    val dcat = new Catalog(spark, s"$dir/dd", kv)
    val dother = new Catalog(spark, s"$dir/dd", kv)
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "tomb",
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"))
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceDocsInDedup(dother, "corpus", "buckets", "tomb",
        Seq((3L, "x")).toDF("doc_id", "text"), stateBuckets = 32)
    }
    dother.withMaintenanceLease("corpus_ops") {
      intercept[Catalog.MaintenanceLeaseHeld] {
        Streams.deleteDocsFromDedup(dcat, "corpus", "tomb",
          Seq(1L).toDF("doc_id"))
      }
      assert(!new java.io.File(s"$dir/dd/corpus_ops__lease").exists(),
        "lease leaked to the filesystem — the coordinator is decorative")
    }
    Streams.deleteDocsFromDedup(dcat, "corpus", "tomb", Seq(1L).toDF("doc_id"))
    Streams.compactDocDedup(dcat, "corpus", "buckets", "tomb")
    assert(graft.operators.Tombstones.live(
      dcat.readWithSchema("corpus", Streams.dedupCorpusSchema),
      dcat.readWithSchema("tomb", Streams.dedupTombSchema),
      "doc_id").select("doc_id").as[Long].collect().toSet === Set(2L))
    assert(!new java.io.File(s"$dir/dd/corpus__layout").exists(),
      "dedup layout stamp leaked to the filesystem")

    // ---- bm25 family
    val bcat = new Catalog(spark, s"$dir/bm", kv)
    val idx = new Bm25Index(spark, bcat)
    idx.ingest(Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text"), 0L)
    intercept[Catalog.LayoutMismatch] {
      new Bm25Index(spark, new Catalog(spark, s"$dir/bm", kv),
        buckets = 32).ensure()
    }
    idx.delete(Seq(1L).toDF("doc_id"), idx.nextSeq)
    idx.compact()
    assert(idx.serve(Seq("alpha")).select("doc_id").as[Long].collect().toSet
      === Set(2L))
    assert(!new java.io.File(s"$dir/bm/postings__layout").exists())

    // ---- vector family
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 8L).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 2, m = 2, ksub = 4)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    val vcat = new Catalog(spark, s"$dir/vv", kv)
    Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
      vecs, model, nlist = 2, m = 2, ksub = 4)
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceVectors(new Catalog(spark, s"$dir/vv", kv),
        "codes", codesSchema, "codes_tomb",
        vecs.limit(1), model, nlist = 2, m = 2, ksub = 8)
    }
    assert(!new java.io.File(s"$dir/vv/codes__layout").exists())
  }

  test("a fenced op's data rows are scrubbed at compaction and serve stays exact") {
    // end-to-end fencing: the fenced writer's already-appended data
    // rows (attempt row, no commit row) must stay invisible to every
    // read, become garbage once a successor commits above them, be
    // PHYSICALLY scrubbed by the family compaction — and the served
    // result must be identical before and after the scrub. All three
    // families.
    val dir = Files.createTempDirectory("graft-fence-garbage").toString
    def pbkOf(c: org.apache.spark.sql.Column) =
      F.pmod(F.xxhash64(c), F.lit(16L)).cast("int")

    // ---- dedup family
    val dcat = new Catalog(spark, s"$dir/dd")
    val dforeign = new Catalog(spark, s"$dir/dd")
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "tomb",
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"))
    val dlog = new OpLog(spark, dcat, "corpus_ops", OpLog.countPayload)
    intercept[Catalog.WriterFenced] {
      dlog.withWriter(ttlMs = 1L) {
        val sv = dlog.nextBaseSeq
        dlog.beginAttempt(sv)
        dcat.appendPartitioned("corpus",
          Seq((9L, "ghost")).toDF("doc_id", "text")
            .withColumn("seq", F.lit(sv))
            .withColumn("pbk", pbkOf(F.col("doc_id"))), Seq("pbk"))
        Thread.sleep(10)
        dforeign.withMaintenanceLease("corpus_ops") {} // successor's window
        dlog.commitCount(sv, 1L) // FENCED — the ghost row stays uncommitted
      }
    }
    // a successor committing ABOVE the fenced seq turns it into garbage
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "tomb",
      Seq((3L, "gamma")).toDF("doc_id", "text"))
    def dedupLive = graft.operators.Tombstones.live(
      dlog.visible(dcat.readWithSchema("corpus", Streams.dedupCorpusSchema)),
      dlog.visible(dcat.readWithSchema("tomb", Streams.dedupTombSchema)),
      "doc_id").select("doc_id", "text")
    val dBefore = dedupLive.collect().map(_.toSeq).toSet
    assert(!dBefore.exists(_.head == 9L), "fenced row leaked into the live view")
    Streams.compactDocDedup(dcat, "corpus", "buckets", "tomb")
    assert(dcat.readWithSchema("corpus", Streams.dedupCorpusSchema)
      .filter(F.col("doc_id") === 9L).isEmpty,
      "fenced garbage row survived compaction physically")
    assert(dedupLive.collect().map(_.toSeq).toSet === dBefore,
      "dedup serve changed across the garbage scrub")

    // ---- bm25 family
    val bcat = new Catalog(spark, s"$dir/bm")
    val bforeign = new Catalog(spark, s"$dir/bm")
    val idx = new Bm25Index(spark, bcat)
    idx.ingest(Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text"), 0L)
    val blog = new OpLog(spark, bcat, "ops", Bm25Index.statsPayload)
    intercept[Catalog.WriterFenced] {
      blog.withWriter(ttlMs = 1L) {
        val sv = blog.nextBaseSeq
        blog.beginAttempt(sv)
        bcat.appendPartitioned("postings",
          Seq(("alpha", 9L, 5L, 5L)).toDF("term", "doc_id", "tf", "dl")
            .withColumn("seq", F.lit(sv))
            .withColumn("bk",
              F.pmod(F.xxhash64(F.col("term")), F.lit(64L)).cast("int")),
          Seq("bk"))
        Thread.sleep(10)
        bforeign.withMaintenanceLease("ops") {}
        blog.commit(sv, Seq((1L, 5L)).toDF("n_docs", "total_dl"))
      }
    }
    idx.ingest(Seq((3L, "beta")).toDF("doc_id", "text"), blog.nextBaseSeq)
    def bm25Serve = idx.serve(Seq("alpha"))
      .select("doc_id", "score").collect().map(_.toSeq).toSet
    val bBefore = bm25Serve
    assert(!bBefore.exists(_.head == 9L), "fenced posting leaked into serve")
    idx.compact()
    assert(bcat.readWithSchema("postings", Bm25Index.postSchema)
      .filter(F.col("doc_id") === 9L).isEmpty,
      "fenced posting survived compaction physically")
    assert(bm25Serve === bBefore, "bm25 serve changed across the garbage scrub")

    // ---- vector family
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 10L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 4, m = 4, ksub = 8)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    val vcat = new Catalog(spark, s"$dir/vv")
    val vforeign = new Catalog(spark, s"$dir/vv")
    Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
      vecs, model, nlist = 4, m = 4, ksub = 8)
    val vlog = new OpLog(spark, vcat, "codes_ops", OpLog.countPayload)
    intercept[Catalog.WriterFenced] {
      vlog.withWriter(ttlMs = 1L) {
        val sv = vlog.nextBaseSeq
        vlog.beginAttempt(sv)
        val ghost = vcat.readWithSchema("codes", codesSchema)
          .filter(F.col("seq") === 0L).limit(1)
          .withColumn("neighbor_id", F.lit(99L))
          .withColumn("seq", F.lit(sv))
          .withColumn("pbk", pbkOf(F.col("neighbor_id")))
        vcat.appendPartitioned("codes", ghost, Seq("pbk"))
        Thread.sleep(10)
        vforeign.withMaintenanceLease("codes_ops") {}
        vlog.commitCount(sv, 1L)
      }
    }
    Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
      vecs.limit(2), model, nlist = 4, m = 4, ksub = 8)
    def vectorLive = graft.operators.Tombstones.live(
      vlog.visible(vcat.readWithSchema("codes", codesSchema)),
      vlog.visible(vcat.readWithSchema("codes_tomb", Streams.vectorTombSchema)),
      "neighbor_id").select("neighbor_id", "cell").collect().map(_.toSeq).toSet
    val vBefore = vectorLive
    assert(!vBefore.exists(_.head == 99L), "fenced code leaked into the live view")
    Streams.compactVectorIndex(vcat, "codes", codesSchema, "codes_tomb")
    assert(vcat.readWithSchema("codes", codesSchema)
      .filter(F.col("neighbor_id") === 99L).isEmpty,
      "fenced code row survived compaction physically")
    assert(vectorLive === vBefore, "vector live view changed across the scrub")
  }

  // ----------------------------------------------------------- layout stamp

  test("layout stamp: reopening a family with a different hash modulus refuses loudly") {
    val dir = Files.createTempDirectory("graft-layout").toString
    // bm25: bk/rk values are hash % buckets — a 32-bucket reopen of a
    // 16-bucket index would miss every stored row in the pruned scans
    val i16 = new Bm25Index(spark, new Catalog(spark, s"$dir/bm"), buckets = 16)
    i16.ingest(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    val i32 = new Bm25Index(spark, new Catalog(spark, s"$dir/bm"), buckets = 32)
    intercept[Catalog.LayoutMismatch] {
      i32.ingest(Seq((2L, "gamma")).toDF("doc_id", "text"), 1L)
    }
    // the original modulus reopens and keeps working
    val again = new Bm25Index(spark, new Catalog(spark, s"$dir/bm"), buckets = 16)
    again.ingest(Seq((2L, "gamma alpha")).toDF("doc_id", "text"), 1L)
    assert(again.serve(Seq("alpha")).count() === 2L)
    // dedup family: pbk bakes in stateBuckets the same way
    val dcat = new Catalog(spark, s"$dir/dd")
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
      Seq((1L, "alpha")).toDF("doc_id", "text"), stateBuckets = 16)
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
        Seq((2L, "beta")).toDF("doc_id", "text"), stateBuckets = 32)
    }
  }

  test("layout stamp covers the LSH banding scheme, not just the hash modulus") {
    val dir = Files.createTempDirectory("graft-layout-lsh").toString
    // dedup: stored bucket rows' (band, bk) values are a function of
    // (shingleLen, numHashes, bands) — ingest at bands=4, reopen at
    // bands=8 would probe rows written under a different banding scheme
    // and silently admit near-duplicates of all prior content. Same
    // stateBuckets, so a modulus-only stamp would PASS here.
    val dcat = new Catalog(spark, s"$dir/dd")
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      numHashes = 64, bands = 4)
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
        Seq((2L, "other words here")).toDF("doc_id", "text"),
        numHashes = 64, bands = 8)
    }
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
        Seq((2L, "other words here")).toDF("doc_id", "text"),
        shingleLen = 3)
    }
    // the original scheme reopens and keeps serving
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
      Seq((2L, "second doc text")).toDF("doc_id", "text"),
      numHashes = 64, bands = 4)
    assert(graft.operators.Tombstones.live(
      dcat.readWithSchema("corpus", Streams.dedupCorpusSchema),
      dcat.readWithSchema("corpus_tomb", Streams.dedupTombSchema),
      "doc_id").count() === 2L)
    // vector: code rows bake in (nlist, m, ksub) — a reopen with a
    // different m would append codes of a different arity next to the
    // existing ones; same stateBuckets, so only the widened stamp trips
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 8L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 4, m = 4, ksub = 8)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    val vcat = new Catalog(spark, s"$dir/vv")
    Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
      vecs.limit(3), model, nlist = 4, m = 4, ksub = 8)
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
        vecs.limit(2), model, nlist = 4, m = 2, ksub = 8)
    }
  }

  test("a v1 layout stamp refuses and stays untouched on disk") {
    // No writer produces a v1 stamp ('dedup v1 stateBuckets=N' /
    // 'vector v1 stateBuckets=N'); one found on disk is an unknown
    // layout like any other mismatch: refuse, and leave it as it is.
    val dir = Files.createTempDirectory("graft-layout-v1").toString

    val dcat = new Catalog(spark, s"$dir/dd")
    Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"))
    val dstamp = java.nio.file.Paths.get(s"$dir/dd/corpus__layout")
    java.nio.file.Files.writeString(dstamp, "dedup v1 stateBuckets=16")
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceDocsInDedup(dcat, "corpus", "buckets", "corpus_tomb",
        Seq((2L, "second doc text")).toDF("doc_id", "text"))
    }
    assert(java.nio.file.Files.readString(dstamp) === "dedup v1 stateBuckets=16")

    val rnd = new scala.util.Random(13)
    val vecs = (0L until 6L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs, nlist = 4, m = 4, ksub = 8)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    val vcat = new Catalog(spark, s"$dir/vv")
    Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
      vecs.limit(3), model, nlist = 4, m = 4, ksub = 8)
    val vstamp = java.nio.file.Paths.get(s"$dir/vv/codes__layout")
    java.nio.file.Files.writeString(vstamp, "vector v1 stateBuckets=16")
    intercept[Catalog.LayoutMismatch] {
      Streams.replaceVectors(vcat, "codes", codesSchema, "codes_tomb",
        vecs.limit(2), model, nlist = 4, m = 4, ksub = 8)
    }
    assert(java.nio.file.Files.readString(vstamp) === "vector v1 stateBuckets=16")
  }
}
