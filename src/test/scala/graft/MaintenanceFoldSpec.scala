package graft

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.{Generations, OpLog}

/** Pins for the r22 maintenance-pass optimizations: the driver-side
  * forced-partition derivation must agree bit-for-bit with the writers'
  * partition expression, the snapshot-fed op-log folds must keep every
  * committed row (or their exact sums) and one attempt row per open
  * seq, the snapshot staleness guard must refuse a never-seen seq below
  * an open attempt, and lease delegation must extend fencing to worker
  * threads instead of silently no-opping it.
  */
class MaintenanceFoldSpec extends SparkSpec {
  import spark.implicits._

  test("idHashPartition matches pmod(xxhash64(id), buckets) bit-for-bit") {
    // the driver-side map replaces a probe JOB, so a single mismatch
    // would un-force a partition holding dead rows — ghosts resurrect
    for (buckets <- Seq(8, 16, 64)) {
      val f = Generations.idHashPartition(buckets)
      val ids = ((-3L to 1000L) ++ Seq(Long.MaxValue, Long.MinValue + 1,
        7919L * 7919L * 7919L)).toSeq
      val expr = ids.toDF("id").select(F.col("id"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(buckets.toLong)).cast("int")
          .as("p")).collect()
      expr.foreach { r =>
        assert(f(r.getLong(0)) === r.getInt(1).toString,
          s"id ${r.getLong(0)} buckets $buckets")
      }
      // ...and against the partition values Family.append stores, for a
      // table hashed by its long id and one hashed by a string term (the
      // serve-side bucket prune maps query terms the same way)
      val cat = new graft.sources.Catalog(spark,
        Files.createTempDirectory("graft-hashpart").toString)
      val family = Generations.Family(cat,
        new OpLog(cat, "t_ops", OpLog.countPayload), "t_tomb",
        StructType.fromDDL("id BIGINT, seq BIGINT"), "id",
        Seq(Generations.Stamped("ids", "p",
            StructType.fromDDL("id BIGINT, seq BIGINT, p INT"), "id", "id"),
          Generations.Stamped("terms", "p",
            StructType.fromDDL("id BIGINT, term STRING, seq BIGINT, p INT"), "id", "term")),
        stamp = Some(s"test buckets=$buckets"))
      family.ensure()
      family.append("ids", ids.toDF("id"), 0L)
      val terms = ids.map(i => (i, s"t$i")) ++ Seq(-1L -> "", -2L -> "日本語", -3L -> "a b")
      family.append("terms", terms.toDF("id", "term"), 0L)
      val stored = cat.readWithSchema("ids", family.tables.head.schema).collect()
      assert(stored.length === ids.size)
      stored.foreach { r =>
        assert(f(r.getLong(0)) === r.getInt(2).toString, s"stored id ${r.getLong(0)}")
      }
      val storedTerms = cat.readWithSchema("terms", family.tables(1).schema).collect()
      assert(storedTerms.length === terms.size)
      storedTerms.foreach { r =>
        val t = r.getString(1)
        assert(Generations.hashPartition(buckets, UTF8String.fromString(t), StringType)
          === r.getInt(3), s"stored term '$t'")
        assert(family.partitionOf("terms", t) === r.getInt(3), s"term '$t'")
      }
    }
  }

  test("compactFromSnapshot preserves exactly what the job-form fold did") {
    val dir = Files.createTempDirectory("graft-foldsnap").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val log = new OpLog(cat, "t_ops",
      graft.streaming.Bm25Index.statsPayload)
    log.ensure()
    // committed 0 and 2, abandoned 1 (below HWM), open in-flight 3,
    // duplicate attempt rows for 3 (replays) — the full zoo
    log.beginAttempt(0L)
    log.commitValues(0L, Seq(Some(3L), Some(30L)))
    log.beginAttempt(1L)
    log.beginAttempt(2L)
    log.commitValues(2L, Seq(Some(5L), Some(50L)))
    log.beginAttempt(3L)
    log.beginAttempt(3L)
    def sums = {
      val r = log.rows.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0L)),
        F.coalesce(F.sum("total_dl"), F.lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    log.compact(log.snapshot())
    def opsFiles = new java.io.File(s"$dir/wh/t_ops").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(opsFiles === 1, "the folded log must be one file")
    assert(sums === ((8L, 80L)), "the additive payload sum must not move")
    val snap = log.snapshot()
    assert(snap.maxSeq === Some(3L))
    assert(snap.replayState(0L) === ((true, true)) &&
      snap.replayState(2L) === ((true, true)))
    assert(snap.replayState(1L) === ((false, true)),
      "abandoned attempts are KEPT by the plain fold (sidecar-table safety)")
    assert(snap.replayState(3L) === ((false, true)),
      "the open attempt must survive, collapsed to one row")
    assert(log.rows.count() === 4L, "2 committed + 2 surviving attempts")

    // checkpoint: summary at the committed HWM + open rows
    log.checkpoint(log.snapshot())
    assert(log.rows.count() === 3L, "summary + two open attempts")
    val s = log.rows.filter(F.col("n_docs").isNotNull).head()
    assert(s.getLong(0) === 2L && s.getLong(1) === 8L && s.getLong(2) === 80L,
      "summary at committed HWM carrying the exact column-wise sums")
    assert(sums === ((8L, 80L)))
    assert(log.snapshot().maxSeq === Some(3L))
  }

  test("snapshot replayState refuses a never-seen seq below an OPEN attempt's mark") {
    // ADVICE r21: under the snapshot's seq<=maxSeq visibility ceiling a
    // never-seen seq in (committedHwm, maxSeq] would see its own
    // uncommitted appends mid-op — refuse it like any stale seq
    val dir = Files.createTempDirectory("graft-snapguard").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    val log = new OpLog(cat, "t_ops", OpLog.countPayload)
    log.ensure()
    log.beginAttempt(0L)
    log.commitCount(0L, 1L)
    log.beginAttempt(5L) // open attempt, maxSeq = 5, committedHwm = 0
    val snap = log.snapshot()
    assert(snap.replayState(5L) === ((false, true)), "open attempts replay")
    assert(snap.replayState(6L) === ((false, false)), "fresh seqs pass")
    val ex = intercept[IllegalStateException](snap.replayState(3L))
    assert(ex.getMessage.contains("high-water mark"))
  }

  test("runDelegated workers fence against the principal's family lease") {
    val dir = Files.createTempDirectory("graft-delegate").toString
    val cat = new graft.sources.Catalog(spark, s"$dir/wh")
    cat.withMaintenanceLease("fam_ops") {
      // healthy lease: a delegated fence passes (same view as owner)
      cat.runDelegated(Seq(() => cat.fenceHeldLeases()))
      assert(!cat.leaseHeldByOtherThread("fam_ops"),
        "the owning thread is not 'other'")
      var delegateSeesOther = true
      cat.runDelegated(Seq(() => {
        delegateSeesOther = cat.leaseHeldByOtherThread("fam_ops")
      }))
      assert(!delegateSeesOther,
        "a delegate resolves to its principal for ownership questions")
      // break the lease out from under the owner: the DELEGATED fence
      // must refuse like the owner would (pre-delegation it silently
      // no-opped — the worker held no leases of its own)
      val p = new org.apache.hadoop.fs.Path(s"$dir/wh/fam_ops__lease")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(p, false)
      val out = fs.create(p, true)
      out.write(s"intruder ${System.currentTimeMillis() + 60000}".getBytes)
      out.close()
      val ex = intercept[graft.sources.Catalog.WriterFenced] {
        cat.runDelegated(Seq(() => cat.fenceHeldLeases()))
      }
      assert(ex.getMessage.contains("another holder"))
      // restore our lease so the span's release path stays clean
      fs.delete(p, false)
    }
  }
}
