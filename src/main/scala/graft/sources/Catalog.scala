package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table lifecycle for the staging / historical / summary layer
  * (reference S5/S6/S7).
  *
  * The reference keeps its tables in Postgres; we keep them as parquet
  * tables under a warehouse root. Semantics preserved:
  *  - `CREATE TABLE IF NOT EXISTS` with a fixed schema ahead of data
  *    (src/sqls/create_objects.sql:2-19)  -> [[ensureTable]]
  *  - `TRUNCATE TABLE`                    -> [[truncate]] (a zero-row file
  *    written in from the driver, then the old files deleted)
  *  - materialized-view refresh           -> recompute + [[overwrite]]
  *
  * Scale note: every data write goes through Spark's commit protocol, so a
  * 1000-executor append is atomic per job; the zero-row files of
  * [[ensureTable]] and [[truncate]] and the op log's one-row appends are
  * written from the driver instead ([[writeFileDriverSide]]), a file
  * each, renamed in whole. `refreshByPath` after overwrite
  * keeps any cached file listings coherent. That protocol creates a few
  * files and directories per task; on `file:` warehouses the session's
  * [[NioLocalFileSystem]] sets their permissions in-process instead of
  * forking `chmod` for each (see [[graft.GraftSession]]).
  *
  * Open (not final) so fault-injection tests can override [[append]] to
  * kill a pipeline inside a multi-write crash window (the streaming
  * dedup index-first protocol's kill test).
  */
class Catalog(
    val spark: SparkSession,
    warehouse: String,
    // every lease/break/fence/swap atomic goes through here — swap in
    // a conditional-put or external-lock coordinator for object stores
    // (see [[CommitCoordinator]]); the default is correct on HDFS-like
    // stores and the local filesystem
    coordinator: CommitCoordinator = CommitCoordinator.fileAtomics,
    // TTL for SWAP-WINDOW markers (begin/endSwap around replaceTable /
    // compactPartitioned publishes): past it a marker is treated as a
    // crashed swapper's and healed. Sized to the MAINTENANCE-OP bound
    // (the lease default), NOT the rename phase: the marker covers the
    // staged write too, and a data-sized staging job outrunning a
    // short TTL would let a healer discard a live stage mid-write. The
    // phase flip ([[markSwapPhase]]) refreshes the expiry, so the
    // rename window always runs under a fresh TTL, and a writer whose
    // marker was healed away (staging outran even this bound) is
    // FENCED at the flip rather than renaming over a successor. Short
    // values are for crash-heal tests only.
    swapTtlMs: Long = 15 * 60 * 1000L) {

  def path(table: String): String = s"$warehouse/$table"

  /** Sibling dirs of `table` whose name starts with `<table><marker>` —
    * the staging dirs of replace/compaction passes, HOLDER-UNIQUE since
    * v2 (suffix = the writer's holder id), so a fenced writer's stage
    * can never be confused with, overwritten by, or swapped in as a
    * successor's. Matches the legacy fixed names too (pure prefix). */
  private def stagingSiblings(
      table: String, marker: String): Seq[org.apache.hadoop.fs.Path] = {
    val live = new org.apache.hadoop.fs.Path(path(table))
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val parent = live.getParent
    val prefix = live.getName + marker
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(prefix)).toSeq
  }


  def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** CREATE TABLE IF NOT EXISTS, without a Spark job: the table appears
    * holding one zero-row parquet file of the declared schema, so even a
    * schema-inferring reader never finds it empty. The file is written
    * into a hidden sibling directory that is then renamed into place, so
    * a crash leaves either no table or a readable one.
    */
  def ensureTable(table: String, schema: StructType): Unit = {
    val live = new Path(path(table))
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(live)) {
      val tmp = new Path(live.getParent, s".${live.getName}.creating-${UUID.randomUUID()}")
      writeFileDriverSide(tmp, schema)
      // false: a concurrent creator won, and its table stands
      if (!fs.rename(tmp, live)) fs.delete(tmp, true)
    }
  }

  /** CREATE TABLE IF NOT EXISTS for a hive-partitioned table: its
    * directory. Readers supply the declared schema via [[readWithSchema]],
    * so an empty partitioned table needs no file (a root data file would
    * conflict with partition discovery).
    */
  def ensurePartitionedTable(table: String): Unit = {
    val p = new Path(path(table))
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
  }

  /** Writes one parquet file of `schema` holding `rows` (BIGINT columns
    * only; none for a schema-only file) into `dir`, from the driver and
    * without a Spark job: a dot-prefixed temp, invisible to every Spark
    * listing, renamed to a visible part file, so the file appears whole
    * or not at all. The footer carries the Spark schema under the key
    * Spark's own writer uses, so schema inference reads back `schema`.
    * Returns the part file.
    */
  private[graft] def writeFileDriverSide(
      dir: Path, schema: StructType, rows: Seq[Seq[Option[Long]]] = Nil): Path = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val uuid = UUID.randomUUID()
    val tmp = new Path(dir, s".part-$uuid.inprogress")
    val dst = new Path(dir, s"part-$uuid-driver.snappy.parquet")
    // the converter's Configuration constructor reads SQL keys that a
    // session Hadoop conf does not carry ("null".toBoolean throws)
    val mt = new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(mt)
      .withExtraMetaData(java.util.Map.of(ParquetReadSupport.SPARK_METADATA_KEY, schema.json))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(mt)
      schema.fields.zip(r).foreach { case (f, v) => v.foreach(g.add(f.name, _)) }
      w.write(g)
    } finally w.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"driver-side parquet rename failed: $tmp -> $dst")
    dst
  }

  def read(table: String): DataFrame = spark.read.parquet(path(table))

  /** Read with the declared schema — required for partitioned tables that
    * may be empty (no files to infer from), and generally the
    * schema-first discipline the reference argues for (README.md:35-43).
    */
  def readWithSchema(table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(table))

  def append(table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path(table))

  /** Append into a hive-style partitioned layout. At scale, partition
    * columns are what turn full-table scans into pruned ones (see
    * Upsert.newRowsPruned); dynamic partition overwrite is left to
    * callers who need idempotent re-writes per partition.
    *
    * `clusterInto`: repartition by the partition columns into exactly
    * that many shuffle partitions before the write — each output
    * partition value then lands in ONE task, so an append produces one
    * file per partition value instead of (tasks × values) small files.
    * Without it a W-task append into a B-way bucketed table writes up
    * to W×B files PER OP (thousands per day in production), all of
    * which the next compaction pays to rewrite; with it the file count
    * is bounded by B and the writer tasks run in parallel. Callers pass
    * min(session shuffle partitions, bucket count). `sortWithin` adds
    * within-file clustering columns (e.g. `term` for postings row-group
    * pruning) — appended AFTER the partition columns so the writer's
    * own partition-sort requirement is already satisfied and no second
    * sort runs inside FileFormatWriter.
    */
  def appendPartitioned(
      table: String,
      df: DataFrame,
      partitionCols: Seq[String],
      clusterInto: Option[Int] = None,
      sortWithin: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val out = clusterInto match {
      case Some(n) =>
        val p = df.repartition(n, partitionCols.map(col): _*)
        if (sortWithin.nonEmpty)
          p.sortWithinPartitions((partitionCols ++ sortWithin).map(col): _*)
        else p
      case None => df
    }
    out.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path(table))
  }

  def overwrite(table: String, df: DataFrame): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path(table))
    spark.catalog.refreshByPath(path(table))
  }

  /** Overwrite into a hive-partitioned layout. With `dynamic = true`
    * only the partitions PRESENT in `df` are replaced (Spark's dynamic
    * partition overwrite) — the primitive behind incremental
    * materialized-view refresh: recompute the touched partitions,
    * leave the rest untouched on disk.
    */
  def overwritePartitioned(
      table: String,
      df: DataFrame,
      partitionCols: Seq[String],
      dynamic: Boolean = false): Unit = {
    df.write
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path(table))
    spark.catalog.refreshByPath(path(table))
  }

  /** Crash-safe whole-table REPLACE for a flat (unpartitioned) table —
    * the table-level analogue of [[compactPartitioned]]'s per-partition
    * stage-and-swap, for maintenance rewrites of the small sidecar
    * tables (tombstone application to a doc registry, folding an
    * additive stats table). NOT for data-sized tables: those should be
    * partitioned so rewrites stay partition-local.
    *
    * Protocol: stage the new content to a HOLDER-UNIQUE
    * `<table>__replacing.<holder>` (a normal Spark job,
    * `_SUCCESS`-marked on completion — and materialized BEFORE any
    * rename, so `df` may read from the live table), move the live dir
    * aside to `<table>__replaced`, move the stage in, drop the aside.
    * The holder-unique stage means a writer fenced mid-pass (TTL
    * overrun) can never have its stage overwritten by — or swapped in
    * as — a successor's: each writer only ever swaps its OWN stage,
    * and a fenced writer's orphaned stage is healed away as garbage.
    * Fenced twice: BEFORE the staging job (don't pay a doomed write)
    * and again before the swap (the staging job may have outrun the
    * TTL). [[recoverReplace]] (run on entry) heals every crash window
    * — at least one complete copy is addressable at every instant.
    */
  def replaceTable(table: String, df: DataFrame): Unit = {
    recoverReplace(table)
    val live = new org.apache.hadoop.fs.Path(path(table))
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(
      path(table) + "__replacing." + leaseHolder)
    val aside = new org.apache.hadoop.fs.Path(path(table) + "__replaced")
    // early fence: a lease already lost means the staging job below is
    // wasted work and its output immediate garbage — refuse up front
    fenceHeldLeases()
    // SWAP WINDOW, opened BEFORE the staging job: a concurrent heal
    // (another client's crash-window recovery at ITS entry) must see
    // this publish as in-flight and keep its hands off the staging —
    // pre-r17 a racing heal could delete a live writer's stage and
    // abort the op (documented then, surfaced by SwapConsistencySpec's
    // concurrent-serve test, closed now). The marker opens in "stage"
    // phase, which readers ignore (live tables untouched until the
    // renames); [[markSwapPhase]] flips it just before the first
    // rename. The manifest (pre-swap live tree) is stable through
    // staging because this is the scope's single writer.
    beginSwap(fs, table, treeDigest(fs, live), () => recoverReplace(table))
    try {
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      // as-late-as-possible fence: the staging job above may have
      // outrun a lease TTL — refuse the swap rather than clobber a
      // successor
      fenceHeldLeases()
    } catch { case t: Throwable =>
      // nothing renamed yet: heal our own marker immediately (live
      // matches the manifest by construction) instead of leaving the
      // family blocked until the TTL
      inFlightSwaps.remove(table)
      try recoverReplace(table)
      catch { case scala.util.control.NonFatal(_) => () }
      throw t
    }
    // From here every failure LEAVES the marker: rename=false is
    // ambiguous under non-atomic rename (the failure may have torn
    // live), so readers stay fenced off until recovery compares
    // manifests — fail-safe beats fail-open. (The in-process in-flight
    // mark still clears, so this instance's next entry can heal.)
    try {
      markSwapPhase(fs, table)
      if (fs.exists(live) && !coordinator.rename(fs, live, aside))
        throw new java.io.IOException(
          s"replaceTable move-aside failed for $table — swap marker left " +
            "for recovery to heal")
      if (!coordinator.rename(fs, staging, live))
        throw new java.io.IOException(
          s"replaceTable swap failed for $table — staged data left at " +
            s"$staging, swap marker left for recovery to heal")
      endSwap(fs, table)
    } finally inFlightSwaps.remove(table)
    coordinator.delete(fs, aside, true)
    spark.catalog.refreshByPath(path(table))
  }

  /** Heal any [[replaceTable]] crash window (idempotent; also safe when
    * no replace was ever attempted).
    *
    * Reader-side heals vs an IN-FLIGHT replace: heals run at every
    * read/append entry, so one can race a live [[replaceTable]] rather
    * than a crashed one. Every interleaving is DATA-safe — at least
    * one complete copy stays addressable, and the heal either discards
    * a stage the writer will fail loudly over, or completes the swap
    * the writer was about to do (the writer then reports a spurious
    * failure for an op that actually landed; retrying is idempotent).
    * What a racing heal CAN do is abort the maintenance op — under
    * continuous serve traffic, schedule replaces (tombstone clears,
    * op-log folds) in the same single-writer maintenance windows as
    * compaction, which is the discipline this family documents
    * everywhere. */
  def recoverReplace(table: String, lenient: Boolean = false): Unit = {
    val live = new org.apache.hadoop.fs.Path(path(table))
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val aside = new org.apache.hadoop.fs.Path(path(table) + "__replaced")
    // SWAP-MARKER healing (non-atomic-rename stores): a marker present
    // here is a swap that never closed. Unexpired + foreign = a LIVE
    // writer mid-swap — touching its aside/stages would sabotage it,
    // so leave everything alone (the old racing-heal caveat, now
    // detected instead of documented). Expired (or our own — this
    // entry IS the table's single writer now) = crashed: the manifest
    // digest recorded at beginSwap decides which copy is the complete
    // original, which the filesystem alone cannot (a copy-then-delete
    // rename can die leaving live OR aside partial).
    readSwapMarker(fs, table) match {
      case Some((h, exp, _, _))
          if exp >= System.currentTimeMillis() &&
            (h != leaseHolder || inFlightSwaps.contains(table)) =>
        // a FOREIGN publish within its TTL: in flight (or crashed
        // moments ago). WRITE entries must refuse loudly — appending
        // under it would poison the manifest comparison. READ entries
        // (`lenient`, e.g. a serve's crash-window heal) skip instead:
        // an in-flight marker means nothing is crashed from THEIR
        // perspective, the owner (or its TTL) heals, and live tables
        // are intact through the whole stage phase
        if (lenient) return
        throw new Catalog.SwapInFlight(
          s"a swap of '$table' by holder $h is within its TTL — retry " +
            "after it closes or expires")
      case Some(_) =>
        // EXPIRED (or own stale) marker: the heal below is DESTRUCTIVE
        // (delete-then-rename on digest decisions computed up front), so
        // exactly one healer may run it — claim the heal key first; a
        // loser's concurrent heal would destroy both copies (see
        // [[acquireHealClaim]])
        if (!acquireHealClaim(fs, table)) {
          if (lenient) return
          throw new Catalog.SwapInFlight(
            s"another healer holds the heal claim for '$table' — its " +
              "heal is in flight; retry after it completes or its claim " +
              "expires")
        }
        try {
          // re-read UNDER the claim: between our first read and the
          // claim, the predecessor may have finished the heal (marker
          // gone) or a new writer begun a fresh swap (unexpired foreign)
          readSwapMarker(fs, table) match {
            case Some((h2, exp2, _, _))
                if exp2 >= System.currentTimeMillis() &&
                  (h2 != leaseHolder || inFlightSwaps.contains(table)) =>
              if (lenient) return
              throw new Catalog.SwapInFlight(
                s"a swap of '$table' by holder $h2 began while claiming " +
                  "its heal — retry after it closes or expires")
            case Some((_, _, _, manifest)) =>
              if (treeDigest(fs, live) == manifest) {
                // live IS the pre-swap original (died before/mid
                // move-aside): drop the partial aside remnant; the op
                // never landed, replays
                coordinator.delete(fs, aside, true)
              } else if (treeDigest(fs, aside) == manifest) {
                // aside holds the complete original; live is partial
                // (died mid move-aside delete phase, mid move-in copy)
                // or the complete new generation (died inside endSwap)
                // — roll BACK, the unambiguous heal: the op never
                // returned, so it replays
                coordinator.delete(fs, live, true)
                if (!coordinator.rename(fs, aside, live))
                  throw new java.io.IOException(
                    s"swap-crash roll-back failed for $table")
              } else if (manifest == "-") {
                // first-ever publish: no original existed — drop the
                // partial live remnant; the roll-forward below
                // republishes a complete (_SUCCESS-marked) stage
                coordinator.delete(fs, live, true)
              } else {
                throw new java.io.IOException(
                  s"swap-crash state for $table matches neither the " +
                    "recorded manifest (live or aside) nor a first-ever " +
                    "publish — refusing to guess; inspect " +
                    "__replaced/__replacing siblings")
              }
              bumpSwapGen(fs, table) // readers spanning the heal invalidate
              coordinator.delete(fs, swapMarkerPath(table), false)
            case None => () // predecessor healed it; nothing left to do
          }
        } finally releaseHealClaim(fs, table)
      case None => ()
    }
    // The tail below acts DESTRUCTIVELY (rollback renames, stage
    // sweeps) on probes taken after the marker check above — but a
    // publish that begins in between writes its marker BEFORE staging
    // (beginSwap precedes the staged write in both replaceTable and
    // compactPartitioned), so a stale "no marker" read here could
    // sweep a LIVE writer's stage or roll its move-aside back from
    // under it (observed: a lenient OpLog-read heal deleting a
    // concurrent compact's staged replaceTable dir, aborting the op).
    // Re-read at decision time: every window in which a stage is live
    // or the live dir is mid-rename is covered by an unexpired marker,
    // plus the in-process mark when the writer shares this Catalog.
    if (inFlightSwaps.contains(table) ||
        readSwapMarker(fs, table).exists(_._2 >= System.currentTimeMillis())) {
      if (lenient) return
      throw new Catalog.SwapInFlight(
        s"a publish of '$table' began during its recovery scan — retry " +
          "after it closes or expires")
    }
    if (!fs.exists(live)) {
      if (fs.exists(aside)) {
        // roll BACK: the unambiguous heal. With holder-unique stages a
        // fenced writer's orphaned stage can coexist with the crashed
        // swapper's — picking a stage to roll FORWARD would have to
        // guess whose; restoring the aside always reinstates the exact
        // pre-op state, and the crashed op (never committed — the
        // commit row lands after replaceTable returns) replays.
        if (!coordinator.rename(fs, aside, live)) throw new java.io.IOException(
          s"replaceTable recovery roll-back failed for $table")
      } else {
        // no aside: a FIRST-EVER replace (nothing to move aside)
        // crashed before its swap-in — roll forward a complete
        // (_SUCCESS-marked) stage so the table appears. Tie-break by
        // EVIDENCE first, mtime second: a holder with a fenced
        // tombstone on record (its lease was broken by a contender —
        // [[withMaintenanceLease]].breakStale persists the identity at
        // the break) is excluded outright, so a fenced first-writer's
        // stage can never beat the legitimate successor's just by
        // having finished staging later. Among the remaining
        // (non-fenced) candidates newest-mtime still decides; legacy
        // fixed-name stages carry no holder and are never excluded.
        // Under the op-log-driven flows this is belt-and-suspenders
        // (the successor's op never committed, so replay redoes it);
        // for bare-replaceTable callers it closes the documented
        // fenced-content window.
        val complete = stagingSiblings(table, "__replacing")
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          .filterNot { p =>
            val name = p.getName
            val sep = name.lastIndexOf("__replacing.")
            sep >= 0 && {
              val holder = name.substring(sep + "__replacing.".length)
              holder.nonEmpty && isFencedHolder(fs, holder)
            }
          }
        if (complete.nonEmpty) {
          val fwd = complete.maxBy(p => fs.getFileStatus(p).getModificationTime)
          if (!coordinator.rename(fs, fwd, live)) throw new java.io.IOException(
            s"replaceTable recovery roll-forward failed for $table")
        }
      }
    }
    if (fs.exists(live)) {
      // re-read IMMEDIATELY before each destructive delete (ADVICE r21):
      // a publish that began after the tail's entry check writes its
      // marker BEFORE staging, so a per-delete marker read closes the
      // window in which its fresh stage (or live move-aside) could be
      // swept — the residual exposure shrinks from "everything since the
      // tail entered" to the microseconds between this read and the
      // delete, which only a compare-and-swap store (the
      // [[CommitCoordinator]] seam) can remove entirely.
      def publishBegan(): Boolean =
        inFlightSwaps.contains(table) ||
          readSwapMarker(fs, table).exists(_._2 >= System.currentTimeMillis())
      def guardedDelete(p: org.apache.hadoop.fs.Path): Boolean =
        if (publishBegan()) {
          if (lenient) false
          else throw new Catalog.SwapInFlight(
            s"a publish of '$table' began during its recovery sweep — " +
              "retry after it closes or expires")
        } else { coordinator.delete(fs, p, true); true }
      if (guardedDelete(aside))
        stagingSiblings(table, "__replacing").forall(guardedDelete)
    }
  }

  /** Heal any [[compactPartitioned]] crash window, then discard the
    * staging directory. The swap phase only starts after the staged
    * write completes, so any partition dir still in staging whose LIVE
    * counterpart is missing is a complete compacted copy orphaned
    * between move-aside and move-in — restore it before anything reads
    * or re-appends the table. (A crash mid-write leaves every live dir
    * intact, so the restore condition never matches partial data; the
    * remaining staging content is then a discardable dead stage.)
    *
    * MUST run before a table that may hold a crashed compaction is
    * read, probed, or appended — a probe that runs first would miss the
    * orphaned partition's rows entirely, and an append could recreate
    * the partition dir, making the orphan look mid-write forever.
    * [[compactPartitioned]] calls it at entry; op-protocol replay paths
    * (Bm25Index.scrubOp and kin) call it BEFORE their per-seq probes.
    * Idempotent; safe when no compaction was ever attempted. Assumes
    * the documented single-writer maintenance discipline (a concurrent
    * live compaction's staging would be discarded as a dead stage).
    */
  def recoverCompaction(table: String, partitionCol: String,
      lenient: Boolean = false): Unit = {
    val root = new org.apache.hadoop.fs.Path(path(table))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // SWAP-MARKER healing (see [[recoverReplace]] for the posture): a
    // marker here is a compaction swap loop that never closed. Foreign
    // and within TTL -> refuse loudly (appending under it would poison
    // the manifest comparison). Expired or our own -> heal: the staged
    // manifest written before the first rename decides, PER PARTITION,
    // whether the staged rewrite landed (drop the source remnant),
    // didn't (roll it forward — the staged content is the
    // row-equivalent of the old under `transform`), or was an
    // intentional emptying (complete the removal). All states converge:
    // a heal interrupted mid-rename re-enters the same branches.
    readSwapMarker(fs, table) match {
      case Some((h, exp, _, _))
          if exp >= System.currentTimeMillis() &&
            (h != leaseHolder || inFlightSwaps.contains(table)) =>
        if (lenient) return // see recoverReplace — read entries skip
        throw new Catalog.SwapInFlight(
          s"a compaction swap of '$table' by holder $h is within its " +
            "TTL — retry after it closes or expires")
      case Some(_) =>
        // EXPIRED (or own stale) marker: destructive heal — claim first
        // (see [[acquireHealClaim]]; same posture as recoverReplace)
        if (!acquireHealClaim(fs, table)) {
          if (lenient) return
          throw new Catalog.SwapInFlight(
            s"another healer holds the heal claim for '$table' — its " +
              "heal is in flight; retry after it completes or its claim " +
              "expires")
        }
        try {
          readSwapMarker(fs, table) match {
            case Some((h2, exp2, _, _))
                if exp2 >= System.currentTimeMillis() &&
                  (h2 != leaseHolder || inFlightSwaps.contains(table)) =>
              if (lenient) return
              throw new Catalog.SwapInFlight(
                s"a compaction swap of '$table' by holder $h2 began " +
                  "while claiming its heal — retry after it closes or " +
                  "expires")
            case Some((h2, _, _, _)) =>
              val staging = new org.apache.hadoop.fs.Path(
                path(table) + "__compacting." + h2)
              val manifest = new org.apache.hadoop.fs.Path(staging, "__manifest")
              // parse the WHOLE manifest before acting on any line: the
              // manifest is staged (and only then renamed from) BEFORE
              // the first swap rename, so a malformed line — a crash
              // mid-write tearing the tail — means the manifest was
              // never complete and NOTHING was renamed; the stage is
              // died-during-staged-write garbage. Acting line-by-line
              // and discovering the tear mid-iteration would have
              // already rolled staged partitions forward for a swap
              // that never started.
              val parsed: Option[Seq[(String, String)]] =
                coordinator.readSmall(fs, manifest).flatMap { txt =>
                  val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
                  val split = lines.map(_.split(" ", 2))
                  if (split.forall(_.length == 2))
                    Some(split.map(a => (a(0), a(1))))
                  else None
                }
              if (parsed.isEmpty)
                // absent OR torn manifest: died during the STAGED WRITE
                // (the marker covers it) — nothing was renamed, live
                // tables are intact, the partial stage is pure garbage
                coordinator.delete(fs, staging, true)
              parsed.foreach { entries =>
                entries.foreach { case (encValue, digest) =>
                  val dir = s"$partitionCol=" +
                    java.net.URLDecoder.decode(encValue, "UTF-8")
                  val src = new org.apache.hadoop.fs.Path(staging, dir)
                  val dst = new org.apache.hadoop.fs.Path(root, dir)
                  val old = new org.apache.hadoop.fs.Path(staging, s"__old__$dir")
                  if (digest == "EMPTY") {
                    coordinator.delete(fs, dst, true)
                    coordinator.delete(fs, old, true)
                  } else if (treeDigest(fs, dst) == digest) {
                    coordinator.delete(fs, src, true)
                    coordinator.delete(fs, old, true)
                  } else if (treeDigest(fs, src) == digest) {
                    coordinator.delete(fs, dst, true)
                    if (!coordinator.rename(fs, src, dst))
                      throw new java.io.IOException(
                        s"compaction swap-crash roll-forward failed for $dir")
                    coordinator.delete(fs, old, true)
                  } else throw new java.io.IOException(
                    s"compaction swap-crash state for $dir matches neither " +
                      "the live nor the staged manifest digest — refusing " +
                      "to guess")
                }
                coordinator.delete(fs, staging, true)
              }
              bumpSwapGen(fs, table)
              coordinator.delete(fs, swapMarkerPath(table), false)
            case None => () // predecessor healed it; nothing left to do
          }
        } finally releaseHealClaim(fs, table)
      case None => ()
    }
    // every surviving stage (crashed writers AND fenced ones — stages
    // are holder-unique) is scanned: orphaned partitions restore, the
    // rest is dead-stage garbage.
    // Decision-time in-flight re-check first (see [[recoverReplace]]'s
    // tail): a compaction that began after the marker probe above has
    // a live stage this sweep would otherwise delete — its marker
    // (written at beginSwap, before the staged write) is the signal.
    if (inFlightSwaps.contains(table) ||
        readSwapMarker(fs, table).exists(_._2 >= System.currentTimeMillis())) {
      if (lenient) return
      throw new Catalog.SwapInFlight(
        s"a compaction of '$table' began during its recovery scan — " +
          "retry after it closes or expires")
    }
    stagingSiblings(table, "__compacting").foreach { staging =>
      fs.listStatus(staging)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
        .foreach { st =>
          val live = new org.apache.hadoop.fs.Path(root, st.getPath.getName)
          if (!fs.exists(live) && !coordinator.rename(fs, st.getPath, live))
            throw new java.io.IOException(
              s"compaction recovery failed restoring ${st.getPath} to $live")
        }
      // re-read IMMEDIATELY before the destructive stage delete (ADVICE
      // r21): a compaction that began after the sweep's entry check
      // writes its marker BEFORE staging, so this per-delete read closes
      // the window in which its fresh stage could be swept; the residual
      // exposure is the microseconds to the delete, removable only by a
      // compare-and-swap store (the [[CommitCoordinator]] seam).
      if (inFlightSwaps.contains(table) ||
          readSwapMarker(fs, table).exists(_._2 >= System.currentTimeMillis())) {
        if (lenient) return
        throw new Catalog.SwapInFlight(
          s"a compaction of '$table' began during its recovery sweep — " +
            "retry after it closes or expires")
      }
      coordinator.delete(fs, staging, true)
    }
  }

  /** True when `bytes` is at most `spark.sql.files.openCostInBytes`, the
    * size Spark already charges as one file open: below it a split costs
    * more than the work it spreads, so a dedup, aggregate, join or
    * rewrite over such an input runs in one task, with no exchange and
    * no job of its own. The one size rule of the trip ETL's staging,
    * hist and view-refresh scans and of [[compactPartitioned]].
    */
  private[graft] def fitsOneTask(bytes: BigInt): Boolean =
    bytes <= spark.sessionState.conf.filesOpenCostInBytes

  /** [[fitsOneTask]] on `scan`'s estimated (partition-pruned) size. */
  private[graft] def fitsOneTask(scan: DataFrame): Boolean =
    fitsOneTask(scan.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** `scan` in one partition when it [[fitsOneTask]]; larger scans keep
    * their plan.
    */
  private[graft] def oneTaskIfSmall(scan: DataFrame): DataFrame =
    if (fitsOneTask(scan)) scan.coalesce(1) else scan

  /** Small-file compaction for a hive-partitioned table. Repeated
    * incremental appends / dynamic-partition overwrites accrete one file
    * per task per batch; over months a hot date partition holds
    * thousands of tiny files and every scan pays their open/seek cost.
    *
    * Rewrites ONLY partitions whose data-file count exceeds
    * `maxFilesPerPartition`, each to ceil(bytes / targetFileBytes)
    * files. The rewrite is stage-and-swap: compacted partitions are
    * written to a sibling staging directory (a normal distributed
    * parquet job — no driver materialization, no read-overwrite cycle
    * on the table path), then swapped in with per-partition renames —
    * the unit of visibility is one partition, same as dynamic partition
    * overwrite. Untouched partitions are never read or rewritten, so
    * compaction cost tracks the accreted partitions, not table size.
    *
    * `transform` is applied to the rows of every REWRITTEN partition —
    * the hook tombstone application rides on (drop dead generations
    * while the partition is being rewritten anyway). It must be
    * row-filtering only (same schema out). `forceValues` names
    * partitions rewritten regardless of file count — the partitions
    * known to hold rows `transform` would drop. A selected partition
    * whose rows ALL vanish under `transform` has its directory removed
    * (the staged write produces no output for it).
    *
    * @return the partition values that were compacted
    */
  def compactPartitioned(
      table: String,
      partitionCol: String,
      schema: StructType,
      maxFilesPerPartition: Int = 8,
      targetFileBytes: Long = 128L * 1024 * 1024,
      transform: DataFrame => DataFrame = identity,
      forceValues: Seq[String] = Nil): Seq[String] = {
    import org.apache.spark.sql.{functions => F}
    val root = new org.apache.hadoop.fs.Path(path(table))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val parts = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
    val toCompact = parts.flatMap { st =>
      val files = fs.listStatus(st.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val value = st.getPath.getName.substring(partitionCol.length + 1)
      // only values that round-trip dir-name -> column-string can be
      // re-selected and re-written safely: hive-escaped names (%xx) and
      // the null partition would filter zero rows yet swap the live
      // directory, so they are skipped rather than risked
      val roundTrips = !value.contains("%") && value != "__HIVE_DEFAULT_PARTITION__"
      if ((files.length > maxFilesPerPartition || forceValues.contains(value))
          && roundTrips && files.nonEmpty) Some((value, files.map(_.getLen).sum))
      else None
    }.toSeq
    if (toCompact.isEmpty) return Nil
    def filesFor(bytes: Long): Long =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    // one distributed job rewrites every accreted partition: filter
    // prunes the scan to those partitions; the (partition, slot) shuffle
    // key bounds output files per partition at its computed target
    val values = toCompact.map(_._1)
    val fileTarget = toCompact.foldLeft(F.lit(1)) { case (acc, (v, bytes)) =>
      F.when(F.col(partitionCol).cast("string") === v, F.lit(filesFor(bytes).toInt))
        .otherwise(acc)
    }
    // holder-unique stage (see [[replaceTable]]): a fenced compactor's
    // stage can never be swapped in by — or overwrite — a successor's
    val staging = new org.apache.hadoop.fs.Path(
      path(table) + "__compacting." + leaseHolder)
    recoverCompaction(table, partitionCol)
    // early fence: don't pay the staged rewrite if the lease is lost
    fenceHeldLeases()
    // SWAP WINDOW opened BEFORE the staged write (stage phase — readers
    // ignore it; see replaceTable): a concurrent lenient heal skips an
    // in-flight stage instead of deleting it, a strict (write-entry)
    // heal refuses loudly, and a crash during staging heals as pure
    // garbage (no __manifest yet => nothing was renamed)
    beginSwap(fs, table, "-", () => recoverCompaction(table, partitionCol))
    // Size the rewrite by the bytes selected. A selection that fits one
    // task and one output file ([[fitsOneTask]], at most
    // `targetFileBytes`) is read and written in a single coalesced task:
    // the writer sorts its rows by partition, so each partition gets
    // exactly one file, and no shuffle or second job runs. A larger one is
    // shuffled on (partition, __slot) into ceil(selected bytes /
    // targetFileBytes) tasks, so each task's working set is ~one output
    // file (~128 MB) at any scale. When that width exceeds the session's
    // shuffle parallelism it is pinned as the partition count — left to
    // the session default (the 8 the lifecycle twins run under, or 32 on
    // a cluster), a big compaction would pack totalBytes/N into each task
    // and grow toward the spill cliff. When it fits, the implicit form
    // lets AQE coalesce the shuffle by bytes: a pinned count disables that
    // coalescing (measured 2x on the many-tiny-partition vector lifecycle
    // at sf0.1). The per-partition output-file bound (<= its target count,
    // however many groups share a task) holds on every branch.
    val selectedBytes = toCompact.map(_._2).sum
    val width = filesFor(selectedBytes)
    val sessionParallelism = spark.sessionState.conf.numShufflePartitions
    def sized(df: DataFrame): DataFrame =
      if (fitsOneTask(selectedBytes) && selectedBytes <= targetFileBytes) df.coalesce(1)
      else {
        val slotted = df.withColumn("__slot",
          F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(),
            fileTarget.cast("long")))
        val shuffled =
          if (width > sessionParallelism)
            // guard the Long->Int narrowing: past ~2^31 file targets the
            // cast would wrap (negative count throws opaquely; a wrapped
            // positive silently undersizes the shuffle) — cap instead,
            // the per-task bound merely loosens toward totalBytes/2^31
            slotted.repartition(math.min(width, Int.MaxValue.toLong).toInt,
              F.col(partitionCol), F.col("__slot"))
          else slotted.repartition(F.col(partitionCol), F.col("__slot"))
        shuffled.drop("__slot")
      }
    try {
      sized(transform(readWithSchema(table, schema)
          .filter(F.col(partitionCol).cast("string").isin(values: _*))))
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
        .parquet(staging.toString)
    } catch { case t: Throwable =>
      inFlightSwaps.remove(table)
      try recoverCompaction(table, partitionCol)
      catch { case scala.util.control.NonFatal(_) => () }
      throw t
    }
    // STAGED MANIFEST: per selected partition, the digest of its staged
    // rewrite (or EMPTY when transform dropped every row). This is what
    // lets a crash ANYWHERE in the swap loop heal unambiguously on a
    // store whose rename is copy-then-delete — "which copy is complete"
    // is undecidable from the filesystem alone (see
    // [[recoverCompaction]]'s marker branch). One small file, written
    // before the first rename; data-path (lives with the stage on fs).
    locally {
      val lines = toCompact.map { case (value, _) =>
        val src = new org.apache.hadoop.fs.Path(staging, s"$partitionCol=$value")
        val d = if (fs.exists(src)) treeDigest(fs, src) else "EMPTY"
        java.net.URLEncoder.encode(value, "UTF-8") + " " + d
      }
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, "__manifest"), true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    // RENAME phase for the whole per-partition swap loop: readers
    // using [[consistentRead]] see entirely-old or entirely-new; a
    // crash leaves the marker and the manifest-driven heal rolls the
    // interrupted partitions FORWARD (the staged rewrite is the
    // row-equivalent of the old content under `transform`)
    markSwapPhase(fs, table)
    try {
    val swapped = toCompact.flatMap { case (value, _) =>
      // PER-PARTITION fence: the swap loop can run long (many accreted
      // partitions), and a single pre-loop fence would let a writer
      // whose TTL lapses mid-loop keep swapping over a successor's
      // partitions — one small fs read per held lease per partition,
      // noise next to the renames it protects
      fenceHeldLeases()
      val dir = s"$partitionCol=$value"
      val src = new org.apache.hadoop.fs.Path(staging, dir)
      val dst = new org.apache.hadoop.fs.Path(root, dir)
      // move-aside -> move-in -> drop: a crash at ANY point leaves at
      // least one complete copy addressable — live at dst, or staged at
      // src (restored by the entry recovery above on the next run). The
      // aside lives INSIDE staging under a prefix that does not parse
      // as a partition dir, so readers never see two copies and the
      // recovery scan never mistakes it for a staged replacement.
      if (!fs.exists(src)) {
        // the staged job completed but wrote nothing for this selected
        // partition: transform dropped every row — remove the live dir
        // via the same aside dance (never a bare delete of live data)
        if (fs.exists(dst)) {
          val aside = new org.apache.hadoop.fs.Path(staging, s"__old__$dir")
          if (!coordinator.rename(fs, dst, aside))
            throw new java.io.IOException(
              s"compaction move-aside failed for emptied $dir — table untouched")
          coordinator.delete(fs, aside, true)
          Some(value)
        } else None
      }
      else {
        val aside = new org.apache.hadoop.fs.Path(staging, s"__old__$dir")
        if (fs.exists(dst) && !coordinator.rename(fs, dst, aside))
          throw new java.io.IOException(
            s"compaction move-aside failed for $dir — table untouched")
        if (!coordinator.rename(fs, src, dst))
          throw new java.io.IOException(
            s"compaction rename failed for $dir — staged data left at $src")
        coordinator.delete(fs, aside, true)
        Some(value)
      }
    }
    endSwap(fs, table)
    coordinator.delete(fs, staging, true)
    spark.catalog.refreshByPath(path(table))
    swapped
    } finally inFlightSwaps.remove(table)
  }

  /** Remove every row stamped with one of `seqs` from a
    * hive-partitioned, generation-stamped table: probe which partitions
    * hold them (bounded by the partition count) and rewrite exactly
    * those through [[compactPartitioned]]'s stage-and-swap. The
    * op-protocol rollback primitive shared by every incremental index
    * (see [[graft.streaming.OpLog]]): a crashed attempt's partial rows
    * are scrubbed partition-locally before the redo, and abandoned
    * attempts' garbage is scrubbed at maintenance. Callers must run
    * [[recoverCompaction]] BEFORE any probe of the table (the index
    * heal()s do). */
  def scrubSeqs(
      table: String,
      partitionCol: String,
      schema: StructType,
      seqs: Seq[Long]): Unit = {
    import org.apache.spark.sql.{functions => F}
    if (seqs.isEmpty) return
    val vals = readWithSchema(table, schema)
      .filter(F.col("seq").isin(seqs: _*))
      .select(partitionCol).distinct().collect().map(_.get(0).toString).toSeq
    if (vals.nonEmpty)
      compactPartitioned(table, partitionCol, schema,
        maxFilesPerPartition = Int.MaxValue,
        transform = df => df.filter(!F.col("seq").isin(seqs: _*)),
        forceValues = vals)
  }

  /** Write a BUCKETED table: rows are hash-distributed into `buckets`
    * files by `bucketCols` at WRITE time, so every later equi-join or
    * aggregation on those columns is already co-located — two tables
    * bucketed by the same key and count join with ZERO shuffle
    * exchanges (pinned in PlanSpec). This is the storage half of
    * shuffle minimization at 100 TB: pay the distribution once when
    * the table lands, never again per query.
    *
    * The data lands as an EXTERNAL table at this catalog's
    * `path(table)` — the same location every sibling method resolves —
    * while the bucketing SPEC registers in the session catalog (read
    * back via `spark.table(table)`). Spark only attaches bucket
    * metadata through the catalog, so cross-APPLICATION reuse needs a
    * persistent metastore (standard in production; this environment's
    * in-memory catalog limits spec reuse to the writing application —
    * the files themselves remain plain parquet, readable by path).
    *
    * The frame is repartitioned on the bucket key first: without it,
    * every write task emits a file per bucket it sees (tasks x buckets
    * small files) and multi-file buckets forfeit the sorted-bucket
    * sort-merge optimization `sortCols` exists for.
    */
  def writeBucketed(
      table: String,
      df: DataFrame,
      buckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.{functions => F}
    require(buckets > 0, "buckets must be positive")
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    var distributed = df.repartition(buckets, bucketCols.map(F.col): _*)
    if (sortCols.nonEmpty)
      distributed = distributed.sortWithinPartitions(sortCols.map(F.col): _*)
    var w = distributed.write.mode(SaveMode.Overwrite)
      .option("path", path(table))
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.format("parquet").saveAsTable(table)
  }

  /** Persist-or-verify a family's LAYOUT STAMP: the hash moduli and
    * layout version baked into stored rows (`rk`/`pbk` partition values
    * are `hash(id) % buckets`, so `buckets` is part of the data's
    * meaning, not a session knob). First opener writes
    * `<family>__layout` with the stamp; every later opener must present
    * the SAME stamp or fail loudly with [[Catalog.LayoutMismatch]] —
    * silently reopening a 16-bucket family with 32 buckets would make
    * every partition-pruned admission scan miss every existing row,
    * re-admitting live docs as duplicate generations and double-counting
    * global stats. One fs read per check; idempotent.
    */
  def ensureLayoutMeta(family: String, stamp: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(family) + "__layout")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val existing = coordinator.readSmall(fs, p)
    existing match {
      case Some(s) if s == stamp => ()
      case Some(s) =>
        throw new Catalog.LayoutMismatch(
          s"family '$family' was created with layout [$s] but is being " +
            s"opened with [$stamp]: the hash moduli are baked into stored " +
            "partition values, so mismatched parameters silently miss " +
            "every existing row. Reopen with the original parameters or " +
            "rebuild the family")
      case None =>
        if (!coordinator.createIfAbsent(fs, p, stamp)) {
          // lost a create race: re-read and verify against the winner
          val s = coordinator.readSmall(fs, p).getOrElse(
            throw new java.io.IOException(
              s"layout stamp for '$family' unreadable after a lost create race"))
          if (s != stamp) throw new Catalog.LayoutMismatch(
            s"family '$family' concurrently created with layout [$s], " +
              s"this opener wanted [$stamp]")
        }
    }
  }

  private val leaseHolder = java.util.UUID.randomUUID().toString
  // scope -> (owning thread id, re-entry depth)
  private val leaseDepth = scala.collection.mutable.Map.empty[String, (Long, Int)]
  // worker threads currently acting as DELEGATES of a lease-owning
  // principal thread ([[runDelegated]]): delegate thread id -> principal
  // thread id. Fencing and ownership questions resolve a delegate to its
  // principal, so a delegated publish still fences against the family
  // lease instead of silently no-opping (thread-scoped fencing).
  private val leaseDelegates =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  /** The thread whose held leases govern fencing for `self`: itself,
    * or — for a [[runDelegated]] worker — its delegating principal. */
  private def leasePrincipal(self: Long): Long =
    Option(leaseDelegates.get(self)).map(_.longValue).getOrElse(self)

  /** Run `bodies` concurrently on worker threads registered as LEASE
    * DELEGATES of the calling thread (guide §2.6 — overlap independent
    * jobs so one table's staged write back-fills the driver gaps and
    * stage tails of another's): each worker inherits the caller's held
    * leases for FENCING purposes ([[fenceHeldLeases]] resolves it to
    * the principal), so a delegated stage-and-swap publish refuses on a
    * broken family lease exactly like the owning thread would —
    * delegation widens the lease's thread scope, never weakens it.
    * Propagates the first failure after all bodies finish (the
    * remaining bodies' stage-and-swap units are each internally
    * crash-consistent, so letting them complete is safe and simplest). */
  def runDelegated(bodies: Seq[() => Unit]): Unit = {
    if (bodies.isEmpty) return
    if (bodies.size == 1) { bodies.head(); return }
    val principal = Thread.currentThread().getId
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map { b =>
      val th = new Thread(() => {
        leaseDelegates.put(Thread.currentThread().getId, principal)
        try b()
        catch { case t: Throwable => errs.add(t) }
        finally leaseDelegates.remove(Thread.currentThread().getId)
      })
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** The family's persisted layout stamp, if any — the read accessor
    * for maintenance passes that need row-shaping parameters (the
    * id-hash modulus) without widening their public signatures. One fs
    * read; None for a family never stamped. */
  def readLayoutMeta(family: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path(family) + "__layout")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    coordinator.readSmall(fs, p)
  }

  // ------------------------------------------------------------------
  // SWAP-WINDOW PROTOCOL: the piece that makes stage-and-swap publishes
  // correct for CONCURRENT READERS on stores whose rename is NOT atomic
  // (object stores: rename = copy-then-delete, destination entries
  // appear one by one). Exclusion alone (leases) makes swap windows
  // single-WRITER, but a reader listing the table mid-copy can silently
  // see a partial generation — not an error, just missing rows. The fix
  // is optimistic-read validation, all through the coordinator:
  //
  //  - writers open a MARKER (`<table>__swapping`, content
  //    `holder expiresAt phase manifestDigest`) BEFORE their staged
  //    write — phase "stage", which readers ignore (live tables are
  //    untouched until the renames) but which keeps concurrent heals
  //    off the in-flight staging — flip it to phase "swap" at the
  //    first rename, and bump a GENERATION counter
  //    (`<table>__swapgen`) after the renames, before dropping it;
  //  - readers needing swap-exact results use [[consistentRead]]: check
  //    marker-absent + record gens, materialize the read, re-check —
  //    any overlap with a swap window invalidates and retries. Readers
  //    that don't opt in keep today's semantics (the documented
  //    single-writer maintenance windows).
  //
  // The marker's manifest digest (files of the pre-swap live tree) is
  // what makes CRASH healing unambiguous under non-atomic rename: a
  // mid-copy death can leave live OR aside partial, and "which copy is
  // complete" is undecidable from the filesystem alone — the digest
  // decides it (see [[recoverReplace]]).
  // ------------------------------------------------------------------

  // tables THIS instance currently has a publish open on (beginSwap ->
  // endSwap/abort). Own-holder markers are healable ONLY when the table
  // is NOT here: reader and writer threads routinely share one Catalog,
  // and a sibling reader's crash-window heal must not mistake the
  // writer's live marker for a stale own leftover (it shares the holder
  // id!) and delete the in-flight staging out from under it.
  private val inFlightSwaps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def swapMarkerPath(table: String) =
    new org.apache.hadoop.fs.Path(path(table) + "__swapping")
  private def swapGenPath(table: String) =
    new org.apache.hadoop.fs.Path(path(table) + "__swapgen")
  private def healClaimPath(table: String) =
    new org.apache.hadoop.fs.Path(path(table) + "__swapheal")
  // warehouse-level tombstone recording that `holder` was fenced (its
  // stale lease broken by a contender) — written at the break
  // ([[withMaintenanceLease]].breakStale), read by recovery tie-breaks
  private def fencedTombPath(holder: String) =
    new org.apache.hadoop.fs.Path(path(s"__fenced.$holder"))

  /** True when `holder` has a fenced tombstone on record. */
  private def isFencedHolder(
      fs: org.apache.hadoop.fs.FileSystem, holder: String): Boolean =
    coordinator.readSmall(fs, fencedTombPath(holder)).isDefined
  // a heal is renames + sidecar-sized tree listings — seconds, not a
  // staging job; a crashed healer's claim ages out on this bound
  private val healClaimTtlMs = 60 * 1000L

  /** Serialize DESTRUCTIVE expired-marker heals: every read/append
    * entry calls recovery, so N concurrent readers can all observe one
    * expired swap marker and race its heal — and the heal's
    * delete-then-rename body is only convergent for ONE actor (healer A
    * renames aside->live; healer B, which computed its digests earlier,
    * then deletes live and fails its own rename because aside is gone —
    * both copies destroyed). Exactly one healer may act: claim the
    * table's heal key first (atomic create-if-absent through the
    * coordinator, the lease pattern), losers skip (lenient entries) or
    * refuse loudly (write entries retry). A healer that crashes
    * mid-heal leaves its claim to age out on [[healClaimTtlMs]]; the
    * next claimant re-enters the same convergent branches. The acquire
    * section reuses the per-path monitor ([[Catalog.leaseLock]]) so
    * in-process healers serialize without a coordinator round-trip.
    * Caller MUST pair with [[releaseHealClaim]] in a finally. */
  private def acquireHealClaim(
      fs: org.apache.hadoop.fs.FileSystem, table: String): Boolean = {
    val p = healClaimPath(table)
    def tryCreate(): Boolean = coordinator.createIfAbsent(fs, p,
      s"$leaseHolder ${System.currentTimeMillis() + healClaimTtlMs}")
    def expired(): Boolean =
      coordinator.readSmall(fs, p) match {
        case Some(content) => content.split("\\s+") match {
          case Array(_, exp) if exp.forall(_.isDigit) =>
            exp.toLong < System.currentTimeMillis()
          case _ => // unreadable content: age the FILE (see lease twin)
            try fs.getFileStatus(p).getModificationTime + healClaimTtlMs <
              System.currentTimeMillis()
            catch { case _: java.io.IOException => false }
        }
        case None => false
      }
    def breakStale(): Boolean = {
      val tomb = new org.apache.hadoop.fs.Path(
        path(table) + "__swapheal_broken_" + java.util.UUID.randomUUID())
      val won = coordinator.rename(fs, p, tomb)
      if (won) coordinator.delete(fs, tomb, false)
      won
    }
    Catalog.leaseLock(p.toString).synchronized {
      tryCreate() || { if (expired()) breakStale() && tryCreate() else false }
    }
  }

  private def releaseHealClaim(
      fs: org.apache.hadoop.fs.FileSystem, table: String): Unit =
    Catalog.leaseLock(healClaimPath(table).toString).synchronized {
      if (coordinator.readSmall(fs, healClaimPath(table))
          .exists(_.startsWith(leaseHolder + " ")))
        coordinator.delete(fs, healClaimPath(table), false)
    }

  /** Digest of a directory tree's (relative-name, length) set — the
    * completeness fingerprint swap-crash healing compares against.
    * `"-"` for an absent path (a first-ever publish has no prior live).
    * Cost: one recursive listing of a SIDECAR-SIZED table (replaceTable
    * is documented as not-for-data-sized tables); never reads data. */
  private def treeDigest(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): String = {
    if (!fs.exists(root)) return "-"
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: org.apache.hadoop.fs.Path, prefix: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = prefix + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, name + "/")
        else entries += s"$name:${st.getLen}"
      }
    walk(root, "")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** (holder, expiresAtMillis, phase, manifestDigest) of a live swap
    * marker. `phase` is "stage" from [[beginSwap]] until the writer is
    * about to rename ([[markSwapPhase]] flips it to "swap"): during
    * staging the live tables are untouched, so readers treat a
    * stage-phase marker as no marker at all — a multi-minute staged
    * rewrite must not block [[consistentRead]]; only the rename window
    * (seconds) does. */
  private def readSwapMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      table: String): Option[(String, Long, String, String)] =
    coordinator.readSmall(fs, swapMarkerPath(table)).flatMap { s =>
      s.split(" ") match {
        case Array(h, exp, ph, d) => exp.toLongOption.map((h, _, ph, d))
        case _ => None
      }
    }

  /** The table's swap generation — bumped once per completed (or
    * healed) swap. 0 for a table never swapped. Readers pair it with
    * the marker check in [[consistentRead]]; a swap that began AND
    * ended inside one read shows up here even though both marker
    * checks pass. */
  def swapGeneration(table: String): Long = {
    val fs = swapGenPath(table).getFileSystem(spark.sessionState.newHadoopConf())
    coordinator.readSmall(fs, swapGenPath(table))
      .flatMap(_.trim.toLongOption).getOrElse(0L)
  }

  /** Bump the swap generation. Delete+create is non-atomic but runs
    * only under a swap marker or a heal (single-writer either way); a
    * reader catching the absent instant reads 0 ≠ its first read and
    * correctly invalidates. */
  private def bumpSwapGen(
      fs: org.apache.hadoop.fs.FileSystem, table: String): Unit = {
    val g = coordinator.readSmall(fs, swapGenPath(table))
      .flatMap(_.trim.toLongOption).getOrElse(0L)
    coordinator.delete(fs, swapGenPath(table), false)
    if (!coordinator.createIfAbsent(fs, swapGenPath(table), (g + 1).toString)) {
      // lost the re-create to a concurrent creator. Whoever won wrote
      // its own bumped value, so readers pairing generations across
      // this instant still observe a CHANGE — which is all the bump
      // must guarantee. Only an unchanged value is a lost bump: fail
      // loudly rather than let readers miss the swap.
      if (coordinator.readSmall(fs, swapGenPath(table))
          .map(_.trim).contains(g.toString))
        throw new java.io.IOException(
          s"swap-generation bump for '$table' lost a race and the " +
            "generation is unchanged — readers could miss this swap")
    }
  }

  /** Open a swap window: publish the marker carrying this writer's
    * identity, its TTL, and the pre-swap live manifest. An UNEXPIRED
    * foreign marker means a concurrent swap — a single-writer-
    * discipline violation, refused loudly ([[Catalog.SwapInFlight]]).
    * An expired one is a crashed swapper the entry recovery should
    * have healed; heal-and-retry once covers the race where it expired
    * after that recovery ran. */
  private def beginSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      table: String,
      manifestDigest: String,
      healExpired: () => Unit): Unit = {
    val content = s"$leaseHolder ${System.currentTimeMillis() + swapTtlMs} " +
      s"stage $manifestDigest"
    // mark in-flight BEFORE the marker lands: a sibling thread's heal
    // between marker-create and set-add would read our fresh marker as
    // an own stale leftover and heal it away (unwound on any failure).
    // A no-op add means a sibling of THIS instance is already
    // publishing this very table — refuse before touching anything
    // (removing the shared mark on our failure path would strip the
    // sibling's protection)
    if (!inFlightSwaps.add(table))
      throw new Catalog.SwapInFlight(
        s"another thread of this catalog instance is already publishing " +
          s"'$table' — single-writer discipline violation")
    try {
      if (!coordinator.createIfAbsent(fs, swapMarkerPath(table), content)) {
        readSwapMarker(fs, table) match {
          case Some((h, exp, _, _))
              if exp >= System.currentTimeMillis() && h != leaseHolder =>
            throw new Catalog.SwapInFlight(
              s"a swap of '$table' is already in flight — concurrent " +
                "maintenance publishes violate the single-writer discipline")
          case _ =>
            // heal the stale leftover; it can't be a sibling's live
            // publish (we'd already hold the in-flight mark), so lift
            // our own mark for the heal's duration
            inFlightSwaps.remove(table)
            try healExpired() finally inFlightSwaps.add(table)
            if (!coordinator.createIfAbsent(fs, swapMarkerPath(table), content))
              throw new Catalog.SwapInFlight(
                s"swap marker for '$table' re-contended after healing")
        }
      }
    } catch { case t: Throwable => inFlightSwaps.remove(table); throw t }
  }

  /** Flip this writer's marker from stage to swap phase, immediately
    * before the first rename: from here until [[endSwap]] readers must
    * treat the table as mid-publish. Refreshes the expiry — the rename
    * window always runs under a fresh TTL regardless of how long the
    * staging took. A marker that is MISSING or FOREIGN here means the
    * staging outran the TTL and a healer (or successor) superseded
    * this writer — renaming anyway would publish over it, so refuse
    * loudly, exactly like lease fencing. Delete+create runs
    * single-writer (we hold the marker and the maintenance lease). */
  private def markSwapPhase(
      fs: org.apache.hadoop.fs.FileSystem, table: String): Unit =
    readSwapMarker(fs, table).filter(_._1 == leaseHolder) match {
      case Some((h, _, _, d)) =>
        // the flip must CHECK both primitives: a silently failed delete
        // leaves the stale stage-phase marker (readers ignore stage
        // markers, so renaming would tear them), and a lost re-create
        // means a healer/successor owns the marker now — either way
        // this writer is no longer fenced and must NOT rename
        val flipped = coordinator.delete(fs, swapMarkerPath(table), false) &&
          coordinator.createIfAbsent(fs, swapMarkerPath(table),
            s"$h ${System.currentTimeMillis() + swapTtlMs} swap $d")
        if (!flipped) {
          inFlightSwaps.remove(table)
          throw new Catalog.SwapInFlight(
            s"swap-phase flip for '$table' failed (marker delete failed " +
              "or re-create lost to a concurrent creator) — this writer " +
              "no longer holds the marker; refusing to rename, the op " +
              "replays")
        }
      case None =>
        inFlightSwaps.remove(table)
        throw new Catalog.SwapInFlight(
          s"this writer's swap marker for '$table' was healed away or " +
            "superseded (staging outran the marker TTL) — refusing to " +
            "rename over a successor; the op replays")
    }

  /** Close a swap window: bump the generation (readers invalidate),
    * then drop the marker. Order matters — a reader that never saw the
    * marker must already see the new generation number. */
  private def endSwap(
      fs: org.apache.hadoop.fs.FileSystem, table: String): Unit = {
    bumpSwapGen(fs, table)
    coordinator.delete(fs, swapMarkerPath(table), false)
    inFlightSwaps.remove(table)
  }

  /** Run `body` as a SWAP-CONSISTENT read of `tables`: the result is
    * guaranteed to reflect entirely-old or entirely-new generations of
    * every listed table — never a torn mix — even while maintenance
    * publishes ([[replaceTable]], [[compactPartitioned]]) run
    * concurrently on a store with non-atomic rename. Optimistic
    * validation: marker-absent + generation recorded before, re-checked
    * after; any overlap retries `body`.
    *
    * `body` MUST MATERIALIZE what it reads (collect/count/write) — a
    * lazy DataFrame escapes the validation window. Retries are bounded
    * by `maxWaitMs`; a persistent marker past that means a crashed
    * swapper nobody healed — run the family's recovery (every write
    * entry does) and retry.
    *
    * Cost: 2 coordinator reads per table per attempt — nothing
    * data-sized, safe at any scale. Readers that tolerate the
    * documented maintenance windows simply don't call this. */
  def consistentRead[T](
      tables: Seq[String], maxWaitMs: Long = 60 * 1000L)(body: => T): T = {
    val fs = swapGenPath(tables.head)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (System.currentTimeMillis() < deadline) {
      def renamePhase(t: String): Boolean =
        readSwapMarker(fs, t).exists(_._3 != "stage")
      val before = tables.map(t => (renamePhase(t), swapGeneration(t)))
      if (before.forall(!_._1)) {
        // clear of every swap window at entry; validate again at exit.
        // body may THROW mid-swap too (a file listed before a
        // copy-then-delete rename, read after — FileNotFound): a
        // failure that overlapped a window is as retriable as a torn
        // result; one that didn't is genuine and propagates.
        val attempt =
          try Right(body)
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        val after = tables.map(t => (renamePhase(t), swapGeneration(t)))
        val clean = after.forall(!_._1) && before.map(_._2) == after.map(_._2)
        attempt match {
          case Right(r) if clean => return r
          case Left(e) if clean => throw e
          case _ => () // overlapped a swap window — retry
        }
      }
      Thread.sleep(25)
    }
    throw new IllegalStateException(
      s"consistentRead of ${tables.mkString(",")} could not validate " +
        s"within ${maxWaitMs}ms — a swap marker is stuck (crashed " +
        "swapper?); run the family recovery (any write entry does) and retry")
  }

  /** Run `body` as the SINGLE WRITER of a maintenance scope, enforced
    * by a lease file — the "single-writer maintenance discipline" this
    * family documents on every compaction/replace turned from a
    * convention into a loud contract. A second maintainer entering the
    * same scope while the lease is live fails with
    * [[Catalog.MaintenanceLeaseHeld]] instead of silently racing the
    * stage-and-swap windows (the documented reader-heal race makes
    * such races DATA-safe, but an aborted maintenance op looks like a
    * spurious failure; refusing up front is diagnosable).
    *
    * Mechanics: the coordinator's atomic create-if-absent on
    * `<warehouse>/<scope>__lease` — namespace-atomic `create(path,
    * overwrite = false)` on HDFS, O_EXCL via java.nio on the local
    * filesystem, and PLUGGABLE for stores with neither (an object-store
    * deployment passes a conditional-put or external-lock
    * [[CommitCoordinator]] to the constructor; every lease / break /
    * fence / swap point inherits it). The file carries
    * `holder expiryMillis`. A
    * CRASHED holder's lease heals by expiry: past `ttlMs` the next
    * contender breaks the stale file and re-acquires (the break is an
    * atomic RENAME of the stale file to a unique tomb path — exactly one
    * of two simultaneous breakers wins the rename, so the race resolves
    * to one winner and one loud loser; release likewise deletes only a
    * file still carrying this holder's id). Size the TTL above the longest
    * expected maintenance pass — a too-short TTL turns a slow
    * compaction into two writers, which is exactly the state the
    * reader-heal race doc proves data-safe but op-unsafe.
    *
    * Re-entrant per scope for the OWNING THREAD (depth-counted), so a
    * family helper that takes the family lease can call nested helpers
    * that defensively take it too. Ownership is thread-scoped, not
    * instance-scoped: a SECOND THREAD entering the same scope through
    * the same Catalog is a concurrent writer, not a nested helper —
    * it must refuse like any foreign holder (it loses `tryCreate`
    * against the live file), or two streams sharing one Catalog would
    * silently interleave inside the very window this lease exists to
    * serialize. Nested helpers always run on their caller's thread
    * (every op/maintenance body here is synchronous), so same-thread
    * depth counting is exactly the re-entrancy the family needs. */
  def withMaintenanceLease[T](scope: String, ttlMs: Long = 15 * 60 * 1000L)(body: => T): T = {
    val depthKey = scope
    val self = Thread.currentThread().getId
    val reentered = leaseDepth.synchronized {
      leaseDepth.get(depthKey) match {
        case Some((owner, d)) if d > 0 && owner == self =>
          leaseDepth(depthKey) = (owner, d + 1); true
        case _ => false
      }
    }
    if (reentered) {
      try body
      finally leaseDepth.synchronized {
        val (o, d) = leaseDepth(depthKey); leaseDepth(depthKey) = (o, d - 1)
      }
    } else {
      val p = new org.apache.hadoop.fs.Path(path(scope) + "__lease")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def tryCreate(): Boolean = coordinator.createIfAbsent(fs, p,
        s"$leaseHolder ${System.currentTimeMillis() + ttlMs}")
      def expired(): Boolean =
        coordinator.readSmall(fs, p) match {
          case Some(content) => content.split("\\s+") match {
            case Array(_, exp) if exp.forall(_.isDigit) =>
              exp.toLong < System.currentTimeMillis()
            case _ => // unreadable content (holder crashed mid-write):
              // age the FILE instead of the recorded expiry
              try fs.getFileStatus(p).getModificationTime + ttlMs <
                System.currentTimeMillis()
              catch { case _: java.io.IOException => false }
          }
          // vanished between create-failure and read — contender won a
          // break race or released; report not-expired and let the
          // caller's retry re-probe
          case None => false
        }
      // breaking a stale lease must be ATOMIC: delete-then-create lets
      // two contenders both observe expiry, the second delete removing
      // the first's freshly created lease — both acquire. Rename the
      // stale file to a unique tomb path instead: exactly one rename
      // succeeds (the claim), the loser's rename fails and it backs off
      // to lose tryCreate against the winner's fresh file.
      def breakStale(): Boolean = {
        val claimed = new org.apache.hadoop.fs.Path(
          path(scope) + "__lease_broken_" + java.util.UUID.randomUUID().toString)
        val won = coordinator.rename(fs, p, claimed)
        if (won) {
          // persist a FENCED-HOLDER TOMBSTONE before dropping the claim:
          // the break is the instant the old holder becomes fenced, and
          // the claimed file is the only durable record of its identity
          // — without this, recovery paths that must tie-break between
          // a fenced writer's orphaned stage and a legitimate
          // successor's (first-ever-replace roll-forward) have nothing
          // but mtime to go on. Tombstones are a few bytes each,
          // bounded by fencing EVENTS (TTL overruns — rare by
          // construction), and read by [[fencedHolder]].
          coordinator.readSmall(fs, claimed)
            .flatMap(_.split("\\s+").headOption).filter(_.nonEmpty)
            .foreach { old =>
              coordinator.createIfAbsent(fs, fencedTombPath(old),
                s"fenced by $leaseHolder at ${System.currentTimeMillis()} " +
                  s"breaking scope $scope")
            }
          coordinator.delete(fs, claimed, false)
        }
        won
      }
      // the acquire critical section is additionally serialized on a
      // PER-LEASE-PATH monitor (one slow remote-FS call must not block
      // unrelated scopes' lease traffic process-wide). The monitor is
      // belt-and-suspenders for in-process contenders; cross-process
      // exclusion rests on the coordinator's atomic create-if-absent —
      // O_EXCL on the local filesystem, namespace-atomic create on
      // HDFS, a conditional put on a plugged-in object-store
      // coordinator.
      val acquired = Catalog.leaseLock(p.toString).synchronized {
        tryCreate() || {
          if (expired()) breakStale() && tryCreate() else false
        }
      }
      if (!acquired)
        throw new Catalog.MaintenanceLeaseHeld(
          s"maintenance lease for scope '$scope' is held " +
            s"(${p.toString}); concurrent maintenance refused — wait for " +
            "the holder or for lease expiry")
      leaseDepth.synchronized { leaseDepth(depthKey) = (self, 1) }
      try body
      finally {
        leaseDepth.synchronized {
          val (o, d) = leaseDepth(depthKey); leaseDepth(depthKey) = (o, d - 1)
        }
        // release ONLY our own lease: if this holder overran its TTL and
        // a contender broke + re-acquired, the file now carries the
        // successor's id — an unconditional delete would strip the
        // successor's protection mid-pass
        Catalog.leaseLock(p.toString).synchronized {
          if (coordinator.readSmall(fs, p)
              .exists(_.startsWith(leaseHolder + " ")))
            coordinator.delete(fs, p, false)
        }
      }
    }
  }

  /** True when `scope`'s lease is currently held through THIS Catalog
    * by a thread other than the caller. Lease ownership and fencing are
    * thread-scoped ([[fenceHeldLeases]]), so an op span that crosses
    * threads (a Future, a listener callback, a thread-per-batch
    * executor) would make the commit-point fence a silent no-op — the
    * commit points check this and fail LOUDLY instead
    * ([[graft.streaming.OpLog.commit]]). */
  def leaseHeldByOtherThread(scope: String): Boolean = {
    // a runDelegated worker counts as its principal (same fencing view)
    val self = leasePrincipal(Thread.currentThread().getId)
    leaseDepth.synchronized {
      leaseDepth.get(scope).exists { case (o, d) => d > 0 && o != self }
    }
  }

  /** FENCING for lease-protected writes: verify that every lease this
    * Catalog instance currently believes it holds (depth > 0) still
    * carries its own holder id on disk, and throw
    * [[Catalog.WriterFenced]] otherwise. A holder that overruns its TTL
    * gets its lease broken by the next contender
    * ([[withMaintenanceLease]]'s atomic rename-claim) — from that
    * instant two writers exist, which the reader-heal race doc proves
    * DATA-safe but op-unsafe. The commit/swap points call this check as
    * late as possible ([[replaceTable]] after its staging job,
    * [[compactPartitioned]] before its swap loop, `OpLog.commit`
    * before the commit append), so a fenced-out writer fails LOUDLY
    * before publishing anything: its already-appended data rows carry
    * an uncommitted seq, i.e. they are ordinary abandoned-attempt
    * garbage the op protocol scrubs at compaction.
    *
    * Scoped to the CURRENT THREAD's held leases: a publish always runs
    * on its op span's own thread (lease ownership is thread-scoped),
    * so fencing on another thread's lapsed lease would falsely abort a
    * healthy writer — two streams on different families in one process
    * must fail independently. No-op (zero fs calls) when this thread
    * holds no lease, so unleased callers (seeders registering a
    * generation, ad-hoc replaces) are unaffected.
    *
    * RESIDUAL window, by design: fencing is check-then-act, so a lease
    * can lapse between a passing check and the publish it guards. What
    * bounds the exposure: the checks sit IMMEDIATELY before each
    * rename/append (microseconds, vs the staging jobs the early fences
    * cover), staging paths are holder-unique (a late writer can touch
    * only its own stage; its swap targets are one rename per table /
    * per partition), and the TTL is sized orders of magnitude above
    * the gap. Closing it entirely needs a compare-and-swap publish —
    * the [[CommitCoordinator]] seam is where a store offering one
    * (conditional PUT) plugs in. LifecycleContractSpec runs all three
    * index families' lease/stamp/fence traffic through the in-process
    * [[CommitCoordinator.keyValue]] reference implementation of that
    * shape, with no coordination file touching the filesystem. */
  def fenceHeldLeases(): Unit = {
    // a runDelegated worker fences against its PRINCIPAL's held leases
    // (delegation widens the lease's thread scope, never weakens it)
    val self = leasePrincipal(Thread.currentThread().getId)
    val held = leaseDepth.synchronized {
      leaseDepth.collect { case (s, (o, d)) if d > 0 && o == self => s }.toSeq
    }
    held.foreach { scope =>
      val p = new org.apache.hadoop.fs.Path(path(scope) + "__lease")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // a transient FS read hiccup on a healthy lease must not abort
      // the op with a spurious TTL-overrun claim: retry the read once
      // before fencing, and name the actual evidence in the error
      val content = coordinator.readSmall(fs, p).orElse {
        Thread.sleep(10)
        coordinator.readSmall(fs, p)
      }
      content match {
        case Some(c) if c.startsWith(leaseHolder + " ") => () // healthy
        case Some(c) =>
          throw new Catalog.WriterFenced(
            s"writer lease for scope '$scope' now carries another holder " +
              s"[${c.split("\\s+").headOption.getOrElse("?")}] (TTL " +
              "overrun: a contender broke this writer's stale lease) — " +
              "refusing to publish; this op's partial rows are " +
              "abandoned-attempt garbage and will be scrubbed at compaction")
        case None =>
          throw new Catalog.WriterFenced(
            s"writer lease for scope '$scope' is absent or unreadable " +
              "after retry (broken by a contender and not yet re-created, " +
              "or the store is unhealthy) — refusing to publish; if this " +
              "was a transient store failure the op replays cleanly")
      }
    }
  }

  /** TRUNCATE TABLE (src/sqls/populate_postgres.sql:31), without a Spark
    * job: a zero-row file of the declared schema is written in from the
    * driver ([[writeFileDriverSide]]), then every entry the table held
    * before it is deleted. The table stays readable, by schema inference
    * too, at every instant; a crash among the deletes leaves some old
    * rows, which the next truncate or overwrite drops.
    */
  def truncate(table: String, schema: StructType): Unit = {
    val dir = new Path(path(table))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val old = if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath) else Array.empty[Path]
    writeFileDriverSide(dir, schema)
    old.foreach(fs.delete(_, true))
    spark.catalog.refreshByPath(path(table))
  }
}

object Catalog {
  /** Per-lease-path monitors for the acquire/release critical sections
    * (see [[Catalog.withMaintenanceLease]]): one slow or hung FS call
    * on one lease must not serialize every unrelated lease operation
    * in the process. Never evicted — bounded by the number of distinct
    * scopes the process touches, a handful of bytes each. */
  private val leaseLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private[sources] def leaseLock(path: String): Object =
    leaseLocks.computeIfAbsent(path, _ => new Object)

  /** A maintenance window for the scope is already held by another
    * (live, unexpired) maintainer — see [[Catalog.withMaintenanceLease]]. */
  final class MaintenanceLeaseHeld(msg: String) extends RuntimeException(msg)

  /** A family's persisted layout stamp disagrees with the opener's
    * parameters — see [[Catalog.ensureLayoutMeta]]. */
  final class LayoutMismatch(msg: String) extends IllegalStateException(msg)

  /** A stage-and-swap publish window is open (or crashed within its
    * TTL) on the table — concurrent publishes and entries that would
    * append under it refuse loudly instead of racing it. Heals at
    * marker expiry or at the owning writer's next entry. */
  final class SwapInFlight(msg: String) extends IllegalStateException(msg)

  /** A lease this process believed it held was broken by a contender
    * (TTL overrun) before a commit/swap point — see
    * [[Catalog.fenceHeldLeases]]. The op did NOT publish; its partial
    * data rows are abandoned-attempt garbage. */
  final class WriterFenced(msg: String) extends IllegalStateException(msg)
}
