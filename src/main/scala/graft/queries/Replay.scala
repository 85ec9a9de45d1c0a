package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.graftshim.ClonedSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** One stream replay over a scratch root: `in` holds the tile files,
  * `cp` the checkpoint (empty at every start, or a replayed stream
  * would see zero new files and emit nothing).
  *
  * Everything runs on `session`, a clone of the caller's session, so
  * the replay width set on it never shows on the shared session, where
  * other threads and callers would pick it up. A streaming query
  * snapshots its session's conf at start, and every job a
  * `foreachBatch` body or an eager maintenance call launches is planned
  * under the session of the frame it acts on: inside a replay, build
  * frames from `session` or move them over with [[adopt]], and hand
  * frames back through [[onCaller]] so the caller plans them at its own
  * width.
  */
private[graft] final class Replay private (
    val session: SparkSession, caller: SparkSession, root: String) {
  private val in = s"$root/in"
  val cp: String = s"$root/cp"

  /** Writes `tiled` (`__tile` in 1..parts) to `in`; see
    * [[Replay.writeOrderedStreamFiles]]. */
  def tiles(tiled: => DataFrame, parts: Int, sourceTag: String): Unit =
    Replay.writeOrderedStreamFiles(tiled, parts, in, sourceTag)

  /** The tiles as a file stream, one file per micro-batch. */
  def source(schema: StructType): DataFrame =
    session.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in)

  /** Drains the stream and returns its progress, one entry per
    * micro-batch. AvailableNow keeps the per-file batch boundaries of
    * the default trigger (it honors maxFilesPerTrigger), and
    * watermark-advancement batches (state timeouts) still run, but the
    * query stops by itself instead of paying the idle trigger gaps
    * `processAllAvailable` polls over: ~0.3-0.9 s per replayed stream
    * at micro-batch volume. */
  def run(w: DataStreamWriter[_]): Seq[StreamingQueryProgress] = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.toSeq
  }

  /** [[run]] with every micro-batch's rows collected into `row`: the
    * grading harness's sink (production sinks append to a table). */
  def collect(df: DataFrame, outputMode: String)(row: Row => Unit): Seq[StreamingQueryProgress] =
    run(df.writeStream.outputMode(outputMode).option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(row) })

  /** `df` as a frame of [[session]], without resolving its sources again. */
  def adopt(df: DataFrame): DataFrame = ClonedSession.rebind(df, session)

  /** `df` as a frame of the caller's session. */
  def onCaller(df: DataFrame): DataFrame = ClonedSession.rebind(df, caller)
}

private[graft] object Replay {
  /** Runs `body` on a clone of `s` whose shuffle width is `width` (the
    * session's own when None). The streaming listeners of `s` join the
    * clone until `body` returns, and its query-execution listeners are
    * copied with it, so tracers on `s` still see the replay's progress
    * and jobs. */
  def apply[T](s: SparkSession, root: String, width: Option[Int])(body: Replay => T): T = {
    clearDir(s"$root/cp")
    val clone = ClonedSession(s)
    width.foreach(n => clone.conf.set("spark.sql.shuffle.partitions", n.toString))
    val listeners = s.streams.listListeners().toSeq
    listeners.foreach(clone.streams.addListener)
    try body(new Replay(clone, s, root))
    finally if (listeners.nonEmpty) {
      // progress events are delivered asynchronously
      ClonedSession.drainListeners(s)
      listeners.foreach(clone.streams.removeListener)
    }
  }

  /** Per-JVM scratch root for replays and persisted-index queries,
    * created once per process: mode("overwrite") REUSES the per-query
    * subdir across invocations (a fresh createTempDirectory per call
    * would leave an index copy behind on every bench/verify/plan run),
    * while the once-per-JVM random root keeps concurrent runs on one
    * host from overwriting each other's files mid-read — a fixed
    * world-shared /tmp path raced and was writable by any local user.
    */
  private lazy val scratchRoot: String =
    java.nio.file.Files.createTempDirectory("graft-idx-scratch-").toString

  def scratch(name: String): String = s"$scratchRoot/$name"

  /** Delete a scratch subtree. */
  def clearDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Write a tiled DataFrame (`__tile` in 1..parts) as `parts`
    * single-file parquets named b01..bNN with strictly increasing
    * mtimes — the deterministic micro-batch schedule for a
    * maxFilesPerTrigger=1 file stream (FileStreamSource drains files
    * in (mtime, path) order, so batch i is exactly tile i).
    *
    * MEMOIZED per (source CONTENT, tiling version, parts): the tiling
    * is a deterministic function of the at-rest input, so repeat
    * invocations (min-of-N bench runs, warmup sweeps) skip the
    * global-sort ntile + per-tile writes and only the streaming replay
    * itself is re-run — the checkpoint dir is still cleared by every
    * replay, so the stream always re-consumes every file. A `__source`
    * marker records what the tiles were built from; any mismatch
    * rebuilds. The tag folds in (a) a name:size:mtime fingerprint of
    * the source dir's parquet files — regenerating the dataset in
    * place (as happened between rounds 10 and 11)
    * invalidates the tiles instead of silently replaying stale data —
    * and (b) [[tilingVersion]], bumped whenever any caller's tile
    * expression changes shape.
    */
  private val tilingVersion = "t2"

  def sourceFingerprint(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def writeOrderedStreamFiles(
      tiled: => DataFrame, parts: Int, outDir: String, sourceTag: String): Unit = {
    val tag =
      s"$sourceTag|${sourceFingerprint(sourceTag)}|$tilingVersion|parts=$parts"
    val marker = java.nio.file.Paths.get(outDir, "__source")
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == tag) return
    clearDir(outDir)
    new java.io.File(outDir).mkdirs()
    val tmp = s"$outDir-tmp"
    // Materialize the tiled frame ONCE: the tiling is a global-window
    // ntile (a full sort of the source), and the per-tile filtered
    // writes used to re-run that sort once per tile — N-1 wasted sorts
    // on every fresh-session build (bench isolated re-runs, Verify,
    // benchmark runs; the memo above hides it from warm repeats
    // only). The cache pins partition contents and order, and filter +
    // coalesce(1) preserve them, so each tile file carries exactly the
    // rows and row order the per-tile recomputation produced.
    val mat = tiled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to parts).foreach { i =>
        mat.filter(F.col("__tile") === i).drop("__tile")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val dst = new java.io.File(outDir, f"b$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
    } finally mat.unpersist(blocking = false)
    clearDir(tmp)
    java.nio.file.Files.writeString(marker, tag)
  }
}
