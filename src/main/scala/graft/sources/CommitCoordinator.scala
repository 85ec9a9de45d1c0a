package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The atomic primitives the catalog's coordination layer stands on —
  * lease acquisition (create-if-absent), stale-lease breaking and
  * stage-and-swap publishing (atomic rename), fence/stamp reads — made
  * PLUGGABLE so the warehouse can live on stores with different
  * atomicity guarantees:
  *
  *  - HDFS-like stores (HDFS, local fs, most HCFS): the default
  *    [[CommitCoordinator.fileAtomics]] below — `create(overwrite =
  *    false)` and `rename` are atomic namespace operations, with a
  *    java.nio O_EXCL path for the local filesystem (Hadoop's
  *    `LocalFileSystem` implements create-if-absent as CHECK-then-
  *    create, which two processes can both win; `CREATE_NEW` maps to
  *    O_EXCL, atomic across processes on POSIX).
  *  - Object stores (S3-shaped): neither create-if-absent nor rename
  *    is atomic — plug in an implementation backed by conditional PUTs
  *    (If-None-Match / If-Match) or an external lock service, and
  *    every lease/break/fence/swap point in [[Catalog]] inherits the
  *    guarantee without further change.
  *
  * Methods take the resolved Hadoop [[FileSystem]] so one coordinator
  * serves every warehouse a Catalog touches; implementations that
  * coordinate OUTSIDE the filesystem (a lock service, a database) may
  * ignore it entirely for coordination state: every reader of a lease,
  * break-claim, or layout stamp goes through the coordinator's own
  * [[readSmall]], so materializing those small files on the filesystem
  * is OPTIONAL, not required — the key-value reference implementation
  * keeps them purely in its map, and LifecycleContractSpec asserts no
  * `__lease` file ever touches disk under it. Only DATA directories
  * (stage-and-swap renames, recursive deletes) must remain real
  * filesystem paths, since Spark jobs read and write them directly.
  */
trait CommitCoordinator {

  /** Atomically create `path` holding `content` iff it does not exist.
    * Returns false (writing nothing) when it already exists. The
    * exclusion primitive behind lease acquisition and layout-stamp
    * first-write. */
  def createIfAbsent(fs: FileSystem, path: Path, content: String): Boolean

  /** Read a small coordination file. None when absent or unreadable —
    * callers that must distinguish retry once ([[Catalog.fenceHeldLeases]]). */
  def readSmall(fs: FileSystem, path: Path): Option[String]

  /** Atomic rename, false on failure. Used for the stale-lease
    * rename-claim (exactly one of two simultaneous breakers wins) and
    * every stage-and-swap publish (file or directory). */
  def rename(fs: FileSystem, src: Path, dst: Path): Boolean

  /** Delete (recursively when a directory); false/ignored on failure. */
  def delete(fs: FileSystem, path: Path, recursive: Boolean): Boolean
}

object CommitCoordinator {

  /** Default coordinator: Hadoop FS atomics, with the java.nio O_EXCL
    * path for `file:` schemes (see trait doc). Correct on HDFS-like
    * stores; the documented object-store caveat lives HERE now — an
    * S3 deployment swaps this object, not the catalog. */
  val fileAtomics: CommitCoordinator = new CommitCoordinator {

    def createIfAbsent(fs: FileSystem, path: Path, content: String): Boolean =
      if (fs.getScheme == "file") {
        // Hadoop LocalFileSystem's create(overwrite=false) is
        // check-then-create — racy across processes. O_EXCL is not.
        val nio = java.nio.file.Paths.get(path.toUri.getPath)
        try {
          if (nio.getParent != null)
            java.nio.file.Files.createDirectories(nio.getParent)
          java.nio.file.Files.write(nio, content.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
      } else
        try {
          val out = fs.create(path, false)
          try out.write(content.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }

    def readSmall(fs: FileSystem, path: Path): Option[String] =
      try {
        val in = fs.open(path)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      } catch { case _: java.io.IOException => None }

    def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
      try fs.rename(src, dst)
      catch { case _: java.io.IOException => false }

    def delete(fs: FileSystem, path: Path, recursive: Boolean): Boolean =
      try fs.delete(path, recursive)
      catch { case _: java.io.IOException => false }
  }

  /** SIMULATION coordinator: models an object store whose "rename" is
    * COPY-THEN-DELETE — non-atomic and non-instant, with destination
    * entries appearing one by one and the source disappearing one by
    * one, exactly the S3-shaped behavior the atomic-rename argument in
    * [[Catalog]] must survive. `pause` is invoked between every copied
    * or deleted entry (inject sleeps to widen the torn window; throw to
    * simulate a crash mid-rename). Scope: this models the
    * COORDINATOR-MEDIATED renames (the catalog's swap/publish/claim
    * renames); Spark job commits go through Hadoop committers on their
    * own path and are out of this seam's scope.
    *
    * Coordination KEYS (small files) keep delegating for create/read —
    * only rename/delete take the slow non-atomic path, because those
    * are the primitives whose object-store semantics differ.
    */
  def copyDeleteRename(
      delegate: CommitCoordinator = fileAtomics,
      pause: () => Unit = () => ()): CommitCoordinator =
    new CommitCoordinator {
      def createIfAbsent(fs: FileSystem, path: Path, content: String): Boolean =
        delegate.createIfAbsent(fs, path, content)
      def readSmall(fs: FileSystem, path: Path): Option[String] =
        delegate.readSmall(fs, path)

      private def copyTree(fs: FileSystem, src: Path, dst: Path): Unit = {
        val st = fs.getFileStatus(src)
        if (st.isDirectory) {
          fs.mkdirs(dst)
          // hash-ordered walk: a real store's multi-object copy has no
          // useful ordering, so don't let listing order accidentally
          // copy _SUCCESS last and fake a completeness signal
          fs.listStatus(src).sortBy(_.getPath.getName.hashCode)
            .foreach { c =>
              pause()
              copyTree(fs, c.getPath, new Path(dst, c.getPath.getName))
            }
        } else {
          val in = fs.open(src)
          try {
            val out = fs.create(dst, true)
            try {
              val buf = new Array[Byte](64 * 1024)
              var n = in.read(buf)
              while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
            } finally out.close()
          } finally in.close()
        }
      }

      private def deleteTree(fs: FileSystem, p: Path): Unit = {
        val st = fs.getFileStatus(p)
        if (st.isDirectory)
          fs.listStatus(p).sortBy(_.getPath.getName.hashCode)
            .foreach { c => pause(); deleteTree(fs, c.getPath) }
        fs.delete(p, true)
      }

      def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
        try {
          if (!fs.exists(src)) false
          else {
            copyTree(fs, src, dst)
            deleteTree(fs, src)
            true
          }
        } catch { case _: java.io.IOException => false }

      def delete(fs: FileSystem, path: Path, recursive: Boolean): Boolean =
        try {
          if (!fs.exists(path)) false
          else { deleteTree(fs, path); true }
        } catch { case _: java.io.IOException => false }
    }

  /** REFERENCE implementation of the external-coordinator shape: the
    * small coordination FILES (leases, layout stamps, break-claims)
    * live in a linearizable key-value map — the structure a lock
    * service, a database row, or an S3 conditional-PUT provides — while
    * DATA directories (the stage-and-swap renames, recursive deletes)
    * still go to the filesystem via `delegate`. This is exactly the
    * split an object-store deployment needs: the store's rename may be
    * non-atomic, but every EXCLUSION decision happens in the
    * coordinator, so the swap windows are single-writer anyway.
    * Single-writer alone is NOT sufficient for readers on such a store
    * — that claim is exercised, not asserted, in SwapConsistencySpec:
    * over a [[copyDeleteRename]] store a raw read mid-swap IS silently
    * torn (deterministically reproduced), [[Catalog.consistentRead]]'s
    * marker+generation validation never returns a torn generation
    * under concurrent publishes, and a crash anywhere inside the
    * rename phase heals to exactly the old generation via the
    * manifest digest the swap marker records.
    *
    * Process-local (a ConcurrentHashMap), so it coordinates clients
    * that SHARE the instance — the template for a networked
    * implementation, and the fixture the contract specs run the full
    * index lifecycle through to prove the seam is load-bearing.
    */
  def keyValue(
      delegate: CommitCoordinator = fileAtomics): CommitCoordinator =
    new CommitCoordinator {
      private val kv =
        new java.util.concurrent.ConcurrentHashMap[String, String]

      def createIfAbsent(fs: FileSystem, path: Path, content: String): Boolean =
        kv.putIfAbsent(path.toString, content) == null

      def readSmall(fs: FileSystem, path: Path): Option[String] =
        Option(kv.get(path.toString))
          .orElse(delegate.readSmall(fs, path))

      def rename(fs: FileSystem, src: Path, dst: Path): Boolean = {
        // a rename of a coordination KEY is the atomic break-claim:
        // remove-and-put must admit exactly one winner, which remove's
        // linearizability gives us
        val v = kv.remove(src.toString)
        if (v != null) { kv.put(dst.toString, v); true }
        else delegate.rename(fs, src, dst)
      }

      def delete(fs: FileSystem, path: Path, recursive: Boolean): Boolean =
        if (kv.remove(path.toString) != null) true
        else delegate.delete(fs, path, recursive)
    }
}
