package graft

/** The byte-level durability seam (r15 verdict #3): every operator that
  * lists, reads, stages, atomically swaps, or deletes files OUTSIDE
  * Spark's own readers/writers — [[graft.sources.Warc.writeFiles]],
  * [[graft.sources.Warc.writeZipnum]]/[[graft.sources.Warc.zipnumLookup]],
  * [[graft.store.Takedown.eraseExports]], and [[graft.store.ParquetStore]]'s
  * snapshot log, floors and file deletes — goes through this trait instead of
  * `java.nio.file` directly, so the compliance machinery (erasure,
  * applied floors, byte-stable re-export) runs on whatever filesystem
  * the 100 TB deployment actually writes to:
  *
  *   - [[NioFs]] — the local-filesystem backend (`java.nio.file`, true
  *     `ATOMIC_MOVE`), the default everywhere; behavior-identical to
  *     the pre-facade code.
  *   - [[HadoopFs]] — the `org.apache.hadoop.fs.FileSystem` backend
  *     (the jars Spark itself ships), resolving each path's scheme to
  *     its filesystem: `hdfs://…`, `file:…`, bare local paths, or any
  *     mounted Hadoop-compatible store. [[HadoopFs.atomicSwap]] uses
  *     `FileContext.rename(OVERWRITE)` on `hdfs://` (one NameNode op —
  *     atomic) and delegates `file:`/bare paths to nio `ATOMIC_MOVE`
  *     (advice r16: Hadoop's local connector implements overwrite-
  *     rename as delete-then-rename — two ops, a crash between them
  *     loses the target).
  *
  * A [[VersionedDir]] commit (temp file + no-replace [[rename]]) is an
  * atomic, exclusive create on POSIX and HDFS: one writer lands each
  * version, readers see whole versions. On S3A/GCS the rename is
  * copy-then-delete — a version still appears whole, but two writers
  * racing for one number can both "win", so there it serves the single
  * writer the stores require (fencing refuses a stale one at its next
  * check), not concurrent writers. See SCALE.md "Durability on HDFS/S3".
  *
  * Implementations must be SERIALIZABLE — [[graft.sources.Warc
  * .writeFiles]] and [[graft.store.Takedown.eraseExports]] run
  * executor-side with the facade riding the task closure.
  */
trait FsIO extends Serializable {
  /** Join a directory and a bare child name into one path string. */
  def resolve(dir: String, name: String): String
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  def mkdirs(dir: String): Unit
  /** Bare file/dir NAMES directly under `dir` (no recursion); empty
    * when `dir` is not a directory. */
  def list(dir: String): Seq[String]
  def size(path: String): Long
  def read(path: String): Array[Byte]
  /** Positioned read of exactly `[off, off+len)` — the summary-seek
    * primitive ([[graft.sources.Warc.zipnumLookup]]): never reads the
    * rest of the file. */
  def readRange(path: String, off: Long, len: Int): Array[Byte]
  /** Positioned reads of several spans of ONE file through one open
    * channel (a zipnum block-straddle run re-seeks, never re-opens). */
  def readRanges(path: String, spans: Seq[(Long, Int)]): Seq[Array[Byte]]
  def write(path: String, bytes: Array[Byte]): Unit
  /** Atomically replace `target` with `staging` (REPLACE_EXISTING
    * semantics; both on the same filesystem). The one primitive whose
    * atomicity the durability contracts lean on — see class doc for
    * the per-store guarantees. */
  def atomicSwap(staging: String, target: String): Unit
  /** PUBLISH small metadata bytes at `path` with atomic VISIBILITY:
    * readers see the old content or the new content, never a torn
    * file. This is the POINTER primitive of the manifest-commit
    * protocol (r16 verdict #3) — zipnum's `cluster.idx`/
    * `cluster.manifest` and the ParquetStore applied floors commit
    * through it. Default: dot-prefixed staging sibling + [[atomicSwap]]
    * (correct wherever the swap is atomic — nio, HDFS); object-store
    * backends override with a direct overwrite-create, which IS a
    * single atomic-visibility PUT there (the one place "just write it"
    * beats "stage and rename"). */
  def publish(path: String, bytes: Array[Byte]): Unit = {
    val slash = path.lastIndexOf('/')
    val tmp =
      if (slash < 0) "." + path + ".publish_tmp"
      else path.substring(0, slash + 1) + "." +
        path.substring(slash + 1) + ".publish_tmp"
    write(tmp, bytes)
    atomicSwap(tmp, path)
  }
  /** Rename without replace — `target` must not exist (a
    * [[VersionedDir]] commit, zipnum shard landing). */
  def rename(src: String, target: String): Unit
  def delete(path: String): Boolean
  def deleteRecursively(path: String): Unit
  def versioned(dir: String, prefix: String = ""): VersionedDir =
    new VersionedDir(this, dir, prefix)
}

/** Immutable numbered files `<prefix><N>` in one directory — the commit
  * idiom of [[graft.store.ParquetStore]]'s snapshot log,
  * [[graft.store.PrefixIndexStore]]'s `_commits` and
  * [[graft.store.WriterFence]]'s epochs. Version N exists once its file
  * does; the latest is the highest number, so no pointer can tear. */
final class VersionedDir(fs: FsIO, val dir: String, prefix: String) {
  private val Version = (java.util.regex.Pattern.quote(prefix) + "(\\d{1,18})").r

  /** Every committed version, ascending. */
  def versions(): Seq[Long] =
    fs.list(dir).collect { case Version(n) => n.toLong }.sorted

  def latest(): Option[Long] = versions().lastOption

  def file(version: Long): String = fs.resolve(dir, prefix + version)

  /** Land `bytes` as `version`: write a temp file, then a no-replace
    * [[FsIO.rename]] onto the version's name. False when another writer
    * got there first — the name already exists, or a rival's [[sweep]]
    * removed the temp before the rename — any other failure throws. */
  def commit(version: Long, bytes: Array[Byte]): Boolean = {
    val tmp = fs.resolve(dir, s".tmp_${java.util.UUID.randomUUID()}")
    fs.write(tmp, bytes)
    try { fs.rename(tmp, file(version)); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException =>
        fs.delete(tmp)
        false
    }
  }

  /** Delete every temp file (a crashed or rival commit's) and every
    * version but the newest `keep`. */
  def sweep(keep: Int = Int.MaxValue): Unit = {
    val vs = versions()
    val floor = if (vs.length > keep) vs(vs.length - keep) else Long.MinValue
    fs.list(dir).foreach {
      case Version(v) if v.toLong >= floor => ()
      case n if n.startsWith(".") || Version.matches(n) =>
        fs.delete(fs.resolve(dir, n))
      case _ => ()
    }
  }
}

/** Local-filesystem backend: `java.nio.file` with true `ATOMIC_MOVE` —
  * the default for every facade call site and byte-identical in
  * behavior to the pre-facade (r15) code. */
object NioFs extends FsIO {
  import java.nio.file.{Files, Paths, Path, StandardCopyOption}

  override def resolve(dir: String, name: String): String =
    Paths.get(dir, name).toString
  override def exists(path: String): Boolean =
    Files.exists(Paths.get(path))
  override def isDirectory(path: String): Boolean =
    Files.isDirectory(Paths.get(path))
  override def mkdirs(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir)); ()
  }
  override def list(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
    finally s.close()
  }
  override def size(path: String): Long = Files.size(Paths.get(path))
  override def read(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(path))
  override def readRange(path: String, off: Long, len: Int): Array[Byte] =
    readRanges(path, Seq((off, len))).head
  override def readRanges(path: String,
                          spans: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val ch = Files.newByteChannel(Paths.get(path))
    try spans.map { case (off, len) =>
      val buf = java.nio.ByteBuffer.allocate(len)
      ch.position(off)
      while (buf.hasRemaining) {
        if (ch.read(buf) < 0)
          throw new java.io.EOFException(
            s"$path: range [$off, ${off + len}) past end of file")
      }
      buf.array()
    } finally ch.close()
  }
  override def write(path: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(path), bytes); ()
  }
  override def atomicSwap(staging: String, target: String): Unit = {
    Files.move(Paths.get(staging), Paths.get(target),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  override def rename(src: String, target: String): Unit = {
    // No ATOMIC_MOVE (review r17): the contract is NO-REPLACE, and on
    // POSIX ATOMIC_MOVE maps straight to rename(2), which silently
    // clobbers an existing target; optionless Files.move throws
    // FileAlreadyExistsException instead — a collision (a generation-
    // numbering bug, a concurrent writer) fails loudly.
    Files.move(Paths.get(src), Paths.get(target))
    ()
  }
  override def delete(path: String): Boolean =
    Files.deleteIfExists(Paths.get(path))
  override def deleteRecursively(path: String): Unit =
    Fs.deleteRecursively(Paths.get(path))
}

/** Hadoop `FileSystem` backend — each path's scheme resolves to its
  * filesystem through the standard Hadoop configuration (so the SAME
  * operator code serves `hdfs://nn/exports`, `file:/mnt/share`, and
  * bare local paths). Serializable: the `Configuration` and resolved
  * filesystems are `@transient lazy`, rebuilt on each executor.
  * Atomicity contract per backend is the class-doc story ([[FsIO]]):
  * HDFS/POSIX atomic rename; S3 explicitly out of scope for the
  * swap idioms. */
final class HadoopFs extends FsIO {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

  @transient private lazy val conf =
    new org.apache.hadoop.conf.Configuration()
  private def fs(p: HPath): FileSystem = p.getFileSystem(conf) match {
    // RAW local filesystem, not the checksummed wrapper: production
    // local mounts don't want `.crc` sidecars beside every export
    // file — and the nio-delegated [[atomicSwap]] below moves the data
    // file without Hadoop in the loop, so a stale sidecar would turn
    // every later read into a ChecksumException.
    case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
    case other => other
  }

  override def resolve(dir: String, name: String): String =
    new HPath(dir, name).toString
  override def exists(path: String): Boolean = {
    val p = new HPath(path); fs(p).exists(p)
  }
  override def isDirectory(path: String): Boolean = {
    val p = new HPath(path)
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }
  override def mkdirs(dir: String): Unit = {
    val p = new HPath(dir); fs(p).mkdirs(p); ()
  }
  override def list(dir: String): Seq[String] = {
    val p = new HPath(dir)
    val f = fs(p)
    if (!f.exists(p) || !f.getFileStatus(p).isDirectory) return Seq.empty
    f.listStatus(p).toSeq.map(_.getPath.getName)
  }
  override def size(path: String): Long = {
    val p = new HPath(path); fs(p).getFileStatus(p).getLen
  }
  override def read(path: String): Array[Byte] = {
    val p = new HPath(path)
    val f = fs(p)
    val n = f.getFileStatus(p).getLen
    require(n <= Int.MaxValue, s"$path too large for a single read ($n)")
    val in = f.open(p)
    try {
      val buf = new Array[Byte](n.toInt)
      in.readFully(0L, buf)
      buf
    } finally in.close()
  }
  override def readRange(path: String, off: Long, len: Int): Array[Byte] =
    readRanges(path, Seq((off, len))).head
  override def readRanges(path: String,
                          spans: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val p = new HPath(path)
    val in = fs(p).open(p)
    try spans.map { case (off, len) =>
      val buf = new Array[Byte](len)
      in.readFully(off, buf) // positioned read — no seek-state races
      buf
    } finally in.close()
  }
  /** Drop a legacy checksum sidecar beside a local file this backend
    * just rewrote raw (review r17): deployments that wrote through the
    * pre-r17 CHECKSUMMED local connector left `.name.crc` files, and a
    * raw rewrite would strand them stale — every later read through a
    * checksummed reader (Spark's own LocalFileSystem included) then
    * throws ChecksumException on a perfectly good file. */
  private def dropLocalCrc(p: java.nio.file.Path): Unit = {
    val parent = p.getParent
    if (parent != null) {
      java.nio.file.Files.deleteIfExists(
        parent.resolve("." + p.getFileName.toString + ".crc"))
      ()
    }
  }

  override def write(path: String, bytes: Array[Byte]): Unit = {
    val p = new HPath(path)
    val out = fs(p).create(p, true)
    try out.write(bytes) finally out.close()
    if (resolvesLocal(p))
      dropLocalCrc(java.nio.file.Paths.get(
        fs(p).makeQualified(p).toUri.getPath))
  }
  /** Does this path RESOLVE to the local filesystem? Keyed on the
    * resolved fs, not on a missing scheme (review r17 #2): a bare path
    * under `fs.defaultFS=hdfs://…` resolves to HDFS for every other
    * primitive here, and treating it as local in the swap would split
    * one logical path across two filesystems. */
  private def resolvesLocal(p: HPath): Boolean =
    // getUri, not getScheme — RawLocalFileSystem never overrode the
    // latter and inherits FileSystem's UnsupportedOperationException.
    fs(p).getUri.getScheme == "file"

  override def atomicSwap(staging: String, target: String): Unit = {
    val src = new HPath(staging)
    if (resolvesLocal(src)) {
      // ADVICE r16: for file:-scheme, FileContext.rename(OVERWRITE)
      // reaches DelegateToFileSystem → AbstractFileSystem
      // .renameInternal(overwrite), which is delete(dst) THEN
      // rename(src, dst) — two operations, NOT atomic. A crash between
      // them deletes the target while the staging file holds the only
      // copy. The local filesystem HAS a real atomic replace — rename(2)
      // via nio ATOMIC_MOVE — so delegate to it instead of claiming
      // atomicity the Hadoop local connector does not provide.
      val dst = java.nio.file.Paths.get(new HPath(target).toUri.getPath)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(src.toUri.getPath), dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dropLocalCrc(dst)
    } else
      // HDFS: FileContext.rename(OVERWRITE) is one NameNode op —
      // genuinely atomic. Other schemes inherit whatever their
      // connector provides (see the class doc: S3 is out of scope for
      // swap idioms; the manifest-commit protocol above this seam is
      // the convergence story there).
      FileContext.getFileContext(src.toUri, conf)
        .rename(src, new HPath(target), Options.Rename.OVERWRITE)
  }
  override def rename(src: String, target: String): Unit = {
    val s = new HPath(src)
    if (resolvesLocal(s)) {
      // Same nio delegation as [[atomicSwap]] (and the same reason).
      // NO copy options (review r17): the FsIO contract for `rename`
      // is no-replace — Files.move without REPLACE_EXISTING throws
      // FileAlreadyExistsException on a collision, matching the old
      // Options.Rename.NONE guard, where ATOMIC_MOVE alone maps to
      // rename(2) and would silently clobber a live target.
      val dst = java.nio.file.Paths.get(new HPath(target).toUri.getPath)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s.toUri.getPath), dst)
      dropLocalCrc(dst)
    } else
      FileContext.getFileContext(s.toUri, conf)
        .rename(s, new HPath(target), Options.Rename.NONE)
    ()
  }
  override def publish(path: String, bytes: Array[Byte]): Unit = {
    val p = new HPath(path)
    val scheme = Option(p.toUri.getScheme)
      .getOrElse(fs(p).getUri.getScheme)
    scheme match {
      // Rename-atomic stores: the staged-swap default is the atomic
      // path (a direct create on HDFS exposes partial bytes to a
      // concurrent reader mid-write).
      case "file" | "hdfs" => super.publish(path, bytes)
      // Object stores (s3a, gs, abfs, …): rename is copy-then-delete
      // — NOT atomic — but an overwrite-create is ONE PUT with atomic
      // visibility (readers see the old object or the new object,
      // never a torn one). This branch is what upgrades the pointer
      // swaps from detected-and-refused to genuinely atomic on S3.
      case _ => write(path, bytes)
    }
  }

  override def delete(path: String): Boolean = {
    val p = new HPath(path)
    val f = fs(p)
    f.exists(p) && f.delete(p, false)
  }
  override def deleteRecursively(path: String): Unit = {
    val p = new HPath(path)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
    ()
  }
}

object FsIO {
  /** The default backend — local `java.nio`. */
  val local: FsIO = NioFs
}
