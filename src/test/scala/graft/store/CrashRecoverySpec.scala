package graft.store

import org.apache.spark.sql.functions._
import graft.{FsIO, NioFs, SparkSpec}
import graft.sources.Warc

object CrashFs {
  /** The injected death — distinct from any real IO failure class. */
  final class CrashPoint extends RuntimeException("injected crash")
}

/** The r16-verdict-#3 test double: an object-store-shaped [[FsIO]]
  * whose overwrite-rename is NON-atomic, with injectable crash points.
  *
  *   - `atomicSwap` models Hadoop-local / S3-shaped replace:
  *     delete(target) then rename(staging, target) — two operations.
  *     When `crashSwapTarget` suffix-matches the target, the call
  *     performs the DELETE, optionally copies `tornBytes` of the
  *     staging in (the copy-then-delete tear), and dies.
  *   - `rename` dies BEFORE doing anything when `crashRenameTarget`
  *     suffix-matches — for ParquetStore, the snapshot log's commit
  *     (`_snapshots/<version>`).
  *   - `delete`/`deleteRecursively` die BEFORE doing anything when the
  *     path CONTAINS `crashDeleteTarget` (e.g. `rst_id=2`: the first
  *     delete of a superseded file or directory of generation 2, after
  *     its snapshot committed).
  *   - `listed` records every directory `list` was asked for.
  *   - After a crash fires, EVERY subsequent call throws too: a dead
  *     process performs no in-process recovery. `revive()` is the
  *     rerun.
  *
  * Suffix-matched triggers (not counters) so the executor-side closure
  * copies that ride writeFiles/erase tasks — which see a serialized
  * snapshot, not the driver's mutable state — never fire on their own
  * staging traffic: the spec aims each crash at one driver-side swap.
  */
final class CrashFs(inner: FsIO = NioFs) extends FsIO {
  @volatile var crashSwapTarget: String = null
  @volatile var crashRenameTarget: String = null
  @volatile var crashDeleteTarget: String = null
  @volatile var tornBytes: Int = -1
  @volatile var dead: Boolean = false
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def revive(): Unit = {
    dead = false; crashSwapTarget = null; crashRenameTarget = null
    crashDeleteTarget = null; tornBytes = -1
  }
  private def live(): Unit = if (dead) throw new CrashFs.CrashPoint

  override def resolve(dir: String, name: String): String =
    inner.resolve(dir, name)
  override def exists(path: String): Boolean = { live(); inner.exists(path) }
  override def isDirectory(path: String): Boolean = {
    live(); inner.isDirectory(path)
  }
  override def mkdirs(dir: String): Unit = { live(); inner.mkdirs(dir) }
  override def list(dir: String): Seq[String] = {
    live(); listed.add(dir); inner.list(dir)
  }
  override def size(path: String): Long = { live(); inner.size(path) }
  override def read(path: String): Array[Byte] = { live(); inner.read(path) }
  override def readRange(path: String, off: Long, len: Int): Array[Byte] = {
    live(); inner.readRange(path, off, len)
  }
  override def readRanges(path: String,
                          spans: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    live(); inner.readRanges(path, spans)
  }
  override def write(path: String, bytes: Array[Byte]): Unit = {
    live(); inner.write(path, bytes)
  }
  override def atomicSwap(staging: String, target: String): Unit = {
    live()
    if (crashSwapTarget != null && target.endsWith(crashSwapTarget)) {
      inner.delete(target)
      if (tornBytes >= 0)
        inner.write(target, inner.read(staging).take(tornBytes))
      dead = true
      throw new CrashFs.CrashPoint
    }
    // The non-crashing path still models the non-atomic sequence.
    inner.delete(target)
    inner.rename(staging, target)
  }
  override def rename(src: String, target: String): Unit = {
    live()
    if (crashRenameTarget != null && target.endsWith(crashRenameTarget)) {
      dead = true
      throw new CrashFs.CrashPoint
    }
    inner.rename(src, target)
  }
  private def deleting(path: String): Unit = {
    live()
    if (crashDeleteTarget != null && path.contains(crashDeleteTarget)) {
      dead = true
      throw new CrashFs.CrashPoint
    }
  }
  override def delete(path: String): Boolean = {
    deleting(path); inner.delete(path)
  }
  override def deleteRecursively(path: String): Unit = {
    deleting(path); inner.deleteRecursively(path)
  }
}

/** Crash-convergence of the swap protocols on a store WITHOUT atomic
  * overwrite-rename (r16 verdict #3 + advice #1/#2): every injected
  * crash leaves a state from which (a) readers either serve correct
  * bytes or REFUSE — never torn data, never silent misses — and (b)
  * the rerun converges to the correct final state. */
class CrashRecoverySpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_crash_$tag").toString

  private def exportFixture(dir: String, fs: FsIO = NioFs): Unit = {
    val sparkSession = spark
    import sparkSession.implicits._
    val rows = (0 until 12).map { i =>
      (s"g${i % 2}", f"https://c.org/p/$i%02d", "2024-01-01T00:00:00Z",
        "text/plain", s"payload $i".getBytes("UTF-8"))
    }.toDF("file_group", "url", "warc_date", "content_type", "body")
    Warc.writeFiles(
      Warc.encodeResponses(rows, withCdx = true).localCheckpoint(true),
      dir, fs)
    ()
  }

  private def cdxFiles(dir: String) =
    spark.read.format("binaryFile").load(dir)
      .filter(col("path").endsWith(".cdx"))
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        col("content"))

  test("sweepStaging refuses a stray whose target is missing; recoverStaging promotes it") {
    val dir = tmp("sweep")
    NioFs.write(NioFs.resolve(dir, ".staging_e_7_lost.bin"),
      Array[Byte](1, 2, 3))
    // Target missing → the stray is the only copy; sweep must keep it.
    Warc.sweepStaging(dir, ".staging_e_")
    assert(NioFs.exists(NioFs.resolve(dir, ".staging_e_7_lost.bin")))
    // Recovery promotes it into place.
    Warc.recoverStaging(dir, ".staging_e_")
    assert(!NioFs.exists(NioFs.resolve(dir, ".staging_e_7_lost.bin")))
    assert(NioFs.read(NioFs.resolve(dir, "lost.bin")).toSeq ===
      Seq[Byte](1, 2, 3))
    // Target present → the stray is redundant; sweep removes it.
    NioFs.write(NioFs.resolve(dir, ".staging_e_9_lost.bin"),
      Array[Byte](9))
    Warc.sweepStaging(dir, ".staging_e_")
    assert(!NioFs.exists(NioFs.resolve(dir, ".staging_e_9_lost.bin")))
    assert(NioFs.read(NioFs.resolve(dir, "lost.bin")).toSeq ===
      Seq[Byte](1, 2, 3))
    // A failing validator leaves the stray on disk, loudly — never a
    // silent promote of suspect bytes, never a delete.
    NioFs.write(NioFs.resolve(dir, ".staging_e_3_bad.warc"), "junk"
      .getBytes("UTF-8"))
    Warc.recoverStaging(dir, ".staging_e_",
      validate = (_, _) => false)
    assert(NioFs.exists(NioFs.resolve(dir, ".staging_e_3_bad.warc")))
    assert(!NioFs.exists(NioFs.resolve(dir, "bad.warc")))
  }

  test("zipnum: a rebuild crash BEFORE the summary swap leaves the old cluster fully servable (advice #2)") {
    val dir = tmp("zexp")
    val zn = tmp("zcluster")
    exportFixture(dir)
    Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3)
    val before = Warc.zipnumLookup(zn, "https://c.org/p/07",
      verifyExports = dir)
    assert(before.size === 1 && before.head.contains("/p/07 "))
    // Unchanged-source re-run that dies while LANDING the new
    // generation's shards — the r16 design overwrote live shards at
    // this point and served gunzip failures as silent empty lookups;
    // generation-unique names must leave the old cluster untouched.
    val cfs = new CrashFs
    cfs.crashRenameTarget = "-00000.gz"
    intercept[CrashFs.CrashPoint] {
      Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3,
        fs = cfs)
    }
    assert(!Warc.zipnumStale(zn, dir))
    val during = Warc.zipnumLookup(zn, "https://c.org/p/07",
      verifyExports = dir)
    assert(during === before, "old cluster must keep serving byte-identically")
    // Rerun converges: serves, fresh, and every orphaned shard from
    // the crashed generation is swept.
    Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3)
    assert(!Warc.zipnumStale(zn, dir))
    assert(Warc.zipnumLookup(zn, "https://c.org/p/07",
      verifyExports = dir) === before)
    val shardGens = NioFs.list(zn)
      .flatMap("^cdx-g(\\d+)-\\d{5}\\.gz$".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).distinct
    assert(shardGens.size === 1, s"orphan generations survive: $shardGens")
  }

  test("zipnum: torn or deleted summary/manifest is refused, rerun converges") {
    val sparkSession = spark
    import sparkSession.implicits._
    val dir = tmp("texp")
    val zn = tmp("tcluster")
    exportFixture(dir)
    Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3)
    val good = Warc.zipnumLookup(zn, "https://c.org/p/03",
      verifyExports = dir)
    assert(good.size === 1)

    // (a) Copy-then-delete tear: half a summary lands, then death.
    val cfs = new CrashFs
    cfs.crashSwapTarget = "cluster.idx"
    cfs.tornBytes = 25
    intercept[CrashFs.CrashPoint] {
      Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3,
        fs = cfs)
    }
    assert(Warc.zipnumStale(zn, dir),
      "torn summary must flag stale via the manifest attestation")
    intercept[IllegalStateException] {
      Warc.zipnumLookup(zn, "https://c.org/p/03", verifyExports = dir)
    }
    Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3)
    assert(!Warc.zipnumStale(zn, dir))
    assert(Warc.zipnumLookup(zn, "https://c.org/p/03",
      verifyExports = dir) === good)

    // (b) Delete-then-rename death: the summary is GONE, the manifest
    // still stands — a committed cluster without its pointer must read
    // stale (refused), never "empty cluster, empty results".
    val cfs2 = new CrashFs
    cfs2.crashSwapTarget = "cluster.idx"
    intercept[CrashFs.CrashPoint] {
      Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3,
        fs = cfs2)
    }
    assert(!NioFs.exists(NioFs.resolve(zn, "cluster.idx")))
    assert(Warc.zipnumStale(zn, dir))
    intercept[IllegalStateException] {
      Warc.zipnumLookup(zn, "https://c.org/p/03", verifyExports = dir)
    }
    // Even WITHOUT the verify gate (the /cdx route never sets one),
    // a manifest with no summary must refuse — not answer "[]" for
    // every key (review r17 #2).
    intercept[IllegalStateException] {
      Warc.zipnumLookup(zn, "https://c.org/p/03")
    }
    intercept[IllegalStateException] {
      Warc.zipnumJoin(Seq("https://c.org/p/03").toDF("urlkey"), zn)
    }
    Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3)
    assert(!Warc.zipnumStale(zn, dir))

    // (c) Death between the summary and manifest swaps: the NEW
    // cluster is live and correct; it flags stale (conservative)
    // until the rerun re-stamps.
    val cfs3 = new CrashFs
    cfs3.crashSwapTarget = "cluster.manifest"
    intercept[CrashFs.CrashPoint] {
      Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3,
        fs = cfs3)
    }
    assert(Warc.zipnumStale(zn, dir))
    // Without the verify gate the committed summary still serves
    // correct bytes — the conservative flag is about attestation, not
    // torn data.
    assert(Warc.zipnumLookup(zn, "https://c.org/p/03") === good)
    Warc.writeZipnum(cdxFiles(dir), zn, shards = 2, blockLines = 3)
    assert(!Warc.zipnumStale(zn, dir))
    assert(Warc.zipnumLookup(zn, "https://c.org/p/03",
      verifyExports = dir) === good)
  }

  test("eraseExports: a crashed archive swap recovers with zero record loss (advice #1)") {
    val sparkSession = spark
    import sparkSession.implicits._
    val dir = tmp("eexp")
    exportFixture(dir)
    val td = Takedown.takedownStore(spark, tmp("etd"),
      tableName = "crash_td")
    td.reset()
    Takedown.request(td,
      Seq(("https://c.org/p/02", "dmca")).toDF("key", "reason"))
    val victims = Takedown.victimKeys(td).collect()
      .map(_.getString(0)).toSet
    // The erase rewrite dies between deleting g0.warc.gz and renaming
    // the staged rewrite in: the staging file now holds the ONLY copy
    // of the five surviving g0 records.
    val cfs = new CrashFs
    cfs.crashSwapTarget = "g0.warc.gz"
    intercept[CrashFs.CrashPoint] {
      Takedown.eraseOneArchive(dir, "g0.warc.gz", victims, cfs)
    }
    assert(!NioFs.exists(NioFs.resolve(dir, "g0.warc.gz")))
    val stray = NioFs.list(dir).filter(n =>
      n.startsWith(".staging_e_") && n.endsWith("g0.warc.gz"))
    assert(stray.size === 1, "the staged rewrite must survive the crash")
    // The RERUN (the driver's at-least-once retry) recovers the
    // archive from the staging file and completes the erase.
    assert(Takedown.eraseExports(spark, dir, td) >= 0L)
    assert(NioFs.exists(NioFs.resolve(dir, "g0.warc.gz")))
    val back = Warc.records(
      spark.read.format("binaryFile").load(dir)
        .filter(col("path").endsWith(".warc.gz"))
        .select(col("path"), col("content").as("bytes")),
      gzipped = true)
    val uris = back.select("target_uri").collect().map(_.getString(0)).toSet
    assert(!uris.contains("https://c.org/p/02"),
      "the victim must stay erased")
    assert(uris.size === 11,
      s"every non-victim record must survive the crash+rerun: $uris")
    assert(!NioFs.list(dir).exists(_.startsWith(".staging_e_")))
  }


  // ---- ParquetStore: one snapshot commit per mutation ----------------
  // Kill points: the log rename (`_snapshots/<v>`, BEFORE the commit —
  // the mutation must leave no trace) and the first delete of a
  // superseded file (AFTER it — the mutation must be whole).

  private val kv = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
  }

  private def pstore(path: String, fs: FsIO, name: String) =
    new ParquetStore(spark, kv, path, tableName = name,
      collapseKeys = Seq("k"), fs = fs)

  /** Three generations of (k<g>, g) + (shared, g): six rows. */
  private def threeGens(path: String, name: String): ParquetStore = {
    val sparkSession = spark
    import sparkSession.implicits._
    val s = pstore(path, NioFs, name)
    (1L to 3L).foreach(g =>
      s.append(Seq((s"k$g", g), ("shared", g)).toDF("k", "v")))
    s
  }

  private def victims(k: String) = {
    val sparkSession = spark
    import sparkSession.implicits._
    Seq(k).toDF("k").localCheckpoint(true)
  }

  /** The version the store's next commit lands as. */
  private def nextLog(s: ParquetStore) = s"_snapshots/${s.snapshotVersion() + 1}"

  /** Every data file on disk is named by the latest snapshot. */
  private def noDebris(s: ParquetStore): Unit = {
    val onDisk = NioFs.list(s.path).filter(_.startsWith("rst_id="))
      .flatMap(d => NioFs.list(NioFs.resolve(s.path, d)))
      .count(_.endsWith(".parquet"))
    assert(onDisk.toLong === s.generations.map(s.generationFileCount).sum,
      s"files on disk that no snapshot names: ${NioFs.list(s.path)}")
  }

  private def keys(s: ParquetStore) =
    s.latestPerKey(Seq("k")).select("k").collect().map(_.getString(0)).toSet

  private def gen2(s: ParquetStore) =
    s.selectAll.filter(col("v") === 2L).select("k").collect()
      .map(_.getString(0)).toSet

  test("ParquetStore: an erase killed before its commit changes nothing") {
    val path = tmp("pstore_pre")
    val store = threeGens(path, "crash_pre")
    val cfs = new CrashFs
    cfs.crashRenameTarget = nextLog(store)
    intercept[CrashFs.CrashPoint] {
      pstore(path, cfs, "crash_pre_dead").eraseKeys(victims("k2"), Seq("k"))
    }
    // The rewrite's files are on disk, but no snapshot names them.
    val reopened = pstore(path, NioFs, "crash_pre_re")
    assert(reopened.selectAll.count() === 6L)
    assert(keys(reopened) === Set("k1", "k2", "k3", "shared"))
    noDebris(reopened)
    assert(!NioFs.list(NioFs.resolve(path, "_snapshots")).exists(_.startsWith(".")),
      "the killed commit's temp file must be swept")
    // The re-run converges.
    assert(reopened.eraseKeys(victims("k2"), Seq("k")) === 1L)
    assert(keys(reopened) === Set("k1", "k3", "shared"))
    assert(gen2(reopened) === Set("shared"))
  }

  test("ParquetStore: an erase killed after its commit is whole at reopen") {
    val path = tmp("pstore_post")
    val store = threeGens(path, "crash_post")
    val before = NioFs.list(NioFs.resolve(path, "rst_id=2"))
      .filter(_.endsWith(".parquet"))
    val cfs = new CrashFs
    cfs.crashDeleteTarget = "rst_id=2"
    intercept[CrashFs.CrashPoint] {
      pstore(path, cfs, "crash_post_dead").eraseKeys(victims("k2"), Seq("k"))
    }
    // Committed: the superseded file is still on disk, and unread.
    assert(before.forall(f =>
      NioFs.exists(NioFs.resolve(NioFs.resolve(path, "rst_id=2"), f))))
    assert(store.selectAll.count() === 5L)
    val reopened = pstore(path, NioFs, "crash_post_re")
    assert(reopened.selectAll.count() === 5L)
    assert(keys(reopened) === Set("k1", "k3", "shared"))
    assert(gen2(reopened) === Set("shared"))
    // Reopen deleted what the snapshot no longer names.
    assert(before.forall(f =>
      !NioFs.exists(NioFs.resolve(NioFs.resolve(path, "rst_id=2"), f))))
    noDebris(reopened)
  }

  test("ParquetStore: the live handle converges after killed erases") {
    val path = tmp("pstore_live")
    threeGens(path, "crash_live")
    val cfs = new CrashFs
    val store = pstore(path, cfs, "crash_live_h")
    // Killed before its commit, then — same handle, no reopen — killed
    // after it: the second attempt applies the erase.
    cfs.crashRenameTarget = nextLog(store)
    intercept[CrashFs.CrashPoint] {
      store.eraseKeys(victims("k2"), Seq("k"))
    }
    cfs.revive()
    assert(keys(store) === Set("k1", "k2", "k3", "shared"))
    cfs.crashDeleteTarget = "rst_id=2"
    intercept[CrashFs.CrashPoint] {
      store.eraseKeys(victims("k2"), Seq("k"))
    }
    cfs.revive()
    // The next rewrite on the SAME handle runs past both crashes' debris.
    store.eraseKeys(victims("k3"), Seq("k"))
    assert(keys(store) === Set("k1", "shared"), "both erases applied")
    assert(gen2(store) === Set("shared"),
      "generation 2 keeps its surviving row")
    assert(store.generations === Seq(1L, 2L, 3L))
    noDebris(pstore(path, NioFs, "crash_live_re"))
  }

  test("ParquetStore: compact and collapse killed at both commit points") {
    val sparkSession = spark
    import sparkSession.implicits._
    for (afterCommit <- Seq(false, true)) {
      // Compact: four files → one.
      val cpPath = tmp("pcompact")
      val cp = pstore(cpPath, NioFs, "crash_compact")
      cp.append((1L to 6L).map(i => (s"k$i", i)).toDF("k", "v").repartition(4))
      val cfs = new CrashFs
      if (afterCommit) cfs.crashDeleteTarget = "rst_id=1"
      else cfs.crashRenameTarget = nextLog(cp)
      intercept[CrashFs.CrashPoint] {
        pstore(cpPath, cfs, "crash_compact_dead").compact(1L)
      }
      val cpBack = pstore(cpPath, NioFs, "crash_compact_re")
      assert(cpBack.selectAll.count() === 6L, s"afterCommit=$afterCommit")
      assert(cpBack.generationFileCount(1L) === (if (afterCommit) 1L else 4L))
      noDebris(cpBack)

      // Collapse: generations 1-3 fold into slot 3, 4 is kept.
      val clPath = tmp("pcollapse")
      val cl = pstore(clPath, NioFs, "crash_collapse")
      (1L to 4L).foreach(g =>
        cl.append(Seq(("shared", g), (s"k$g", g)).toDF("k", "v")))
      val cfs2 = new CrashFs
      if (afterCommit) cfs2.crashDeleteTarget = "rst_id=1"
      else cfs2.crashRenameTarget = nextLog(cl)
      intercept[CrashFs.CrashPoint] {
        pstore(clPath, cfs2, "crash_collapse_dead")
          .collapseToLatest(Seq("k"), keepRecent = 1)
      }
      val clBack = pstore(clPath, NioFs, "crash_collapse_re")
      val latest = clBack.latestPerKey(Seq("k")).select("k", "v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(latest === Map("shared" -> 4L, "k1" -> 1L, "k2" -> 2L,
        "k3" -> 3L, "k4" -> 4L), s"afterCommit=$afterCommit: $latest")
      assert(clBack.generations ===
        (if (afterCommit) Seq(3L, 4L) else Seq(1L, 2L, 3L, 4L)))
      assert(NioFs.list(clPath).count(_.startsWith("rst_id=")) ===
        clBack.generations.size)
      noDebris(clBack)
    }
  }

  test("ParquetStore: a half-deleted superseded directory changes no read") {
    val sparkSession = spark
    import sparkSession.implicits._
    val path = tmp("pstore_half")
    val store = pstore(path, NioFs, "crash_half")
    (1L to 4L).foreach(g =>
      store.append(Seq(("shared", g), (s"k$g", g)).toDF("k", "v")
        .repartition(2)))
    val cfs = new CrashFs
    cfs.crashDeleteTarget = "rst_id=1"
    intercept[CrashFs.CrashPoint] {
      pstore(path, cfs, "crash_half_dead").collapseToLatest(Seq("k"))
    }
    // Tear generation 1's superseded directory: one file gone, one torn.
    val g1 = NioFs.resolve(path, "rst_id=1")
    val parts = NioFs.list(g1).filter(_.endsWith(".parquet")).sorted
    NioFs.delete(NioFs.resolve(g1, parts.head))
    NioFs.write(NioFs.resolve(g1, "part-00000-torn.parquet"), Array[Byte](1, 2, 3))
    val expect = Set(("shared", 4L), ("k1", 1L), ("k2", 2L), ("k3", 3L), ("k4", 4L))
    def rows(s: ParquetStore) = s.selectAll.select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // Both the live handle and a fresh one read the committed base.
    assert(rows(store) === expect + (("shared", 3L)))
    assert(store.selectAll.count() === 6L)
    val reopened = pstore(path, NioFs, "crash_half_re")
    assert(rows(reopened) === rows(store))
    assert(!NioFs.exists(g1) && !NioFs.exists(NioFs.resolve(path, "rst_id=2")))
    noDebris(reopened)
  }
}
