package graft.store

import scala.collection.immutable.SortedMap
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The DURABLE deployment of the serving-store contract — what SCALE.md
  * prescribes for production: one parquet partition directory per
  * generation (`<path>/rst_id=N/`) and ONE append-only snapshot log
  * (`<path>/_snapshots/<version>`: generation id → its files) as the
  * store's only commit point — the file sink's exactly-once log from the
  * Structured Streaming paper, extended to copy-on-write rewrites:
  *
  *   - every mutation writes its new files once, where they stay,
  *     commits the next snapshot, then deletes the files that snapshot
  *     no longer names (best effort: a crash there leaves garbage, not
  *     wrong answers, and the next open sweeps it);
  *   - retention drops whole generations (no row-level work);
  *   - restart recovers `MAX(rst_id)+1` from the snapshot — the A4
  *     restore (`models.py:526-536`) from durable storage;
  *   - reads build the relation from the snapshot's file statuses (no
  *     listing) and partition-prune on `rst_id`.
  *
  * Mirrors [[RecentStore]]'s generation semantics exactly (stamp →
  * append → bump → auto-clean at cleanFreq multiples); the spec runs the
  * SAME scenario against both. Single writer per path: opening a handle
  * deletes every file under `rst_id=*` the snapshot does not name, so
  * never open one while the writer is mid-mutation.
  */
object ParquetStore {
  /** The per-lineage APPLIED-BATCH SENTINEL key shared by replay-
    * guarded streamed consumers ([[graft.streaming.CrawlSchedule
    * .scheduleBatch]], [[graft.operators.Recrawl.updateStats]]): one
    * row per lineage under a key no real domain/URL can take (`#`
    * opens the fragment in any URL parse, so a parsed host or URL can
    * never contain it). Because collapse keeps the latest row PER
    * KEY, the sentinel survives every re-snapshot and every foreign
    * append by construction — the probe ([[ParquetStore
    * .batchApplied]]) matches it through any interleaving. */
  def sentinelKey(scope: String): String = "#applied:" + scope

  /** One committed data file of a generation: its name under
    * `rst_id=<g>/`, its length and its modification time (ms). */
  private final case class DataFile(name: String, size: Long, mtime: Long)

  /** A committed store state: every generation id — empty ones too
    * (empty appends, fully erased generations: the counter restore and
    * the lockstep contiguity guards need them) — → its files. */
  private type Snapshot = SortedMap[Long, Vector[DataFile]]
  private val Empty: Snapshot = SortedMap.empty

  /** Log format, one line each: `<g>` per generation, then
    * `<g> <size> <mtime> <name>` per file of it. */
  private def encode(snap: Snapshot): Array[Byte] =
    snap.iterator.flatMap { case (g, files) =>
      Iterator(g.toString) ++
        files.iterator.map(f => s"$g ${f.size} ${f.mtime} ${f.name}")
    }.map(_ + "\n").mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def decode(bytes: Array[Byte]): Snapshot =
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8).split("\n")
      .filter(_.nonEmpty).foldLeft(Empty) { (snap, line) =>
        line.split(" ", 4) match {
          case Array(g) => snap.updated(g.toLong, Vector.empty)
          case Array(g, size, mtime, name) =>
            snap.updated(g.toLong,
              snap(g.toLong) :+ DataFile(name, size.toLong, mtime.toLong))
        }
      }

  /** Log versions kept behind the latest: a reader that listed the log
    * just before a commit still finds the version it saw. */
  private val KeptVersions = 8

  private val GenDir = "rst_id=(-?\\d{1,18})".r
}

/** A fenced writer lost its store: a NEWER writer epoch exists under
  * the store directory, so this process's mutations must not land —
  * see [[ParquetStore]]'s `fenced` parameter. The failed call changed
  * nothing; the holder should stop writing through this handle (the
  * successor owns the store now). */
final class FencedWriterException(tableName: String, path: String,
                                  val heldEpoch: Long, val liveEpoch: Long)
  extends IllegalStateException(
    s"$tableName@$path: writer fenced — this handle holds epoch " +
      s"$heldEpoch but epoch $liveEpoch has been claimed by a newer " +
      "writer; refusing to mutate (the single-writer contract is now " +
      "ENFORCED, not just documented)")

final class ParquetStore(
    val spark: SparkSession,
    /** Store schema WITHOUT rst_id, like [[RecentStore]]. */
    val schema: StructType,
    val path: String,
    val tableName: String = "durable",
    val cleanInterval: Long = 100,
    val cleanFreq: Long = 10,
    /** STREAMING small-files guard (r10 — r9 shipped [[compact]] but
      * nothing called it, so the append path still decayed toward a
      * footer-open storm at defaults): after each [[appendStreaming]],
      * the just-SEALED generation (already committed — never a
      * generation mid-write) is compacted to one file when it landed more
      * than this many. Micro-batches write up to shuffle-partitions files
      * per generation; with the guard, steady-state files ≈ generations.
      * 0 disables. Batch [[append]] is left alone — bulk loads size their
      * own files. */
    val autoCompactFiles: Long = 8L,
    /** RE-SNAPSHOT policy for DELTA-KEYED stores (r12 verdict #1): when
      * non-empty (with `collapseEvery` > 0), [[appendStreaming]] runs
      * [[collapseToLatest]] on these key columns whenever the on-disk
      * generation count exceeds `collapseEvery` — so long-running
      * streamed consumers ([[graft.streaming.CrawlSchedule]]'s
      * latest-per-host window, [[graft.streaming.CrawlIngest]]'s
      * key anti-join) read ONE compacted base + at most
      * `collapseEvery` deltas instead of an unboundedly growing
      * delta history. Count-based auto-clean is DISABLED while a
      * collapse policy is set: the collapse (not retention) re-bounds
      * the store, and expiring old generations under a delta-keyed
      * store silently loses the keys last touched there. */
    val collapseKeys: Seq[String] = Nil,
    val collapseEvery: Long = 0L,
    /** How many newest deltas the auto-collapse leaves un-folded
      * (passed through to [[collapseToLatest]]). The default 1 is the
      * reader-race guard; stores that serve AS-OF views over recent
      * generations (the robots policy store's crash-replay gate,
      * [[graft.streaming.CrawlSchedule.policyAsOf]]) raise it so a
      * collapse landing inside the replay window cannot fold the
      * generation a crashed batch's stamp points at. */
    val collapseKeepRecent: Int = 1,
    /** Byte-level durability backend (r15 verdict #3): the snapshot
      * log, floor files and file deletes go through [[graft.FsIO]], so
      * a store rooted at an `hdfs://` path works with `new HadoopFs()`
      * — the parquet data itself reads/writes through Spark's own
      * Hadoop IO. What the log's commit guarantees per backend:
      * [[graft.FsIO]]'s class doc. */
    val fs: graft.FsIO = graft.FsIO.local,
    /** WRITER FENCING (r17): when true, construction claims a writer
      * epoch and every mutator first checks that no newer one exists,
      * throwing [[FencedWriterException]] instead of interleaving
      * commits with a successor — the protocol and its per-backend
      * scope are [[WriterFence]]'s doc. Default off: the check costs
      * one directory listing per mutation, and single-process
      * deployments (every test fixture, the benches) don't need it. */
    val fenced: Boolean = false
) extends GenerationStore {
  import ParquetStore._

  val fullSchema: StructType = GenerationStore.withRstId(schema)

  fs.mkdirs(path)
  /** This handle's fencing token ([[WriterFence]]) — claimed BEFORE the
    * open sweep runs (the sweep deletes files, and a
    * reopen-over-a-live-writer must fence the old handle out first).
    * Null when fencing is off. */
  private val fence: WriterFence =
    if (fenced) new WriterFence(path, tableName, fs) else null
  /** The snapshot log: the store's ONE commit point. */
  private val log = fs.versioned(fs.resolve(path, "_snapshots"))
  fs.mkdirs(log.dir)
  /** The store root as Spark's Hadoop IO sees it: the data files are
    * written, listed once after each write, and read there. */
  private val hfs = new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())
  private val root: HPath = hfs.makeQualified(new HPath(path))
  open()
  /** Volatile: HTTP pool threads read the counter while the streaming
    * thread appends. */
  @volatile private var counter: Long = maxRstId.map(_ + 1L).getOrElse(1L)
  registerView()

  /** Open: a directory the rename-based layout wrote (generation
    * directories, no log) is imported once as the first version — every
    * file under `rst_id=*` was live there. A `.staging_*` entry is a
    * write of that layout that died mid-protocol: refuse and name it
    * rather than guess which copy is whole. Then delete every file under
    * `rst_id=*` the latest snapshot does not name — the debris of a write
    * that died before its commit or of deletes that died after one — and
    * the log's temp files. */
  private def open(): Unit = {
    val entries = fs.list(path)
    if (log.latest().isEmpty) {
      entries.find(_.startsWith(".staging_")).foreach { n =>
        throw new IllegalStateException(s"$tableName@$path: $n is a " +
          "crashed write of the pre-log store layout — restore or delete " +
          "it by hand, then reopen")
      }
      val legacy = entries.collect { case GenDir(g) => g.toLong }
      if (legacy.nonEmpty)
        commit(state(), SortedMap.from(legacy.map(g => g -> dataFiles(g))))
    }
    val snap = state().snap
    entries.foreach {
      case n @ GenDir(g) if !snap.contains(g.toLong) =>
        fs.deleteRecursively(fs.resolve(path, n))
      case n @ GenDir(g) =>
        val named = snap(g.toLong).map(_.name).toSet
        // Hadoop's local connector writes a `.<name>.crc` beside each file.
        def live(f: String) = named(f) ||
          (f.startsWith(".") && f.endsWith(".crc") && named(f.drop(1).dropRight(4)))
        val dir = fs.resolve(path, n)
        fs.list(dir).filterNot(live).foreach(f => fs.deleteRecursively(fs.resolve(dir, f)))
      case _ => ()
    }
    log.sweep(KeptVersions)
  }

  /** The per-mutation fence check ([[WriterFence]]): a NEWER epoch on
    * disk means a successor writer owns the store — fail the mutation
    * BEFORE it touches anything. Called first inside each mutator's
    * lock. */
  private def checkFence(): Unit = if (fence != null) fence.check()

  /** Label the Spark jobs `body` submits (guide §1.5): the store paths
    * run MANY small jobs per fold, and an unlabeled profile/UI cannot
    * attribute them. Thread-local, restored after. */
  private def described[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$tableName:$desc")
    try body finally sc.setJobDescription(prev)
  }

  // ---- THE SNAPSHOT LOG ---------------------------------------------

  /** A committed snapshot and its log version (0: nothing committed
    * yet). The relation over its files, and the store's rows in schema
    * order over it, are built on first read and then kept: every
    * [[selectAll]] of one state returns the SAME frame, so a reader can
    * tell two states apart by reference (the HTTP server's kept answers
    * key on it — the file index compares equal across snapshots). */
  private final class State(val version: Long, val snap: Snapshot) {
    lazy val df: DataFrame = relation(snap)
    lazy val all: DataFrame = ordered(df)
  }
  /** `= _`, not `= null`: an explicit initializer would run after the
    * constructor's `open()`/`registerView()` and drop their entry. */
  @volatile private var cached: State = _

  /** The latest committed state — one listing of the log directory;
    * the version file is read and parsed once per version. Every read,
    * the counter restore, [[generations]] and the change signal come
    * from here, so a commit through ANY handle on this path is seen. */
  private def state(): State = {
    val v = log.latest().getOrElse(0L)
    val c = cached
    if (c != null && c.version == v) c
    else {
      val s = new State(v, if (v == 0L) Empty else decode(fs.read(log.file(v))))
      cached = s
      s
    }
  }

  /** The store's change signal: the latest log version. Every commit
    * through any handle moves it; the HTTP victim-set cache keys on it. */
  private[graft] def snapshotVersion(): Long = state().version

  /** THE commit point of every mutation: land `next` as the log version
    * after `from`'s, then delete what `next` no longer names. A version
    * another writer took in between fails loudly (the fence check ran
    * first; this catches an unfenced second writer). The deletes are
    * best effort — a crash there leaves files no snapshot names, swept
    * at the next open. An unchanged snapshot commits nothing. */
  private def commit(from: State, next: Snapshot): Unit = {
    if (next != from.snap) {
      val version = from.version + 1L
      if (!log.commit(version, encode(next)))
        throw new IllegalStateException(s"$tableName@$path: snapshot " +
          s"version $version was committed by another writer — this store " +
          "is single-writer (fenced = true enforces it)")
      cached = new State(version, next)
      from.snap.foreach { case (g, files) =>
        next.get(g) match {
          case None => fs.deleteRecursively(genDir(g))
          case Some(kept) =>
            val names = kept.map(_.name).toSet
            files.filterNot(f => names(f.name)).foreach { f =>
              fs.delete(fs.resolve(genDir(g), f.name))
              fs.delete(fs.resolve(genDir(g), s".${f.name}.crc"))
            }
        }
      }
      log.sweep(KeptVersions)
    }
    registerView()
  }

  /** Generation `g`'s data files as Spark's Hadoop IO lists them
    * (hidden and `_`-prefixed entries are committer/checksum state). */
  private def dataFiles(g: Long): Vector[DataFile] = {
    val dir = new HPath(root, s"rst_id=$g")
    if (!hfs.exists(dir)) Vector.empty
    else hfs.listStatus(dir).toVector.collect {
      case st if st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_") =>
        DataFile(st.getPath.getName, st.getLen, st.getModificationTime)
    }
  }

  /** Run one Spark write that adds files under the directories of
    * `gens`, and return the files it added, per generation — files
    * already there (live ones, or debris of a crashed or out-of-band
    * write) are never picked up. A failed write deletes what it added,
    * and a directory it created. */
  private def written(gens: Seq[Long])(write: => Unit): Map[Long, Vector[DataFile]] = {
    val existed = gens.filter(g => fs.exists(genDir(g))).toSet
    val before = gens.map(g => g -> dataFiles(g).map(_.name).toSet).toMap
    def added() = gens.map(g => g -> dataFiles(g).filterNot(f => before(g)(f.name))).toMap
    try write catch { case e: Throwable =>
      try gens.foreach { g =>
        if (!existed(g)) fs.deleteRecursively(genDir(g))
        else added()(g).foreach(f => fs.delete(fs.resolve(genDir(g), f.name)))
      } catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
    added()
  }

  /** Every store write: append into existing directories, and no
    * success-marker file (the log, not a marker, is the commit). */
  private def writer(df: DataFrame) =
    df.write.mode("append")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Generation ids in the latest snapshot, ascending — empty ones
    * included, files never listed. */
  def generations: Seq[Long] = state().snap.keys.toSeq

  /** Generation `g`'s partition directory. */
  private def genDir(g: Long): String = fs.resolve(path, s"rst_id=$g")

  /** A4 restore from DURABLE storage: the latest snapshot is the
    * MAX(RST_ID) query (no data read at all). */
  def maxRstId: Option[Long] = state().snap.keys.lastOption

  // ---- APPLIED-FLOOR side channel (r14 verdict #5) ----------------
  // Streamed consumers that replay AS OF a recorded generation stamp
  // ([[graft.streaming.CrawlSchedule.gateAndPace]] → [[policyAsOf]])
  // need that generation to SURVIVE until the batch can no longer
  // replay. The floor lives OUTSIDE the data generations (a dot-dir
  // Spark scans and [[generations]] both ignore), one tiny file per
  // lineage holding the latest stamp in use; [[collapseToLatest]]
  // bounds its fold target to the minimum live floor, so a collapse
  // can never destroy a replay's as-of view. Each new batch of a
  // lineage overwrites its file with the fresh stamp (the floor
  // advances at trigger cadence); a lineage that stops permanently
  // should [[releaseAppliedFloor]] — an abandoned floor pins the
  // collapse target and lets deltas accumulate (bounded disk growth,
  // never wrong answers), the documented operator cleanup.

  private def floorsDir: String = fs.resolve(path, ".applied_floors")

  private def floorFile(scope: String): String = {
    val hex = java.security.MessageDigest.getInstance("SHA-1")
      .digest(scope.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    fs.resolve(floorsDir, s"$hex.floor")
  }

  /** Record (or advance) lineage `scope`'s live as-of stamp: collapse
    * will not fold past the minimum recorded stamp. Committed through
    * [[graft.FsIO.publish]] (r17) — atomic visibility on every
    * backend, object stores included: a crash never leaves a torn
    * floor anywhere. */
  def recordAppliedFloor(scope: String, rst: Long): Unit =
    this.synchronized {
      checkFence()
      fs.mkdirs(floorsDir)
      fs.publish(floorFile(scope),
        rst.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Drop lineage `scope`'s floor (a permanently-stopped consumer). */
  def releaseAppliedFloor(scope: String): Unit = this.synchronized {
    checkFence()
    fs.delete(floorFile(scope))
    ()
  }

  /** The minimum live as-of stamp across lineages, None when no floor
    * is recorded. Directory listing + tiny reads only. */
  def appliedFloor: Option[Long] = {
    if (!fs.isDirectory(floorsDir)) return None
    val vals = fs.list(floorsDir)
      .filter(_.endsWith(".floor"))
      .flatMap { n =>
        // Strict shape, not a character-set filter: "1-2" would pass
        // a digits-or-dash check and then throw from toLong, wedging
        // every collapse behind one corrupt file (review r15).
        val t = new String(fs.read(fs.resolve(floorsDir, n)),
          java.nio.charset.StandardCharsets.UTF_8).trim
        // 19 digits covers Long.MaxValue; the Try guards the one
        // 19-digit string that still overflows (review r15 #7 — an
        // 18-digit cap would silently DROP a legitimate huge stamp,
        // letting collapse fold past a live floor).
        if (t.matches("-?\\d{1,19}"))
          scala.util.Try(t.toLong).toOption
        else None
      }
    if (vals.isEmpty) None else Some(vals.min)
  }

  /** Whether generation `rstId` is live: in the latest snapshot AND its
    * directory still on disk — readers that must distinguish "expired"
    * (or deleted out of band) from "legitimately empty" check this
    * before a [[directFetch]] (which returns zero rows for both). */
  def hasGeneration(rstId: Long): Boolean =
    state().snap.contains(rstId) && fs.exists(genDir(rstId))

  def currentRstId: Long = counter

  /** Streaming append: the partition write below materializes the batch
    * within the trigger — no pre-checkpoint needed (see trait). The
    * [[autoCompactFiles]] guard then compacts the generation this call
    * just sealed, INSIDE the same foreachBatch invocation — the cost is
    * one batch-sized rewrite per trigger (measured in SCALE.md), the
    * payoff is a scan that opens one footer per generation instead of
    * one per shuffle partition per generation. */
  override def appendStreaming(batch: DataFrame): this.type = {
    // Measured and rejected (r18): a REBALANCE hint at write time
    // (guide §6 "coalesce on write") to pre-empt the autoCompact
    // rewrite — the extra shuffle stage per append cost MORE across
    // the store-fold family (k64 ring +3 s) than the occasional
    // compact it saved; appends whose plans end in a shuffle already
    // land few files via AQE coalescing, so compact fires mostly on
    // mapPartitions-shaped batches where it is the cheaper backstop.
    append(batch)
    if (autoCompactFiles > 0L) {
      val sealedGen = currentRstId - 1L
      if (generationFileCount(sealedGen) > autoCompactFiles) compact(sealedGen)
    }
    // Re-snapshot AFTER the delta is sealed (keepRecent = 1 keeps the
    // generation this call just wrote intact — see collapseToLatest).
    if (collapseEvery > 0L && collapseKeys.nonEmpty &&
      generations.length > collapseEvery)
      collapseToLatest(collapseKeys, collapseKeepRecent)
    this
  }

  /** Append = write generation [[currentRstId]]'s files, commit. A
    * failed write deletes its files and leaves the counter, so the same
    * id succeeds on retry. */
  def append(batch: DataFrame): this.type = this.synchronized {
    checkFence()
    val cur = state()
    commit(cur, withAppended(cur.snap, batch))
    counter += 1
    this
  }

  /** `snap` plus `batch` written as generation [[counter]] — and, at the
    * auto-clean cadence, minus what retention expires. Writes files,
    * commits nothing. */
  private def withAppended(snap: Snapshot, batch: DataFrame): Snapshot = {
    val g = counter
    val grown = snap ++ written(Seq(g))(described("append")(
      writer(GenerationStore.align(batch, schema)).parquet(genDir(g))))
    // Count-based retention and collapse are mutually exclusive: under
    // a collapse policy the base generation sits at an OLD slot while
    // the counter keeps rising, so counting-window retention would
    // eventually expire the base — the whole accumulated state. (It
    // was already wrong for delta-keyed stores WITHOUT collapse: any
    // key untouched for cleanInterval appends lost its latest row.)
    if (collapseEvery <= 0L && (g + 1L) % cleanFreq == 0)
      grown.filter(_._1 >= GenerationStore.retentionFloor(g + 1L, -1L, cleanInterval))
    else grown
  }

  /** MERGE upsert, durable form — same contract as [[RecentStore.merge]]
    * (matched keys replaced wherever they live, batch stamped with the
    * merge generation, untouched rows keep theirs) realized as
    * COPY-ON-WRITE: each existing generation that contains a matched key
    * is rewritten without those rows (untouched generations are not
    * rewritten — the semi-join probe prunes them), the batch is written
    * as the new generation, and ONE snapshot commits both — the file-level
    * plan a Delta/Iceberg MERGE runs. A crash anywhere before the commit
    * leaves the pre-merge store; after it, the merged one. */
  def merge(batch: DataFrame, keys: Seq[String]): this.type = this.synchronized {
    checkFence()
    GenerationStore.requireKeyColumns("merge", schema, keys)
    // Pinned: read once per touched generation + once for the append —
    // and never re-derived from source files the rewrites may replace.
    val pinned = GenerationStore.align(batch, schema).localCheckpoint(eager = true)
    val batchKeys = pinned.select(keys.map(col): _*).distinct()
      .localCheckpoint(eager = true)
    val cur = state()
    commit(cur, withAppended(withoutKeys(cur.snap, batchKeys, keys)._1, pinned))
    counter += 1
    this
  }

  /** PHYSICAL key erasure — the compliance half of a takedown
    * ([[Takedown]] holds the full story: the LOGICAL half is the
    * read/ingest-side anti-join, applied immediately; this call makes
    * the removal durable on disk). Every generation containing a
    * victim key is rewritten without those rows, copy-on-write; after
    * it returns, no parquet file under the store holds a victim row —
    * the property a right-to-be-forgotten request actually demands,
    * which retention (whole-directory expiry) and collapse (latest-
    * per-key keeps the newest victim row) cannot provide.
    *
    * Scale: the probe is ONE semi-join of the store against the victim
    * keys (victim lists are small — broadcast side), and only TOUCHED
    * generations are rewritten — on a collapse-managed store that is
    * the base + whichever deltas mention a victim, a bounded rewrite
    * amortized exactly like the collapse itself. Returns the number of
    * generations rewritten. One snapshot commits every rewrite: a crash
    * before it leaves the store un-erased (re-run to finish), after it
    * erased; re-runs are idempotent (erased generations no longer probe
    * as touched). */
  def eraseKeys(victims: DataFrame, keys: Seq[String]): Long =
    this.synchronized {
      checkFence()
      GenerationStore.requireKeyColumns("erase", schema, keys)
      eraseKeysPinned(GenerationStore.align(victims, StructType(keys.map(schema(_))))
        .distinct().localCheckpoint(eager = true), keys)
    }

  /** [[eraseKeys]] for a victim frame the caller has ALREADY pinned
    * (localCheckpoint), deduplicated, and projected to exactly `keys`
    * in the store's column types — the ring-trim shape, where the
    * victims come out of a latest-per-key window (unique per key by
    * construction) and are pinned for the no-victim probe anyway
    * (r18, guide §1.2): re-normalizing here was one redundant
    * distinct shuffle + checkpoint job per trim. Callers that cannot
    * prove all three properties use [[eraseKeys]]. */
  private[graft] def eraseKeysPinned(victimKeys: DataFrame,
                                     keys: Seq[String]): Long =
    this.synchronized {
      checkFence()
      GenerationStore.requireKeyColumns("erase", schema, keys)
      val cur = state()
      val (next, touched) = withoutKeys(cur.snap, victimKeys, keys)
      commit(cur, next)
      touched
    }

  /** The touched-generation copy-on-write delete shared by [[merge]]
    * and [[eraseKeys]]: `snap` with every generation holding a matched
    * key replaced by a rewrite without those rows, and how many
    * generations that was. `matchKeys` must be pinned (localCheckpoint)
    * by the caller. Writes files, commits nothing. */
  private def withoutKeys(snap: Snapshot, matchKeys: DataFrame,
                          keys: Seq[String]): (Snapshot, Long) = {
    // ONE job finds the touched generations (the file-pruning step of a
    // table-format MERGE): a semi-join of the whole store against the
    // batch keys, projected to distinct rst_ids.
    val touched = described("erase-probe")(
      raw(None).join(matchKeys, keys, "left_semi")
        .select("rst_id").distinct()
        .collect().map(_.getLong(0))).sorted.toSeq
    if (touched.isEmpty) return (snap, 0L)
    // ONE job rewrites EVERY touched generation (r17, guide §1.2: a
    // per-generation loop paid one Spark job of fixed overhead each):
    // the anti-join writes each touched generation's survivors into its
    // own `rst_id=<g>` directory via partitionBy. A generation whose
    // every row matched gets no file and stays in the snapshot, empty.
    val added = written(touched)(described("erase-rewrite")(
      writer(raw(Some(col("rst_id").isin(touched.map(Long.box): _*)))
        .join(matchKeys, keys, "left_anti"))
        .partitionBy("rst_id").parquet(path)))
    (snap ++ added, touched.length.toLong)
  }

  /** K4 retention as partition-directory deletes — no row-level work. */
  def clean(interval: Long = -1L): this.type = this.synchronized {
    checkFence()
    val cur = state()
    commit(cur, cur.snap.filter(_._1 >=
      GenerationStore.retentionFloor(counter, interval, cleanInterval)))
    this
  }

  /** Retention keyed to an EXTERNAL commit point rather than a generation
    * count: delete every generation BELOW `keepFrom`. This is what a
    * multi-store coordinator ([[PrefixIndexStore]]) uses — its snapshots
    * span several appends, so counting generations (cleanInterval) would
    * expire a live snapshot's base out from under its append chain. */
  def cleanBelow(keepFrom: Long): this.type = this.synchronized {
    checkFence()
    val cur = state()
    commit(cur, cur.snap.filter(_._1 >= keepFrom))
    this
  }

  /** Crash-recovery GC for a coordinator whose commit point lives OUTSIDE
    * this store: delete every generation ABOVE `committed` (orphans from a
    * crash between a multi-store sequence's appends) and realign the
    * counter to `committed + 1`, so the next append reuses the orphaned
    * id and lockstep ids stay dense. No-op when nothing is above. */
  def truncateAbove(committed: Long): this.type = this.synchronized {
    checkFence()
    val cur = state()
    commit(cur, cur.snap.filter(_._1 <= committed))
    counter = committed + 1L
    this
  }

  /** Parquet files currently making up generation `rstId` (0 when the
    * generation is absent) — the small-files health signal [[compact]]
    * acts on. */
  def generationFileCount(rstId: Long): Long =
    state().snap.get(rstId).fold(0L)(_.size.toLong)

  /** OPTIMIZE for one generation: rewrite its files into `numFiles`
    * (default 1) without changing a row or the generation's identity —
    * the small-files maintenance every streaming parquet sink needs (each
    * micro-batch append lands one generation with up to
    * shuffle-partitions files; thousands of batches = a scan that opens
    * thousands of footers). The new files land beside the old, one
    * snapshot swaps them, then the old are deleted — readers of the
    * previous snapshot racing that delete see `ignoreMissingFiles`
    * semantics. A no-op for absent generations. */
  def compact(rstId: Long, numFiles: Int = 1): this.type = this.synchronized {
    checkFence()
    require(numFiles >= 1, "numFiles must be positive")
    val cur = state()
    if (cur.snap.contains(rstId))
      commit(cur, cur.snap ++ written(Seq(rstId))(described("compact")(
        writer(raw(Some(col("rst_id") === rstId)).drop("rst_id")
          .repartition(numFiles)).parquet(genDir(rstId)))))
    this
  }

  /** RE-SNAPSHOT (r12 verdict #1 — `ParquetStore.scala:296`'s named
    * upgrade): collapse every generation EXCEPT the newest `keepRecent`
    * into ONE latest-per-key BASE occupying the highest collapsed
    * generation's slot, then delete the older directories. Reads are
    * EQUIVALENT before and after (spec-pinned): for every key, the row
    * with the maximum rst_id survives with an rst_id no smaller than
    * any collapsed rival's, so latest-per-key windows, key anti-joins
    * and full scans of CURRENT state see the same answers — what
    * changes is the asymptote: a long-running streamed consumer reads
    * one base + a bounded delta tail instead of the full append
    * history (O(keys), not O(age)).
    *
    * Placement matters: the base lands at the highest COLLAPSED slot —
    * below every kept delta — so kept deltas still override it in
    * latest-per-key reads; a base written at a NEW top slot would
    * shadow them. One snapshot commits the base AND drops the older
    * generations; their directories are deleted after it.
    *
    * `keepRecent ≥ 1` (default) preserves the newest delta
    * un-collapsed, so readers tailing the most recent generation
    * (`recent(1)` probes, lockstep coordinators) never race a rewrite
    * of the directory they just observed; streamed-consumer REPLAY
    * does not depend on it —
    * [[graft.streaming.CrawlSchedule.scheduleBatch]] restores a
    * replayed batch's pre-state from the RECORDED `prev_n`/`prev_next`
    * columns the crashed delta itself carries (arithmetic
    * reconstruction is only the legacy-null fallback), precisely so a
    * re-snapshot may fold any delta at any time.
    *
    * Keys: rows within one generation must be unique per key (true for
    * every delta writer in the repo — `scheduleBatch` aggregates per
    * domain, `dedupAppendByKey` windows per key); ties within a
    * generation would collapse to an arbitrary row. No-op below two
    * collapsible generations.
    *
    * Scope: this policy is for DELTA-KEYED stores only — stores whose
    * current state is latest-row-per-key. Append-log stores whose
    * rows are all simultaneously live, and multi-store lockstep
    * indexes, must NOT use it; [[PrefixIndexStore]]'s class doc states
    * the rule and why its snapshot-keyed retention is the correct twin
    * idiom there (r13 verdict #4). */
  def collapseToLatest(keys: Seq[String], keepRecent: Int = 1): this.type =
    this.synchronized {
      checkFence()
      GenerationStore.requireKeyColumns("collapse", schema, keys)
      val cur = state()
      val gens = cur.snap.keys.toSeq
      // The fold target never passes a LIVE as-of stamp (r14 verdict
      // #5): policyAsOf(rst) stays exact as long as some generation
      // ≤ rst survives and the fold target T ≤ rst — bounding the
      // collapsed set to generations ≤ min(live floors) guarantees
      // both, closing the documented replay residual outright.
      val floor = appliedFloor.getOrElse(Long.MaxValue)
      val toCollapse =
        (if (keepRecent <= 0) gens else gens.dropRight(keepRecent))
          .takeWhile(_ <= floor)
      if (toCollapse.length >= 2) {
        val target = toCollapse.last
        val base = written(Seq(target))(described("collapse")(
          writer(latestRows(raw(Some(col("rst_id") <= target)), keys)
            .drop("rst_id")).parquet(genDir(target))))
        commit(cur, cur.snap.filter(_._1 > target) ++ base)
      }
      this
    }

  /** TIME-TRAVEL read for delta-keyed stores: the latest row per `keys`
    * among generations ≤ `rst` — exactly the state a consumer saw when
    * `rst` was the newest generation (the generic form of the robots
    * gate's crash-replay view, [[graft.streaming.CrawlSchedule
    * .policyAsOf]], which adds its domain-specific fallbacks on top).
    * Partition-prunes to the named generations before the window.
    *
    * Validity window: the view is exact only while those generations
    * survive — a collapse folds history below its target slot (size
    * the window with `collapseKeepRecent`, the robots store's
    * `keepRecent = 4` pattern) and count-based retention deletes
    * directories outright. Callers needing deep history keep full
    * history (`collapseEvery = 0`) or snapshot externally; a table
    * format's snapshot isolation is the documented upgrade. */
  def asOfLatestPerKey(keys: Seq[String], rst: Long): DataFrame = {
    require(keys.nonEmpty, "asOf needs at least one key column")
    latestRows(raw(Some(col("rst_id") <= rst)), keys)
  }

  /** Latest row per key over the whole store — [[asOfLatestPerKey]] at
    * the newest generation: what every delta-keyed consumer reads
    * (the crawl scheduler's host state, the robots policy table, the
    * recrawl stats). */
  def latestPerKey(keys: Seq[String]): DataFrame =
    asOfLatestPerKey(keys, Long.MaxValue)

  /** The ONE latest-row-per-key window: per `keys`, the row with the
    * highest `rst_id`. [[asOfLatestPerKey]], [[latestPerKeySemi]] and
    * [[collapseToLatest]] all rank through it, so a tie-break or
    * pruning fix lands here once, not per caller. */
  private def latestRows(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows
      .withColumn("_rk", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("rst_id").desc)))
      .filter(col("_rk") === 1)
      .drop("_rk")

  /** [[latestPerKey]] restricted to the rows matching `probe` on `on`
    * — a PREFIX of `keys`, so the semi-join drops whole window
    * partitions and lands BELOW the dedup window (r18, guide §2.3:
    * filter before the shuffle). Identical rows for the probed keys;
    * the window then runs over O(matching rows) instead of the whole
    * store — for a batch-keyed consumer (ring trim, host-state
    * schedule) the difference between a batch-bounded and a
    * corpus-bounded pass per trigger. Catalyst does not push a
    * semi-join through a window on its own, hence the explicit
    * placement. */
  def latestPerKeySemi(keys: Seq[String], probe: DataFrame,
                       on: Seq[String],
                       /** As-of bound, [[asOfLatestPerKey]]'s `rst` —
                         * default = the newest generation. */
                       rst: Long = Long.MaxValue): DataFrame = {
    require(on.nonEmpty && keys.startsWith(on),
      s"latestPerKeySemi: [$on] must be a prefix of the window keys [$keys]")
    latestRows(
      raw(if (rst == Long.MaxValue) None else Some(col("rst_id") <= rst))
        .join(probe.select(on.map(col): _*).distinct(), on, "left_semi"),
      keys)
  }

  /** Whether a replay-guarded consumer already applied
    * `(scope, batchId)` — the collapse-proof at-least-once probe
    * shared by every sentinel-stamping store (see [[ParquetStore
    * .sentinelKey]]). Scans all generations pruned to the two guard
    * columns (bounded: the store is collapse-managed); requires the
    * store schema to carry `scope` and `batch_id`. Ad-hoc batches
    * (id < 0) never count as applied. */
  def batchApplied(scope: String, batchId: Long): Boolean =
    batchId >= 0 && described("applied-probe")(
      !selectAll.select(col("scope"), col("batch_id"))
        .filter(col("scope") <=> lit(scope) &&
          col("batch_id") === batchId).isEmpty)


  /** Snapshot read: the relation is built from the latest snapshot's
    * file statuses, with rst_id coming back as a column from the
    * directory names. Filters applied HERE hit the raw partition column,
    * so they prune whole generation directories at planning time. The
    * schema is PROVIDED, not inferred — an appended EMPTY batch leaves a
    * data-less generation, and inference over only-empty generations
    * would throw where the in-memory twin serves zero rows.
    *
    * Readers of the PREVIOUS snapshot racing the deletes after a commit
    * see files vanish mid-scan; `ignoreMissingFiles` (scoped to THIS
    * read, not the session) makes that a graceful skip of superseded
    * files instead of a failed query. */
  private def raw(filter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val st = state()
    filter.fold(st.all)(cond => ordered(st.df.filter(cond)))
  }

  /** The store's columns, in schema order. */
  private def ordered(df: DataFrame): DataFrame =
    df.select(fullSchema.fieldNames.map(col).toIndexedSeq: _*)

  /** The relation over `snap`'s files, built on the DRIVER without a
    * directory listing: Spark's file index takes its leaf files from a
    * [[FileStatusCache]] that answers from the snapshot. Handing Spark
    * the file paths instead would launch a listing JOB past 32 paths
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`); a
    * listing of the root does the same past 32 generation directories. */
  private def relation(snap: Snapshot): DataFrame = {
    val leaves: Array[FileStatus] = snap.iterator.flatMap { case (g, files) =>
      files.map(f => new FileStatus(f.size, false, 1, 128L << 20, f.mtime,
        new HPath(root, s"rst_id=$g/${f.name}")))
    }.toArray
    if (leaves.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
    val fromSnapshot = new FileStatusCache {
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] = Some(leaves)
      override def putLeafFiles(p: HPath, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> root.toString, "ignoreMissingFiles" -> "true")
    val index = new InMemoryFileIndex(spark, Seq(root), options,
      Some(fullSchema), fromSnapshot)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema, None, new ParquetFileFormat, options)(spark))
  }

  /** Q1 select-all: one frame per committed state (see `State`). */
  def selectAll: DataFrame = raw(None)

  /** Q2 SQL over the registered view. */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Q11 recent-N — partition-prunes to the last n generation dirs. */
  def recent(n: Long): DataFrame = raw(Some(col("rst_id") >= counter - n))

  /** Q12 direct generation fetch — one partition directory. */
  def directFetch(rstId: Long): DataFrame = raw(Some(col("rst_id") === rstId))

  /** Ring get_onwards (`models.py:768-772`). */
  def getOnwards(rstId: Long): DataFrame = raw(Some(col("rst_id") >= rstId))

  /** Q4 reset: drop every generation, rewind the counter — the durable
    * analog of reconnect-on-:memory:. */
  def reset(): this.type = this.synchronized {
    checkFence()
    commit(state(), Empty)
    if (fs.isDirectory(floorsDir)) fs.deleteRecursively(floorsDir)
    counter = 1L
    this
  }

  private def registerView(): Unit =
    selectAll.createOrReplaceTempView(tableName)
}
