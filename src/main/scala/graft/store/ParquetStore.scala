package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The DURABLE deployment of the serving-store contract — what SCALE.md
  * prescribes for production: one parquet partition directory per
  * generation (`<path>/rst_id=N/`), so
  *
  *   - append = write one new partition (no rewrite of existing data),
  *   - retention = DELETE whole partition directories (no row-level work),
  *   - restart = recover `MAX(rst_id)+1` from the directory listing — the
  *     A4 restore (`models.py:526-536`) from durable storage instead of a
  *     live DataFrame,
  *   - reads partition-prune on `rst_id` (recent-N / direct fetch touch
  *     only the directories they name).
  *
  * Mirrors [[RecentStore]]'s generation semantics exactly (stamp → append →
  * bump → auto-clean at cleanFreq multiples); the two are interchangeable
  * behind the same query surface, which the spec pins by running the SAME
  * scenario against both. Local filesystem here; the layout is what any
  * object store / Delta table would carry.
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
      * the just-SEALED generation (atomic rename already done — never a
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
    /** Byte-level durability backend (r15 verdict #3): the generation
      * swaps, floor files, and directory listings go through
      * [[graft.FsIO]], so a store rooted at an `hdfs://` path works
      * with `new HadoopFs()` — the parquet data itself already reads/
      * writes through Spark's own Hadoop IO. Atomicity contract per
      * backend: [[graft.FsIO]]'s class doc (S3 excluded). */
    val fs: graft.FsIO = graft.FsIO.local,
    /** WRITER FENCING (r17): enforce the single-writer contract the
      * class doc has so far only documented. When true, construction
      * CLAIMS a fresh writer epoch — an immutable, uniquely-named
      * `epoch.<N>` file landed via [[graft.FsIO.rename]]'s no-replace
      * contract (atomic create on nio and HDFS) — and every mutator
      * first checks that no NEWER epoch exists, throwing
      * [[FencedWriterException]] instead of interleaving swaps with a
      * successor writer (the classic fencing-token pattern: a stale
      * writer is fenced OUT at its next commit; a crashed writer needs
      * no release step — takeover is just a higher claim, there is no
      * lock to leak). Object-store scoping, honestly: the claim rides
      * the connector's rename, which on s3a/gs is copy-then-delete —
      * two simultaneous first claims can race there — but the
      * steady-state guarantee (a fenced-out writer FAILS its next
      * mutation instead of corrupting) holds on every backend, because
      * the fence check is a listing, not a lock. Default off: the
      * check costs one directory listing per mutation, and
      * single-process deployments (every test fixture, the benches)
      * don't need it. */
    val fenced: Boolean = false
) extends GenerationStore {

  val fullSchema: StructType = GenerationStore.withRstId(schema)

  fs.mkdirs(path)
  /** This handle's fencing token ([[WriterFence]]) — claimed BEFORE
    * crash recovery runs (recovery itself mutates, and a
    * reopen-over-a-live-writer must fence the old handle out before
    * either touches a swap). Null when fencing is off. */
  private val fence: WriterFence =
    if (fenced) new WriterFence(path, tableName, fs) else null
  recoverCrashedSwaps()
  /** Volatile: HTTP pool threads read the counter while the streaming
    * thread appends. */
  @volatile private var counter: Long = maxRstId.map(_ + 1L).getOrElse(1L)
  registerView()

  /** Crash recovery for the generation swaps (r16 verdict #3). The
    * copy-on-write paths — [[merge]]/[[eraseKeys]]'s rewrites,
    * [[compact]], [[collapseToLatest]] — stage a complete replacement,
    * DELETE the original `rst_id=<g>` directory, then rename the
    * staging in. In-process failures are handled at each site; a
    * PROCESS death between the delete and the rename leaves
    * `.staging_{rw,cp,cl}_<g>` holding the only copy of generation g,
    * and without this sweep a reopened store would silently serve
    * without it. Run once at open (the store is single-writer by
    * contract):
    *
    *   - stray with a `_SUCCESS` marker → PROMOTE, whether or not the
    *     target directory still exists: the delete only ever starts
    *     after the staged job completed, and `deleteRecursively` is
    *     NOT atomic — a death mid-delete leaves a PARTIAL target
    *     (review r17: treating "target present" as "swap completed or
    *     never started" would delete the only complete copy and serve
    *     a half-unlinked generation). Promoting re-runs the swap —
    *     correct in every crash state: before the delete it completes
    *     the staged operation (idempotent at the caller), mid-delete
    *     it replaces the torn directory, after it it is the crashed
    *     rename itself;
    *   - stray without the marker + target present → delete the stray
    *     (a torn staged write; the original was never touched);
    *   - stray without the marker + target missing → left on disk,
    *     loudly (not a state any crash point of the protocol
    *     produces).
    *
    * Append staging (`.staging_<n>`) is always swept: an uncommitted
    * append is the at-least-once replay case — its batch re-runs
    * behind the sentinel guard — and promoting one would commit a
    * batch its caller saw fail. */
  private def recoverCrashedSwaps(): Unit = {
    promoteOrClearMultiStaging()
    val swapRe = "^\\.staging_(?:rw|cp|cl)_(\\d+)$".r
    fs.list(path).foreach { n =>
      swapRe.findFirstMatchIn(n) match {
        case Some(m) =>
          val stray = fs.resolve(path, n)
          val g = m.group(1).toLong
          if (fs.exists(fs.resolve(stray, "_SUCCESS"))) promote(stray, g)
          else if (fs.exists(genDir(g))) fs.deleteRecursively(stray)
          else
            System.err.println(s"[graft] $tableName: stray $n has no " +
              "_SUCCESS marker and no live target — left for the operator")
        case None =>
          if (n.matches("^\\.staging_\\d+$"))
            fs.deleteRecursively(fs.resolve(path, n))
      }
    }
  }

  /** Promote-or-clear a leftover multi-generation rewrite staging
    * ([[rewriteWithoutKeys]]: one root, `rst_id=<g>` subdirs). Shared
    * by [[recoverCrashedSwaps]] at open AND by [[rewriteWithoutKeys]]
    * before it stages anew — advice r17 (high): clearing a leftover
    * staging blind from the next in-process mutation destroyed the
    * ONLY copy of a generation whose swap had died after
    * `deleteRecursively(original)`.
    *
    * The commit point is OUR marker `_GRAFT_COMMIT`, written only
    * after the fully-matched-generation compensation (every touched
    * generation has a staged subdir by then) — advice r17: Spark's
    * `_SUCCESS` lands BEFORE that compensation, so gating on it could
    * promote the other generations while leaving a fully-matched one
    * unerased, a silently partial erase reported as recovered.
    *
    *   - marker present → every remaining subdir is the committed
    *     rewrite of a generation whose swap may have died anywhere:
    *     promote it (already-swapped generations moved their subdir
    *     OUT, so nothing double-applies; a torn half-deleted target is
    *     replaced);
    *   - marker absent → the swap loop never started, originals are
    *     intact, the staging is redundant — EXCEPT a pre-marker
    *     (`_SUCCESS`-only, older binary) staging, where a subdir whose
    *     target is MISSING is still the sole copy and is promoted. */
  private def promoteOrClearMultiStaging(): Unit = {
    val multi = fs.resolve(path, ".staging_rw_multi")
    if (!fs.exists(multi)) return
    val committed = fs.exists(fs.resolve(multi, "_GRAFT_COMMIT"))
    val legacy = !committed && fs.exists(fs.resolve(multi, "_SUCCESS"))
    fs.list(multi).filter(_.startsWith("rst_id=")).foreach { n =>
      val g = n.stripPrefix("rst_id=").toLong
      if (committed || (legacy && !fs.exists(genDir(g))))
        promote(fs.resolve(multi, n), g)
    }
    fs.deleteRecursively(multi)
  }

  /** Recovery's promote: the staged copy `stray` replaces generation `g`
    * (a torn, half-deleted target included). */
  private def promote(stray: String, g: Long): Unit = {
    fs.deleteRecursively(genDir(g))
    fs.rename(stray, genDir(g))
    System.err.println(s"[graft] $tableName: promoted crashed swap $stray -> rst_id=$g")
  }

  // ---- WRITER FENCING (r17) ---------------------------------------
  // The claim/check protocol lives in [[WriterFence]] (it also serves
  // the repo's OTHER one-writer-per-directory contracts — zipnum
  // cluster and WARC export dirs); this store just claims one at open
  // and checks it at the top of every mutator.

  /** The per-mutation fence check: a NEWER epoch on disk means a
    * successor writer owns the store — fail the mutation BEFORE it
    * touches anything. One directory listing; called inside each
    * mutator's lock. */
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

  /** All generation ids currently on disk, ascending — a directory
    * listing, no data read. Staging dirs (`.staging_*`, from in-flight or
    * failed writes) never match, so a crashed half-written generation is
    * invisible to reads AND to counter restore. Readers whose validity
    * depends on a RANGE of generations (the prefix-index append log's
    * contiguity guard) check it too. */
  def generations: Seq[Long] =
    fs.list(path)
      .collect { case n if n.startsWith("rst_id=") => n.stripPrefix("rst_id=").toLong }
      .sorted

  /** Generation `g`'s partition directory. */
  private def genDir(g: Long): String = fs.resolve(path, s"rst_id=$g")

  /** Delete the generation directories whose ids satisfy `which` —
    * retention, truncation, reset and the collapse clean-up all expire
    * data this way. */
  private def deleteGenerations(which: Long => Boolean): Unit =
    generations.filter(which).foreach(g => fs.deleteRecursively(genDir(g)))

  /** A4 restore from DURABLE storage: the directory listing is the
    * MAX(RST_ID) query (no data read at all). */
  def maxRstId: Option[Long] = generations.lastOption

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

  /** Whether generation `rstId` is currently on disk — readers that must
    * distinguish "expired by retention" from "legitimately empty" check
    * this before a [[directFetch]] (which returns zero rows for both). */
  def hasGeneration(rstId: Long): Boolean = generations.contains(rstId)

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

  /** Append = stage → atomic rename. Writing straight to `rst_id=N` would
    * wedge the store on one failed write (errorifexists meets the partial
    * directory on every retry) and serve half-written data after a crash;
    * the staged directory is deleted on failure and never matches
    * [[generations]]. */
  def append(batch: DataFrame): this.type = this.synchronized {
    checkFence()
    val staging = fs.resolve(path, s".staging_$counter")
    try {
      described("append")(GenerationStore.align(batch, schema)
        .write.mode("overwrite").parquet(staging))
      fs.rename(staging, genDir(counter))
    } catch { case e: Throwable =>
      if (fs.exists(staging)) fs.deleteRecursively(staging)
      throw e
    }
    counter += 1
    // Count-based retention and collapse are mutually exclusive: under
    // a collapse policy the base generation sits at an OLD slot while
    // the counter keeps rising, so counting-window retention would
    // eventually expire the base — the whole accumulated state. (It
    // was already wrong for delta-keyed stores WITHOUT collapse: any
    // key untouched for cleanInterval appends lost its latest row.)
    if (collapseEvery <= 0L && counter % cleanFreq == 0)
      deleteGenerations(_ < GenerationStore.retentionFloor(counter, -1L, cleanInterval))
    registerView()
    this
  }

  /** MERGE upsert, durable form — same contract as [[RecentStore.merge]]
    * (matched keys replaced wherever they live, batch stamped with the
    * merge generation, untouched rows keep theirs) realized as
    * COPY-ON-WRITE: each existing generation that contains a matched key
    * is rewritten without those rows (stage → swap, untouched generations
    * are not rewritten — the semi-join probe prunes them), then the batch
    * appends as the new generation. This is exactly the file-level plan a
    * Delta/Iceberg MERGE runs, minus the transaction log: the
    * delete-then-rename swap has a crash window a table format would close
    * with an atomic commit — the documented upgrade path, not something a
    * bare filesystem can express. */
  def merge(batch: DataFrame, keys: Seq[String]): this.type = this.synchronized {
    checkFence()
    GenerationStore.requireKeyColumns("merge", schema, keys)
    // Pinned: read once per touched generation + once for the append —
    // and never re-derived from source files the rewrites may replace.
    val pinned = GenerationStore.align(batch, schema).localCheckpoint(eager = true)
    val batchKeys = pinned.select(keys.map(col): _*).distinct()
      .localCheckpoint(eager = true)
    rewriteWithoutKeys(batchKeys, keys)
    append(pinned)
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
    * generations rewritten. Crash behavior is [[merge]]'s: each swap
    * is stage → delete → atomic rename, and a crash mid-loop leaves
    * already-rewritten generations erased and the rest intact — re-run
    * to finish (idempotent: erased generations no longer probe as
    * touched). */
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
      val n = rewriteWithoutKeys(victimKeys, keys)
      registerView()
      n
    }

  /** The touched-generation copy-on-write delete shared by [[merge]]
    * and [[eraseKeys]]: rewrite every generation holding a matched key
    * without those rows. `matchKeys` must be pinned (localCheckpoint)
    * by the caller — the rewrites replace the files a lazy plan would
    * re-read. Returns how many generations were rewritten. */
  private def rewriteWithoutKeys(matchKeys: DataFrame,
                                 keys: Seq[String]): Long = {
    // ONE job finds the touched generations (the file-pruning step of a
    // table-format MERGE): a semi-join of the whole store against the
    // batch keys, projected to distinct rst_ids — not a probe job plus a
    // full directory listing per generation.
    val touched = described("erase-probe")(
      raw(None).join(matchKeys, keys, "left_semi")
        .select("rst_id").distinct()
        .collect().map(_.getLong(0))).sorted
    if (touched.isEmpty) return 0L
    // ONE staged job rewrites EVERY touched generation (r17, guide
    // §1.2: the old per-generation loop paid one full Spark job of
    // fixed overhead per generation — the store-fold bench queries ran
    // visible trains of ~240 ms erase jobs): the anti-join over the
    // touched generations writes `rst_id=<g>` subdirs under one
    // staging root via partitionBy, so the row volume of all
    // generations rides one job. The swaps start only after the WHOLE
    // staged copy is committed (`_SUCCESS`) — strictly tighter than
    // the old loop, which swapped generation k before staging k+1.
    // A leftover staging from a PRIOR failed swap (process still alive,
    // so reopen recovery never ran) may hold the only copy of a
    // generation — promote it exactly like reopen recovery would before
    // clearing (advice r17, high).
    promoteOrClearMultiStaging()
    val staging = fs.resolve(path, ".staging_rw_multi")
    var staged = false
    try {
      described("erase-rewrite")(
        raw(Some(col("rst_id").isin(touched.map(Long.box): _*)))
          .join(matchKeys, keys, "left_anti")
          .write.partitionBy("rst_id").mode("overwrite").parquet(staging))
      staged = true
      // A generation whose every row matched writes no subdir: stage an
      // EMPTY directory for it, so the uniform swap below leaves the
      // generation present-but-empty exactly like the old per-
      // generation rewrite did (generation ids must survive — counter
      // restore and lockstep-contiguity guards read the listing).
      touched.foreach { g =>
        val sub = fs.resolve(staging, s"rst_id=$g")
        if (!fs.exists(sub)) fs.mkdirs(sub)
      }
      // OUR commit point (advice r17): only now does every touched
      // generation have a staged subdir, so recovery gated on this
      // marker always covers every touched generation — including the
      // fully-matched ones Spark's `_SUCCESS` predates. The marker
      // lists the touched ids for the operator.
      fs.publish(fs.resolve(staging, "_GRAFT_COMMIT"),
        touched.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      for (g <- touched) {
        val original = genDir(g)
        fs.deleteRecursively(original)
        fs.rename(fs.resolve(staging, s"rst_id=$g"), original)
      }
      fs.deleteRecursively(staging)
    } catch { case e: Throwable =>
      if (!staged) {
        // The staged write itself failed — originals are untouched, the
        // partial staging is redundant.
        if (fs.exists(staging)) fs.deleteRecursively(staging)
      } else {
        // A swap failed mid-loop: every remaining staged subdir may be
        // the ONLY copy of its generation's unmatched rows (its
        // original may already be deleted). In-process recovery: finish
        // the swaps whose original is gone; anything that still fails
        // (a dead-process model where every fs call throws) is left
        // staged for recovery ([[promoteOrClearMultiStaging]] promotes
        // `.staging_rw_multi` subdirs under `_GRAFT_COMMIT` — at
        // reopen, or before the next in-process rewrite).
        try touched.foreach { g =>
          val sub = fs.resolve(staging, s"rst_id=$g")
          val original = genDir(g)
          if (fs.exists(sub) && !fs.exists(original)) {
            fs.rename(sub, original)
          }
        } catch { case _: Throwable => () }
      }
      throw e
    }
    touched.length.toLong
  }

  /** K4 retention as partition-directory deletes — no row-level work. */
  def clean(interval: Long = -1L): this.type = this.synchronized {
    checkFence()
    deleteGenerations(_ < GenerationStore.retentionFloor(counter, interval, cleanInterval))
    registerView()
    this
  }

  /** Retention keyed to an EXTERNAL commit point rather than a generation
    * count: delete every generation BELOW `keepFrom`. This is what a
    * multi-store coordinator ([[PrefixIndexStore]]) uses — its snapshots
    * span several appends, so counting generations (cleanInterval) would
    * expire a live snapshot's base out from under its append chain. */
  def cleanBelow(keepFrom: Long): this.type = this.synchronized {
    checkFence()
    deleteGenerations(_ < keepFrom)
    registerView()
    this
  }

  /** Crash-recovery GC for a coordinator whose commit point lives OUTSIDE
    * this store: delete every generation ABOVE `committed` (orphans from a
    * crash between a multi-store sequence's appends) and realign the
    * counter to `committed + 1`, so the next append reuses the orphaned
    * id and lockstep ids stay dense. No-op when nothing is above. */
  def truncateAbove(committed: Long): this.type = this.synchronized {
    checkFence()
    deleteGenerations(_ > committed)
    counter = committed + 1L
    registerView()
    this
  }

  /** Replace generation `g` with `rows`: stage to `.staging_<tag>_<g>`,
    * delete the original, atomic rename. A failed staged write deletes
    * the staging; a failure after the delete leaves the staged copy as
    * the only copy — plain-rename fallback, else it stays on disk for
    * reopen recovery ([[recoverCrashedSwaps]]) or operators. */
  private def swapGeneration(desc: String, tag: String, g: Long,
                             rows: => DataFrame): Unit = {
    val staging = fs.resolve(path, s".staging_${tag}_$g")
    val original = genDir(g)
    var originalDeleted = false
    try {
      described(desc)(rows.write.mode("overwrite").parquet(staging))
      fs.deleteRecursively(original)
      originalDeleted = true
      fs.rename(staging, original)
    } catch { case e: Throwable =>
      if (!originalDeleted) {
        if (fs.exists(staging)) fs.deleteRecursively(staging)
      } else if (fs.exists(staging)) {
        try fs.rename(staging, original)
        catch { case _: Throwable => () }
      }
      throw e
    }
  }

  /** Parquet files currently making up generation `rstId` (0 when the
    * generation is absent) — the small-files health signal [[compact]]
    * acts on. */
  def generationFileCount(rstId: Long): Long =
    fs.list(genDir(rstId)).count(_.endsWith(".parquet")).toLong

  /** OPTIMIZE for one generation: rewrite its files into `numFiles`
    * (default 1) without changing a row or the generation's identity —
    * the small-files maintenance every streaming parquet sink needs (each
    * micro-batch append lands one generation with up to
    * shuffle-partitions files; thousands of batches = a scan that opens
    * thousands of footers). Same stage → delete → atomic-rename pattern
    * as [[merge]]'s copy-on-write, with the same recovery behavior on a
    * failed swap (the staged copy is preserved when the original is
    * already gone). A no-op for absent generations; readers racing the
    * swap see the usual `ignoreMissingFiles` semantics of a rolling
    * store, and a table format's atomic commit is — as with merge — the
    * documented upgrade for closing that window entirely. */
  def compact(rstId: Long, numFiles: Int = 1): this.type = this.synchronized {
    checkFence()
    require(numFiles >= 1, "numFiles must be positive")
    if (generations.contains(rstId)) {
      swapGeneration("compact", "cp", rstId,
        raw(Some(col("rst_id") === rstId)).drop("rst_id").repartition(numFiles))
      registerView()
    }
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
    * shadow them. Crash-safety is ordered like [[merge]]'s
    * copy-on-write: stage → swap the target slot → only then delete
    * the older directories. After the swap every older generation is
    * fully SUBSUMED by the base (every key present there is in the
    * base at a ≥ rst_id), so a crash mid-deletes leaves a correct,
    * slightly-larger store and the next collapse finishes the job.
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
      val gens = generations
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
        swapGeneration("collapse", "cl", target,
          latestRows(raw(Some(col("rst_id") <= target)), keys).drop("rst_id"))
        // Older generations are now subsumed — delete is pure cleanup
        // and crash-resumable.
        deleteGenerations(_ < target)
        registerView()
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

  /** Partition-discovered read: rst_id comes back as a column from the
    * directory names. Filters applied HERE hit the raw partition column, so
    * they prune whole generation directories at planning time. The schema
    * is PROVIDED, not inferred — an appended EMPTY batch leaves a data-less
    * generation directory, and inference over only-empty generations would
    * throw where the in-memory twin serves zero rows.
    *
    * Readers racing retention on an ABOUT-TO-EXPIRE generation see its
    * files vanish mid-scan; `ignoreMissingFiles` (scoped to THIS read, not
    * the session) makes that a graceful skip of already-expired data
    * instead of a failed query — the natural read semantics for a rolling
    * retention window (a snapshot-isolated table format is the upgrade). */
  private def raw(filter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val base = rawBase()
    val filtered = filter.map(base.filter).getOrElse(base)
    filtered.select(fullSchema.fields.map(f => col(f.name)).toIndexedSeq: _*)
  }

  /** The relation cache behind [[raw]] (r17, guide §7.3 driver-side
    * costs): building a parquet DataFrame constructs a file index and
    * relation on the DRIVER (milliseconds each) — the store-fold bench
    * queries spent ~45% of their wall in gaps BETWEEN jobs, a large
    * part of it re-deriving an unchanged relation for every probe/read
    * of every fold. The cache key is a FINGERPRINT of the actual file
    * listing (directory names + file names — parquet part names carry
    * the writing job's UUID, so every append, clean, collapse, compact
    * and in-place rewrite changes it, INCLUDING ones made by another
    * handle on the same path: reopen handles, fencing successors, and
    * lockstep coordinators all stay read-fresh, which a
    * mutation-counter key could not guarantee). The fingerprint costs
    * a handful of directory syscalls — noise next to the relation
    * construction it avoids. Thread-safe via volatile publish. The
    * fingerprint is the store's one change signal: the HTTP victim-set
    * cache keys on it too. `= _`, not `= null`: an explicit initializer
    * runs after the constructor's `registerView()` and drops its entry. */
  @volatile private var cachedRaw: (Long, DataFrame) = _
  private[graft] def listingFingerprint(): Long = {
    var h = 1125899906842597L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      h = 31 * h + '\n'
    }
    fs.list(path).filter(_.startsWith("rst_id=")).sorted.foreach { d =>
      mix(d)
      fs.list(fs.resolve(path, d)).sorted.foreach(mix)
    }
    h
  }
  private def rawBase(): DataFrame = {
    val fp = listingFingerprint()
    val c = cachedRaw
    if (c != null && c._1 == fp) return c._2
    val df =
      if (generations.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
      else
        spark.read.schema(fullSchema)
          .option("basePath", path)
          .option("ignoreMissingFiles", "true")
          .parquet(path)
    cachedRaw = (fp, df)
    df
  }

  /** Q1 select-all. */
  def selectAll: DataFrame = raw(None)

  /** Q2 SQL over the registered view. */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Q11 recent-N — partition-prunes to the last n generation dirs. */
  def recent(n: Long): DataFrame = raw(Some(col("rst_id") >= counter - n))

  /** Q12 direct generation fetch — one partition directory. */
  def directFetch(rstId: Long): DataFrame = raw(Some(col("rst_id") === rstId))

  /** Ring get_onwards (`models.py:768-772`). */
  def getOnwards(rstId: Long): DataFrame = raw(Some(col("rst_id") >= rstId))

  /** Q4 reset: delete every generation directory, rewind the counter — the
    * durable analog of reconnect-on-:memory:. */
  def reset(): this.type = this.synchronized {
    checkFence()
    deleteGenerations(_ => true)
    if (fs.isDirectory(floorsDir)) fs.deleteRecursively(floorsDir)
    counter = 1L
    registerView()
    this
  }

  private def registerView(): Unit =
    selectAll.createOrReplaceTempView(tableName)
}
