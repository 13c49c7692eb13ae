package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compliance takedown for durable stores — the removal story a corpus
  * operator actually needs (DMCA notices, robots revocations,
  * right-to-be-forgotten requests) expressed against the repo's store
  * layer. The reference has no removal surface at all beyond
  * whole-generation retention (`models.py` ring cleanup), which cannot
  * target a key; this is the missing half of the corpus lifecycle.
  *
  * Two halves, deliberately separate because they run at different
  * cadences at 100 TB:
  *
  *   - LOGICAL, immediate: [[scrub]] anti-joins any frame — reads AND
  *     ingest batches — against the victim list. A takedown is
  *     effective the moment its request lands, without touching a
  *     byte of stored data. The victim list is broadcast-sized by
  *     nature (requests arrive by the thousand, not the billion).
  *   - PHYSICAL, amortized: [[erase]] rewrites only the generations
  *     that actually contain a victim row
  *     ([[ParquetStore.eraseKeys]] — the same touched-generation
  *     copy-on-write as `merge`), making the removal durable on disk.
  *     Run it on the collapse cadence, not per-request: the probe is
  *     one semi-join, and untouched generations are never rewritten.
  *
  * The ingest side MUST scrub too: [[graft.streaming.CrawlIngest
  * .dedupAppendByKey]]'s anti-join no longer sees an erased key, so a
  * re-crawl of a taken-down URL would re-admit it — the victim store,
  * not the data store, is the durable memory that the key is banned.
  * Spec-pinned ([[TakedownSpec]]): erase → re-crawl → gate keeps the
  * store clean, where the ungated pipe resurrects the row.
  *
  * DERIVED data (the PPJoin postings of [[PrefixIndexStore]], IVF
  * centroids, BM25 statistics, banded pair outputs) is a pure function
  * of its source store: takedown ERASES SOURCES, derived stores purge
  * naturally at their next snapshot/rebuild cadence, and in the interim
  * any output that names documents is scrubbed at read —
  * [[scrubPairs]] for two-endpoint frames. Erasing inside every index's
  * internal layout would buy nothing the next snapshot doesn't.
  *
  * EXPORTED WARC ARCHIVES are the one output that persists full
  * payloads OUTSIDE the store layer (they are bytes on disk, not a
  * function of any store), so they get their own physical pass:
  * [[eraseExports]] rewrites only victim-bearing archives — probed by
  * their own CDX manifests, survivors byte-verbatim, indexes
  * regenerated with corrected offsets, idempotent on rerun — and
  * [[eraseReps]] purges the cross-export revisit memory so future
  * shipments never emit a revisit naming a banned original. With
  * that, the removal story covers every place a banned payload can
  * live or be referenced: serving reads ([[scrub]], wired into
  * [[graft.serve.StoreHttpServer]]), ingest re-admission, stores
  * ([[erase]]), derived data (cadence above), shipped archives, and
  * the export memory.
  */
object Takedown {

  /** One row per banned key. `reason` is free-text provenance (notice
    * id, statute, operator). Keys are stored as strings — the
    * join/erase helpers cast the target column, so numeric-keyed
    * stores work unchanged. */
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("reason", StringType)))

  /** Open (or resume) a durable victim-list store. Collapse-managed
    * like every delta-keyed store (r12 verdict #1): requests append as
    * deltas, latest-per-key re-snapshots bound the read side. */
  def takedownStore(spark: org.apache.spark.sql.SparkSession,
                    storePath: String,
                    tableName: String = "takedowns",
                    collapseEvery: Long = 16L): ParquetStore =
    new ParquetStore(spark, Schema, storePath, tableName,
      collapseKeys = Seq("key"), collapseEvery = collapseEvery)

  /** Record takedown requests, idempotent per key (first reason wins,
    * deterministically — re-delivered notices and crash-replayed
    * batches append nothing). Same window + store-anti-join shape as
    * [[graft.streaming.CrawlIngest.dedupAppendByKey]]; returns how
    * many NEW keys were recorded. */
  def request(store: ParquetStore, victims: DataFrame,
              keyCol: String = "key", reasonCol: String = "reason"): Long = {
    val batch = victims.select(
      col(keyCol).cast("string").as("key"),
      col(reasonCol).cast("string").as("reason"))
    val inBatch = batch
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("reason"))))
      .filter(col("_rn") === 1).drop("_rn")
    val fresh = inBatch.join(
        store.selectAll.select(col("key")).distinct(),
        Seq("key"), "left_anti")
      .persist()
    try {
      val n = fresh.count()
      if (n > 0) store.appendStreaming(fresh)
      n
    } finally { fresh.unpersist(); () }
  }

  /** The current banned-key set (one string column, `key`). */
  def victimKeys(store: ParquetStore): DataFrame =
    store.selectAll.select(col("key")).distinct()

  /** [[victimKeys]] collected to the driver — the one place the banned-key
    * set leaves Spark, for line-level scrubs (CDX lines, archive records)
    * that run outside a DataFrame. One Spark job; list-sized by nature. */
  def victimSet(store: ParquetStore): Set[String] =
    victimKeys(store).collect().map(_.getString(0)).toSet

  /** LOGICAL takedown on any frame: drop rows whose `keyCol` matches a
    * recorded victim. Apply on the READ path (serving a scrubbed view
    * while physical erasure is still pending — the HTTP veneer applies
    * it automatically when constructed with a takedown pair,
    * [[graft.serve.StoreHttpServer]]) and on the INGEST path (a
    * re-crawl of a banned key must never re-enter — see object doc).
    * One broadcast anti-join; the victim side is list-sized. */
  def scrub(df: DataFrame, store: ParquetStore, keyCol: String): DataFrame = {
    val victims = broadcast(victimKeys(store).withColumnRenamed("key", "_victim"))
    df.join(victims, df(keyCol).cast("string") === victims("_victim"),
      "left_anti")
  }

  /** [[scrub]] for PAIR outputs (dedup candidates, mirror pairs,
    * similarity matches): a row dies if EITHER endpoint is a victim —
    * a banned document must neither appear nor be implicated. */
  def scrubPairs(df: DataFrame, store: ParquetStore,
                 aCol: String, bCol: String): DataFrame =
    scrub(scrub(df, store, aCol), store, bCol)

  /** PHYSICAL erasure: remove every victim-keyed row from `target`'s
    * on-disk generations ([[ParquetStore.eraseKeys]] — copy-on-write,
    * touched generations only). Returns generations rewritten. Run on
    * the maintenance cadence; [[scrub]] covers the window in between. */
  def erase(target: ParquetStore, store: ParquetStore,
            keyCol: String): Long =
    target.eraseKeys(victimKeys(store).withColumnRenamed("key", keyCol),
      Seq(keyCol))

  /** PHYSICAL erasure for EXPORTED WARC ARCHIVES (r14 verdict #1 — the
    * one output that persists full payloads OUTSIDE the store layer):
    * remove from every `.warc.gz` — and raw `.warc` — under
    * `exportDir` each record whose
    * `WARC-Target-URI` is a victim key, or whose
    * `WARC-Refers-To-Target-URI` names one (a revisit implicating a
    * banned original must go too — its block still attributes the
    * banned content by digest and URI). After it returns, no archive
    * under the directory holds a victim record — the compliance answer
    * to "is it gone from the copies we shipped?".
    *
    * Mechanics mirror [[ParquetStore.eraseKeys]]' amortization:
    *
    *   - PROBE by the manifest: each archive's sibling `.cdx` (the
    *     export's own index — `url` and `refers` fields) decides
    *     victim-bearing WITHOUT reading archive bytes; only touched
    *     archives are rewritten. Archives lacking a sibling index (or
    *     whose revisit lines predate the `refers` field) are scanned.
    *   - REWRITE copy-on-write, survivors VERBATIM: each record is its
    *     own gzip member ([[graft.sources.Warc.memberSpans]]), so kept
    *     members are byte-copied — record ids, digests, and the
    *     re-export byte-stability contract all survive — and the
    *     sibling CDX is regenerated from the new archive with corrected
    *     offsets through the writer's own line builder
    *     ([[graft.sources.Warc.cdxLine]]), byte-identical modulo the
    *     dropped lines and shifted offsets.
    *   - IDEMPOTENT on rerun ([[ParquetStore.eraseKeys]]' contract): an
    *     erased archive no longer probes as touched, so a re-run
    *     touches nothing; a crash between the archive swap and the CDX
    *     swap leaves a stale index that the next run detects (regen ≠
    *     on-disk) and heals. Each swap is stage → atomic rename in the
    *     same directory, so readers never see a torn file.
    *
    * A member that fails to parse ABORTS that archive's rewrite
    * (erasure must be provable; an archive we cannot fully account for
    * is never silently half-scrubbed). An archive whose EVERY record
    * is a victim is deleted outright with its index (an empty file is
    * not a WARC). Distributed: one task per archive partition, sized
    * to the session's parallelism (r15 verdict #8 — a hardcoded 32
    * would cap a real cluster's erasure pass) — the victim list rides
    * the closure (list-sized by nature, the [[scrub]] assumption).
    *
    * ZIPNUM REBUILD (r15 verdict #2): a collection-level zipnum
    * cluster over these indexes is derived data; pass its directory as
    * `zipnumDir` and this call REBUILDS it from the rewritten `.cdx`
    * files (same geometry, [[graft.sources.Warc.zipnumGeometry]])
    * whenever anything was erased OR the cluster is already stale
    * ([[graft.sources.Warc.zipnumStale]] — a crash between a prior
    * erasure and its rebuild heals here). Without `zipnumDir` the
    * stale cluster still cannot leak through [[graft.sources.Warc
    * .zipnumLookup]]'s `verifyExports` gate — it refuses to serve
    * until the rebuild runs. Returns how many archives were rewritten
    * or deleted. */
  def eraseExports(spark: org.apache.spark.sql.SparkSession,
                   exportDir: String, store: ParquetStore,
                   zipnumDir: String = null,
                   fs: graft.FsIO = graft.FsIO.local): Long = {
    import graft.sources.Warc
    val victims = victimSet(store)
    // RECOVER crashed swaps FIRST, before anything lists or sweeps
    // (advice r16): a non-atomic overwrite-rename that died between
    // deleting an archive and renaming its staged rewrite in leaves
    // the staging file as the ONLY copy of every surviving record —
    // and the archive itself absent from any listing, so recovery
    // cannot live behind the victims/archives guards. Promote such
    // strays (validated: an archive must still frame-walk; a .cdx
    // regenerates deterministically, so even a suspect one heals on
    // this very run via the cdxChanged compare).
    if (fs.isDirectory(exportDir))
      Warc.recoverStaging(exportDir, ".staging_e_", fs,
        validate = (target, bytes) =>
          // Per-MEMBER walk, the same accounting the erase itself
          // performs — not a whole-archive gunzip, whose default
          // 64 MB bomb cap would refuse to recover any archive sized
          // to the 100 MB–1 GB export convention (review r17).
          if (target.endsWith(".warc.gz"))
            Warc.memberSpans(bytes).exists(_.forall { case (off, len) =>
              Warc.gunzip(java.util.Arrays.copyOfRange(bytes, off,
                off + len)).flatMap(Warc.warcRecords).isDefined
            })
          else if (target.endsWith(".warc"))
            Warc.warcRecords(bytes).isDefined
          else true)
    val changed: Long =
      if (victims.isEmpty || !fs.isDirectory(exportDir)) 0L
      else {
        // Dot-files are in-flight staging (writeFiles/our own swaps) —
        // never archives; Spark readers skip them and so must we.
        val archives = fs.list(exportDir)
          .filter(n => (n.endsWith(".warc.gz") || n.endsWith(".warc")) &&
            !n.startsWith("."))
          .sorted
        if (archives.isEmpty) 0L
        else {
          // Dead-attempt staging strays from prior runs (see
          // [[graft.sources.Warc.writeFiles]]'s sweep rationale); the
          // sweep refuses strays whose target is missing — those are
          // recovery candidates, handled above.
          Warc.sweepStaging(exportDir, ".staging_e_", fs)
          import spark.implicits._
          spark.createDataset(archives)
            .repartition(math.min(archives.size,
              math.max(spark.sparkContext.defaultParallelism, 1)))
            .map(n => eraseOneArchive(exportDir, n, victims, fs))
            .agg(coalesce(sum(col("value")), lit(0L)))
            .collect()(0).getLong(0)
        }
      }
    if (zipnumDir != null &&
      (changed > 0L || Warc.zipnumStale(zipnumDir, exportDir, fs))) {
      // Geometry from the manifest; a pre-manifest cluster keeps its
      // shard count (the DISTINCT shards the live summary names —
      // review r17: a raw file count would add a crashed rebuild's
      // orphaned generation and inflate the operator's sizing) and
      // the default block size.
      val (sh, bl) = Warc.zipnumGeometry(zipnumDir, fs).getOrElse {
        val idxP = fs.resolve(zipnumDir, "cluster.idx")
        val live =
          if (fs.exists(idxP))
            new String(fs.read(idxP),
              java.nio.charset.StandardCharsets.UTF_8)
              .split("\n").filter(_.nonEmpty)
              .flatMap(_.split("\t").lift(1)).distinct.length
          else fs.list(zipnumDir)
            .count(_.matches("cdx-(?:g\\d+-)?\\d{5}\\.gz"))
        (math.max(live, 1), 3000)
      }
      val cdxFiles = spark.read.format("binaryFile").load(exportDir)
        .filter(col("path").endsWith(".cdx"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("content"))
      Warc.writeZipnum(cdxFiles, zipnumDir, sh, bl, fs)
      ()
    }
    changed
  }

  /** Purge a cross-export revisit-memory store ([[graft.sources.Warc
    * .revisitStore]]) of reps naming a victim URL — the takedown's
    * third physical half beside [[erase]] and [[eraseExports]].
    * Without it, a later [[graft.sources.Warc.exportIncremental]] call
    * shipping the banned payload's bytes (a re-crawl at another URL)
    * would emit a revisit REFERRING to the banned original — naming
    * removed content and pointing at a record [[eraseExports]] already
    * dropped. After the purge, those bytes re-export as a fresh
    * response under a new owner. Same touched-generation copy-on-write
    * as [[erase]]; returns generations rewritten. */
  def eraseReps(repStore: ParquetStore, store: ParquetStore): Long =
    erase(repStore, store, "url")

  /** COMPLIANCE ATTESTATION (r16): how many exported records still name
    * each victim — directly (`url`) or by revisit implication
    * (`refers`) — per the archives' own CDX manifests. The evidence
    * a takedown notice's closure actually needs: run BEFORE
    * [[eraseExports]] to scope the notice, AFTER to prove the
    * directory clean (every victim at 0). Index-only: reads the `.cdx`
    * files (1/1000s of the archive bytes), never an archive — the same
    * budget as the erasure probe itself; archives WITHOUT a sibling
    * index are not attestable this way and fail loudly rather than
    * silently attesting a partial directory (run [[eraseExports]]
    * first — it scans and indexes nothing, but it only leaves
    * index-less archives when the export was written without
    * `withCdx`). Output: one row per victim key, `(key, hits)`.
    * Distributed: one task per index partition, victim set broadcast
    * by closure (list-sized, the [[scrub]] assumption). */
  def exportVictimHits(spark: org.apache.spark.sql.SparkSession,
                       exportDir: String, store: ParquetStore,
                       fs: graft.FsIO = graft.FsIO.local): DataFrame = {
    import spark.implicits._
    val victims = victimSet(store)
    val names = fs.list(exportDir).filter(n =>
      (n.endsWith(".warc.gz") || n.endsWith(".warc")) && !n.startsWith("."))
    val missing = names.filterNot { n =>
      fs.exists(fs.resolve(exportDir,
        n.stripSuffix(".warc.gz").stripSuffix(".warc") + ".cdx"))
    }
    require(missing.isEmpty,
      s"exportVictimHits: archives without a CDX manifest are not " +
        s"index-attestable: ${missing.take(5).mkString(", ")}")
    val cdxNames = fs.list(exportDir)
      .filter(n => n.endsWith(".cdx") && !n.startsWith("."))
    val perIndex =
      if (cdxNames.isEmpty)
        spark.emptyDataset[(String, Long)].toDF("key", "hits")
      else spark.createDataset(cdxNames)
        .repartition(math.min(cdxNames.size,
          math.max(spark.sparkContext.defaultParallelism, 1)))
        .flatMap { n =>
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          new String(fs.read(fs.resolve(exportDir, n)),
            java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").iterator.filter(_.nonEmpty).flatMap { line =>
              val js = line.indexOf('{')
              if (js < 0) Iterator.empty
              else {
                val node = mapper.readTree(line.substring(js))
                val url = Option(node.get("url")).map(_.asText())
                val refers = Option(node.get("refers")).map(_.asText())
                (url.filter(victims.contains) ++
                  refers.filter(victims.contains)).iterator
              }
            }.toSeq
        }.toDF("key")
        .groupBy(col("key")).agg(count(lit(1)).as("hits"))
    // Every victim appears, zero-hit ones included — "no row" must
    // never be mistakable for "not checked".
    victimKeys(store).join(perIndex, Seq("key"), "left")
      .select(col("key"), coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** One archive's probe + rewrite (executor-side; `fs` rides the task
    * closure). Returns 1 when the `.warc.gz` was rewritten, 0 otherwise
    * (a CDX-only heal — stale from a crash window or predating the
    * `refers` field — does not count as an archive rewrite). */
  private[store] def eraseOneArchive(exportDir: String, filename: String,
                              victims: Set[String],
                              fs: graft.FsIO): Long = {
    import graft.sources.Warc
    // Attempt-unique staging: under speculation two attempts may race
    // on one archive; they must never share a staging path (review
    // r15 — the writeFiles fix's twin).
    val attemptId = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    val archive = fs.resolve(exportDir, filename)
    // Raw .warc exports (gzipped = false) erase too (review r15 #3 —
    // skipping them silently would report a clean takedown while the
    // banned payload stays shipped): record spans come from the WARC
    // framing itself instead of gzip member boundaries, and survivors
    // are byte-verbatim slices either way.
    val isGz = filename.endsWith(".warc.gz")
    val cdxName =
      filename.stripSuffix(if (isGz) ".warc.gz" else ".warc") + ".cdx"
    val cdxPath = fs.resolve(exportDir, cdxName)
    val hasCdx = fs.exists(cdxPath)
    val cdxBytes = if (hasCdx) fs.read(cdxPath) else null
    // --- PROBE: manifest-only when the index can answer. The same
    // pass SNIFFS the index's url-key style so the regeneration below
    // reproduces whatever style the export chose — a caller-supplied
    // flag would silently rewrite a SURT index with plain keys on a
    // mismatch (review r15). The sniff is a running INTERSECTION over
    // the FOUR derivations a writer could have used (review r17):
    // plain percent-encoded, SURT, legacy canon (www+session — what
    // pre-r17 canon exports wrote), and full canon (+ encoding
    // normalization). A line votes for every style whose derivation
    // equals its stored key; a style that survives EVERY line is
    // indistinguishable on this index — and since survivors ⊆ scanned
    // lines, any surviving style regenerates the surviving lines
    // byte-identically, so the least-assuming priority pick below is
    // stable, never wrong. (The previous first-distinguishing-line
    // latch mis-keyed a legacy-canon index whose first distinguishing
    // line differed only via encoding.)
    var cdxSurt = false
    var cdxCanon = false
    var cdxCanonEnc = false
    var cdxIpv4Rev = false
    if (hasCdx) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      var bearing = false
      var undecided = false // revisit line predating the `refers` field
      // The *Ip4 variants (review r17 session pass) reproduce
      // pre-IPv4-fix indexes whose dotted-quad hosts were reversed
      // like names — same legacy-knob treatment the encoding fix got:
      // without them, a legacy index's IPv4 lines match NO candidate
      // and the regeneration would silently rewrite their keys in the
      // new unreversed style, breaking the byte-identical contract.
      var styles = Set("plain", "surt", "surtIp4",
        "canonLegacy", "canonLegacyIp4", "canonEnc", "canonEncIp4")
      new String(cdxBytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty).foreach { line =>
          val js = line.indexOf('{')
          if (js < 0) undecided = true
          else {
            val node = mapper.readTree(line.substring(js))
            val url = Option(node.get("url")).map(_.asText()).orNull
            if (url != null && victims.contains(url)) bearing = true
            if (url != null && styles.size > 1 && line.indexOf(' ') > 0) {
              val key = line.substring(0, line.indexOf(' '))
              val cands = Map(
                "plain" -> url.replace(" ", "%20"),
                "surt" -> Warc.surtKey(url),
                "surtIp4" -> Warc.surtKey(url, ipv4Reversed = true),
                "canonLegacy" -> Warc.surtKey(url, stripWww = true,
                  scrubSession = true),
                "canonLegacyIp4" -> Warc.surtKey(url, stripWww = true,
                  scrubSession = true, ipv4Reversed = true),
                "canonEnc" -> Warc.surtKey(url, stripWww = true,
                  scrubSession = true, normalizeEncoding = true),
                "canonEncIp4" -> Warc.surtKey(url, stripWww = true,
                  scrubSession = true, normalizeEncoding = true,
                  ipv4Reversed = true))
              val matching = styles.filter(s => cands(s) == key)
              // A key matching NO candidate carries no style
              // information (a hand-edited index) — skip it, as the
              // latch logic before effectively did.
              if (matching.nonEmpty) styles = matching
            }
            if (node.has("mod")) {
              val refers =
                Option(node.get("refers")).map(_.asText()).orNull
              if (refers == null) undecided = true
              else if (victims.contains(refers)) bearing = true
            }
          }
        }
      if (!bearing && !undecided) return 0L
      // Least-assuming surviving style (outputs identical among
      // survivors — see the intersection argument above).
      // Modern variants rank before their Ip4 twins: on an index
      // with no IPv4 URLs both survive with identical outputs, and on
      // one WITH them only the true writer style survives the
      // intersection.
      val style = Seq("plain", "surt", "surtIp4", "canonLegacy",
        "canonLegacyIp4", "canonEnc", "canonEncIp4")
        .find(styles.contains).get
      cdxSurt = style != "plain"
      cdxCanon = style.startsWith("canon")
      cdxCanonEnc = style.startsWith("canonEnc")
      cdxIpv4Rev = style.endsWith("Ip4")
    }
    // --- REWRITE (or full scan when the manifest could not decide):
    // walk members, keep survivors verbatim, rebuild index from the
    // kept records.
    val bytes = fs.read(archive)
    val spans = (if (isGz) Warc.memberSpans(bytes)
      else rawRecordSpans(bytes)).getOrElse(
      throw new IllegalStateException(
        s"eraseExports: $archive is not a cleanly-framed archive " +
          "— refusing to erase an archive that cannot be fully " +
          "accounted for"))
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    val newCdx = if (hasCdx) new StringBuilder else null
    var dropped = 0
    spans.foreach { case (off, len) =>
      val member = java.util.Arrays.copyOfRange(bytes, off, off + len)
      val inflated = if (isGz) Warc.gunzip(member) else Some(member)
      val rec = inflated.flatMap(Warc.warcRecords) match {
        case Some(rs) if rs.size == 1 => rs.head
        case _ => throw new IllegalStateException(
          s"eraseExports: $archive member at $off is not one WARC " +
            "record — refusing to erase an archive that cannot be " +
            "fully accounted for")
      }
      val uri = rec.header("WARC-Target-URI").orNull
      val refers = rec.header("WARC-Refers-To-Target-URI").orNull
      if ((uri != null && victims.contains(uri)) ||
        (refers != null && victims.contains(refers))) dropped += 1
      else {
        val offset = out.size()
        out.write(member)
        if (hasCdx) {
          val (status, mime, location) = httpHeadFields(inflated.get,
            rec.payloadOffset, rec.payloadLength)
          newCdx.append(Warc.cdxLine(uri,
            rec.header("WARC-Date").getOrElse("").filter(_.isDigit),
            mime, status,
            rec.header("WARC-Payload-Digest").orNull, location,
            if (rec.header("WARC-Type").contains("revisit")) refers
            else null,
            len, offset, filename, cdxSurt, cdxCanon, cdxCanonEnc,
            cdxIpv4Rev))
        }
      }
    }
    // Every record was a victim: an empty archive is not a WARC file —
    // delete it (and its index) outright rather than leaving a 0-byte
    // husk that readers would report as corrupt.
    if (dropped > 0 && out.size() == 0) {
      // Index first: a crash between the two deletes then leaves an
      // archive WITHOUT an index, which the rerun scans and finishes;
      // the reverse order would orphan an index no probe ever visits.
      if (hasCdx) fs.delete(cdxPath)
      fs.delete(archive)
      return 1L
    }
    val cdxChanged = hasCdx &&
      !java.util.Arrays.equals(cdxBytes, newCdx.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    if (dropped == 0 && !cdxChanged) return 0L
    // Archive first, then its index: a crash between the two leaves a
    // stale index the next run heals (regen ≠ on-disk ⇒ cdxChanged).
    if (dropped > 0) {
      val staging =
        fs.resolve(exportDir, s".staging_e_${attemptId}_$filename")
      fs.write(staging, out.toByteArray)
      fs.atomicSwap(staging, archive)
    }
    if (cdxChanged) {
      val staging =
        fs.resolve(exportDir, s".staging_e_${attemptId}_$cdxName")
      fs.write(staging, newCdx.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      fs.atomicSwap(staging, cdxPath)
    }
    if (dropped > 0) 1L else 0L
  }

  /** Byte spans of each record in a RAW (non-gzip) WARC file: records
    * are contiguous from offset 0 and each ends 4 bytes (the CRLF CRLF
    * terminator) past its payload, so the framing walk's offsets
    * reconstruct every span. Trailing junk after the last record —
    * which [[graft.sources.Warc.warcRecords]] tolerates on READ — is
    * refused here: an erasure rewrite must account for every byte. */
  private def rawRecordSpans(bytes: Array[Byte])
      : Option[Vector[(Int, Int)]] =
    graft.sources.Warc.warcRecords(bytes).flatMap { rs =>
      var start = 0
      val spans = rs.map { r =>
        val end = r.payloadOffset + r.payloadLength + 4
        val span = (start, end - start)
        start = end
        span
      }
      if (start == bytes.length) Some(spans) else None
    }

  /** The status line, Content-Type, and Location of the HTTP head at
    * the start of a record's payload — the fields the writer baked into
    * its CDX line, re-derived for regeneration. */
  private def httpHeadFields(bytes: Array[Byte], off: Int,
                             len: Int): (Long, String, String) = {
    val head = new String(bytes, off, math.min(len, 8192),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val end = head.indexOf("\r\n\r\n")
    val lines = (if (end >= 0) head.substring(0, end) else head)
      .split("\r\n")
    val status = lines.headOption
      .flatMap(l => "^HTTP/1\\.[01] (\\d{3})".r.findFirstMatchIn(l))
      .map(_.group(1).toLong).getOrElse(0L)
    def hdr(name: String): String = lines.drop(1).collectFirst {
      case l if l.length > name.length + 1 &&
        l.substring(0, name.length).equalsIgnoreCase(name) &&
        l.charAt(name.length) == ':' => l.substring(name.length + 1).trim
    }.orNull
    (status, hdr("Content-Type"), hdr("Location"))
  }
}
