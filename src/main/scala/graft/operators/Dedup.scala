package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{SqlLet, TextFunctions}

/** Deduplication operators for large-scale corpus pipelines: exact
  * (fingerprint group-by), MinHash-LSH near-dup (banded candidate
  * generation + exact-Jaccard verify — NO cross join anywhere), and SimHash
  * signatures.
  *
  * Determinism contract: every hash is derived from md5 (identical across
  * engines), so the driver's DuckDB oracle replicates the *whole* pipeline —
  * including the banding — value-for-value. LSH recall is therefore a tuning
  * property (banded candidate generation IS the operator's semantics), never
  * a correctness gap.
  *
  * Evaluation discipline: the split→shingle→hash→signature chain is built
  * under [[SqlLet.let]] bindings and fanned out through one `explode`
  * barrier, so the expensive steps (one md5 per shingle, one pass per
  * signature) run EXACTLY ONCE per document — naive column composition gets
  * inlined by `CollapseProject` and recomputed per reference (measured 4-5×
  * on this operator).
  *
  * Scale shape:
  *   - exact dedup: one shuffle on the 16-byte fingerprint; map-side partial
  *     aggregation; output cardinality = distinct documents.
  *   - near-dup: narrow per-row signature computation (k=16 minhashes over
  *     the shingle set) → explode to `Bands` rows/doc → shuffle join on the
  *     band key (equi-join, so a hash join over bounded buckets; skew on a
  *     hot band is handled by AQE) → pairwise verify only INSIDE buckets.
  *     All-pairs cost never appears; candidate volume is Σ_bucket |b|², the
  *     classic LSH bound. At this fixture scale we carry the hash arrays
  *     through the join for the verify step; at 100 TB you'd re-join them by
  *     doc_id instead to keep shuffle rows narrow — same plan shape.
  *   - exact-complete near-dup: [[prefixJaccard]] (PPJoin prefix +
  *     positional filtering) returns the FULL J ≥ t pair set with no
  *     banding randomness or cap recall loss — candidate work concentrates
  *     on rare hashes and is output-sized on adversarial corpora; its
  *     frozen-index form [[prefixJaccardIncremental]] scores a batch at
  *     O(batch), and [[nearDupRecall]] uses the complete set as truth to
  *     audit the LSH layer's recall per Jaccard decile.
  */
object Dedup {

  /** Universal-hash modulus (2^31 − 1, prime). */
  val P = 2147483647L

  /** Fixed odd multiplier/addend pairs for the 16 minhash permutations
    * h_j(x) = (a_j·x + b_j) mod P — small primes, hardcoded so the DuckDB
    * oracle uses the identical permutation family. */
  val As: Seq[Long] = Seq(7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)
  val Bs: Seq[Long] = Seq(3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Default hot-band cap for [[nearDuplicates]]: bands whose bucket exceeds
    * this many documents are dropped before the self-join. A band shared by
    * B docs contributes B² candidate pairs — one adversarial band (boiler-
    * plate headers, templated spam) would otherwise go quadratic no matter
    * how good the hash family is. Same discipline as [[ngramJaccard]]'s
    * `maxDf`; the DuckDB oracle replicates the cap, so recall loss on
    * over-cap bands is declared semantics, not a correctness gap. Fixture
    * maxima are 3 (sf0.01) / 14 (sf0.1) — far under the default. */
  val MaxBand = 64L

  /** Hot-bucket cap for the SINGLE-band pair joins ([[simhashPairs]],
    * [[graft.multimodal.Media.phashPairs]]'s per-segment buckets): a
    * bucket of B identical-or-near-identical signatures emits B² pairs —
    * the OUTPUT is quadratic in the family size, so no join strategy
    * saves an uncapped run; past this size the family is exact-dedup's
    * job ([[fingerprints]] collapses byte-identical docs in one linear
    * shuffle) and the near-dup pair list for it carries no information a
    * sample of the family wouldn't. 4096 bounds any one bucket at ~8.4 M
    * candidate rows. Wider than [[MaxBand]] because these buckets key on
    * the FULL signature prefix (real near-dup mass, not LSH collisions);
    * fixture maxima are 478 (sf0.1 simhash) — the default never bites
    * below adversarial density, and the caps are declared, test-pinned
    * semantics, not silent truncation. */
  val MaxBucket = 4096L

  /** 32-bit integer hash of a string: first 4 md5 bytes as an unsigned int —
    * exactly `('0x' || substr(md5(s),1,8))::BIGINT` on the DuckDB side.
    * Codegen'd [[graft.plans.Md5Hash32Expr]] (no hex round-trip, thread-local
    * digest); [[md5Hash32Fold]] is the built-ins-only equivalent. */
  def md5Hash32(s: Column): Column = call_function("md5_hash32", s)

  /** Built-ins composition with identical semantics. */
  def md5Hash32Fold(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Word n-shingles of a bound token-array value (shared sliding core). */
  private def shinglesOf(w: Column, n: Int): Column =
    TextFunctions.slidingNgrams(w, n)

  /** Distinct shingle hashes of the NORMALIZED text (lowercased, whitespace
    * collapsed — dedup must not distinguish case/spacing variants). One
    * codegen'd pass ([[graft.plans.ShingleHashesExpr]]); the built-ins-only
    * twin is [[shingleHashesFold]]. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    call_function("shingle_hashes",
      TextFunctions.words(TextFunctions.normalize(text)), lit(n))

  /** Declarative equivalent (let-bound so the split runs once). */
  def shingleHashesFold(text: Column, n: Int = 3): Column =
    SqlLet.let(TextFunctions.words(TextFunctions.normalize(text)), w =>
      array_distinct(transform(shinglesOf(w, n), md5Hash32 _)))

  /** Distinct word-unigram hashes of the normalized text (SimHash features). */
  def wordHashes(text: Column): Column =
    array_distinct(transform(TextFunctions.words(TextFunctions.normalize(text)), md5Hash32 _))

  /** Cross-SOURCE overlap matrix: pairwise Jaccard of the distinct shingle
    * vocabularies of each source/crawl — the corpus-level diagnostic
    * ("which crawls duplicate each other, and how much") that decides
    * which source PAIRS are worth a full document-level dedup pass.
    *
    * Plan: one explode + hash aggregate to the distinct (source, gram)
    * membership (vocabulary-bounded, never corpus-bounded), then a
    * gram-keyed self-equi-join for intersections. Per-gram fan-out is
    * |sources sharing the gram|² ≤ |sources|² — sources are FEW by
    * construction (crawl labels, not documents), so a universal gram
    * costs |sources|² rows, not a quadratic blow-up; the join shuffles
    * the vocabulary, not the corpus. Jaccard is emitted as integer
    * permille (`1000·|∩| div |∪|`) — no float ratio to drift. Pairs
    * sharing zero grams are absent (nothing to report).
    *
    * Output: (src_a, src_b, n_a, n_b, n_common, jaccard_permille),
    * src_a < src_b. */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text", n: Int = 3): DataFrame = {
    val m = docs
      .select(col(groupCol).as("src_a"),
        explode(shingleHashes(col(textCol), n)).as("gram"))
      .distinct()
      .localCheckpoint(eager = true) // feeds the sizes AND both join sides
    val sizes = m.groupBy("src_a").agg(count(lit(1)).as("n_grams"))
    m.join(m.select(col("src_a").as("src_b"), col("gram")), "gram")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes), "src_a")
      .withColumnRenamed("n_grams", "n_a")
      .join(broadcast(sizes.withColumnRenamed("src_a", "src_b")
        .withColumnRenamed("n_grams", "n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("1000 * n_common div (n_a + n_b - n_common)")
          .as("jaccard_permille"))
  }

  /** Exact dedup — one row per distinct normalized text:
    * (fp, keep_id = min doc_id, dup_count). */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** INCREMENTAL exact dedup — the steady-state shape of a production
    * pipeline, where each new crawl batch dedups against the corpus
    * already ingested instead of re-deduping the world:
    *
    *   1. within-batch: keep the min-id document per normalized
    *      fingerprint (one shuffle on the 16-byte fp, batch-sized);
    *   2. against the corpus: LEFT ANTI join the survivors' fingerprints
    *      against the existing corpus fingerprint set (`corpusFps`, one
    *      `fp` column — the pre-aggregated index a real deployment keeps
    *      as a bucketed table, so the anti join co-locates by fp and
    *      never rescans corpus text).
    *
    * Output: (fp, keep_id, batch_dups) — the rows of the batch that enter
    * the corpus, with how many in-batch copies each collapsed. Cost scales
    * with the BATCH (plus one pass of the fingerprint index), not the
    * corpus — the whole point of keeping the index. */
  def incremental(newDocs: DataFrame, corpusFps: DataFrame,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exact(newDocs, textCol, idCol)
      .withColumnRenamed("dup_count", "batch_dups")
      .join(corpusFps.select(col("fp")), Seq("fp"), "left_anti")

  /** n-gram OVERLAP contamination score — the eval-decontamination metric
    * training runs report (what fraction of each held-out document's
    * distinct normalized n-grams appears ANYWHERE in the training corpus),
    * complementing [[crossNearDuplicatesBands]]: LSH answers "which train
    * doc is this a near-dup of", the overlap fraction answers "how much of
    * this eval doc leaked, from anywhere" — including stitched/partial
    * leaks no single near-dup pair explains.
    *
    * Exact integers only: (matched_grams, total_grams, permille =
    * matched·1000 div total) — no float ratio, so the score hash-compares
    * across engines.
    *
    * Scale shape: the corpus side collapses to DISTINCT 32-bit gram hashes
    * (one shuffle, then a bounded-by-vocabulary set that a deployment keeps
    * as a bucketed table, like the [[incremental]] fingerprint index); the
    * probe side is (eval_doc, gram) exploded rows semi-joined against it on
    * the hash — eval sets are tiny next to the corpus, so the join streams
    * the small side. No pairwise doc×doc work anywhere. */
  def ngramContamination(corpusDocs: DataFrame, probeDocs: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         n: Int = 3): DataFrame = {
    val corpusGrams = corpusDocs
      .select(explode(shingleHashes(col(textCol), n)).as("h")).distinct()
    // ONE probe-side scan, one hashing pass: the gram set is bound through
    // a Generate barrier (the exactly-once discipline — a size() + explode
    // over the raw expression would run the md5 chain twice per row), then
    // explode_outer keeps 0-gram docs as a null-gram row so they surface
    // with total_grams = 0 instead of vanishing.
    val grams = graft.functions.SqlLet
      .explodeOnce(probeDocs.select(col(idCol), col(textCol)),
        array(shingleHashes(col(textCol), n)), "_hs")
      .select(col(idCol), size(col("_hs")).cast("long").as("total_grams"),
        explode_outer(col("_hs")).as("h"))
    // LEFT join against the DISTINCT corpus gram set: each gram row matches
    // at most once (no fanout), match presence = the count payload.
    grams.join(corpusGrams.withColumn("_hit", lit(1)), Seq("h"), "left")
      .groupBy(idCol)
      .agg(max(col("total_grams")).as("total_grams"),
        count(col("_hit")).as("matched_grams"))
      .select(col(idCol), col("matched_grams"), col("total_grams"),
        when(col("total_grams") > 0,
          expr("(matched_grams * 1000) div total_grams")).as("permille"))
  }

  /** The whole signature pipeline as ONE expression producing
    * `array<struct<band: string, hs: array<bigint>>>`. The shingle-hash set
    * is let-bound; each of the 16 minhashes is then a SCALAR long fold over
    * that bound value (no per-element array allocation — measured ~2×
    * cheaper than a single fold carrying a 16-wide accumulator array), and
    * each `sig(j)` appears exactly once in the band-key expression tree, so
    * nothing is recomputed. */
  private def bandStructs(text: Column, bands: Int = Bands,
                          rowsPerBand: Int = RowsPerBand): Column = {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= NumHashes,
      s"band geometry ${bands}x$rowsPerBand exceeds the $NumHashes-hash signature")
    SqlLet.let(shingleHashes(text), hs =>
      SqlLet.let(call_function("minhash_sig", hs), sigv => {
        val bandCols = (0 until bands).map { b =>
          val parts = (0 until rowsPerBand).flatMap { r =>
            val sep = if (r == 0) Seq(lit(s"${b + 1}:")) else Seq(lit("_"))
            sep :+ element_at(sigv, b * rowsPerBand + r + 1).cast("string")
          }
          // concat (null-propagating) matches DuckDB ||; concat_ws would
          // silently skip a null minhash.
          struct(concat(parts: _*).as("band"), hs.as("hs"))
        }
        array(bandCols: _*)
      }))
  }

  /** Per-document banded LSH keys, exploded to `Bands` rows per document:
    * (idCol, band, hs). Documents with an EMPTY shingle set (fewer words
    * than the shingle width) are dropped before banding: they can't be
    * near-duplicates by definition, their identical all-P signatures would
    * otherwise pile every short doc into ONE quadratic hot band, and the
    * Jaccard denominator for such a pair is 0 (a DIVIDE_BY_ZERO under ANSI
    * mode). The oracle replicates the filter. */
  def lshBands(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id",
               /** Extra columns carried through the banding (e.g. the
                 * side/source tag for [[crossNearDuplicatesBands]]). */
               carryCols: Seq[String] = Nil,
               /** Band geometry; bands·rowsPerBand ≤ [[NumHashes]]. This
                 * low-level primitive keeps the static 4×4 default (it has
                 * no threshold to derive from); threshold-aware callers —
                 * [[nearDuplicates]], [[clusters]],
                 * [[crossNearDuplicates]] — derive theirs from
                 * [[defaultBands]], and the oracles replicate whatever
                 * geometry the query under test uses. */
               bands: Int = Bands,
               rowsPerBand: Int = RowsPerBand): DataFrame =
    SqlLet.explodeOnce(
        docs.select((col(idCol) +: col(textCol) +: carryCols.map(col)): _*),
        bandStructs(col(textCol), bands, rowsPerBand), "bs")
      .select((col(idCol) +: carryCols.map(col)) :+
        col("bs.band").as("band") :+ col("bs.hs").as("hs"): _*)
      .filter(size(col("hs")) > 0)

  /** Near-duplicate pairs: band-bucket candidates verified with exact
    * Jaccard over the shingle-hash sets, thresholded. Output
    * (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * `persistBands` (default true) materializes the banded-signature table
    * before the self-join (eager `localCheckpoint`): without it each join
    * side re-runs the whole shingle→md5→minhash pipeline (two scans + two
    * Generates in the plan) — the signature table is exactly what a
    * production LSH dedup would materialize once, and its size is bounded
    * (Bands rows/doc of band-key + hash set). localCheckpoint rather than
    * `persist`: cache entries registered by repeated calls (clusters(),
    * bench min-of-2) outlive their consumers for the whole session, while
    * checkpoint RDDs are released by the ContextCleaner as soon as the
    * result DataFrame is dropped. With `persistBands = false` the WHOLE
    * banding pipeline is recomputed per consumer — the cap count plus each
    * self-join side, three passes — an explicit CPU-for-memory trade for
    * callers that cannot afford the materialization. */
  def nearDuplicates(docs: DataFrame, threshold: Double,
                     textCol: String = "text",
                     idCol: String = "doc_id",
                     persistBands: Boolean = true,
                     maxBand: Long = MaxBand,
                     /** Band geometry. The DEFAULT (-1, -1) derives from
                       * [[defaultBands]]`(threshold)` — closed-form, meets
                       * the 0.9 recall floor AT the threshold with minimal
                       * sub-threshold candidate work (r10; the old static
                       * 4×4 undershot the floor at both tails, spec-pinned
                       * in `SuggestBandsSpec`). Pass both to override. */
                     bands: Int = -1,
                     rowsPerBand: Int = -1): DataFrame = {
    require((bands > 0) == (rowsPerBand > 0),
      "pass BOTH bands and rowsPerBand, or neither (derived from threshold)")
    val (nb, nr) =
      if (bands > 0) (bands, rowsPerBand) else derivedBands(threshold)
    val raw = lshBands(docs, textCol, idCol,
      bands = nb, rowsPerBand = nr)
    // Plain checkpoint, NOT pre-partitioned on band: a LogicalRDD's
    // recorded partitioning did not eliminate the self-join exchanges in
    // the measured plan (exchange count unchanged), so a repartition here
    // is one extra shuffle for nothing — unlike the CC edge CACHE, whose
    // InMemoryRelation layout the per-round joins do reuse.
    val all = if (persistBands) raw.localCheckpoint(eager = true) else raw
    // Hot-band cap (see [[MaxBand]]): the over-cap band list comes from a
    // map-side-combined count (output ≤ distinct bands, and the filter
    // usually leaves it EMPTY), then an anti-join drops their rows. Cheaper
    // than a window count, which would shuffle every band row before the
    // self-join even when no band is hot. No broadcast HINT: on a healthy
    // corpus AQE broadcasts the (near-empty) hot list at runtime, while on
    // a pathologically templated corpus — the case the cap exists for —
    // the list can be huge and a forced broadcast would OOM the driver;
    // unhinted, it degrades to a shuffle anti-join instead.
    val hot = all.groupBy("band").agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBand).select("band")
    val kept = all.join(hot, Seq("band"), "left_anti")
    val a = kept.as("a")
    val b = kept.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col("a.hs").as("hs_a"),
        col(s"b.$idCol").as("doc_b"), col("b.hs").as("hs_b"))
      // A pair agreeing on several bands appears once (hs_* are functions of
      // the doc id, so dropDuplicates on the ids is exact).
      .dropDuplicates("doc_a", "doc_b")
    val jaccard = SqlLet.let(size(array_intersect(col("hs_a"), col("hs_b"))), inter =>
      inter.cast("double") / (size(col("hs_a")) + size(col("hs_b")) - inter))
    cand
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Sketch-error audit of the MinHash pipeline — "measure, don't guess"
    * for the LSH layer, the exact analogue of what the knn-recall queries
    * do for the ANN family: for every verified near-dup pair, the
    * signature-level Jaccard ESTIMATE (matching minhash components out of
    * [[NumHashes]]) side by side with the exact shingle-set Jaccard, both
    * as integer permille (single integer divisions — engine-exact). The
    * spread between the two columns is the operating error of the
    * signatures the banding actually keys on; a widening spread after a
    * hash/shingle tuning change is the regression signal.
    *
    * Plan: the (id, hs, sig) table materializes once and feeds both pair
    * sides of an id equi-join against the verified pairs — no extra
    * banding work beyond [[nearDuplicates]] itself. */
  def minhashAccuracy(docs: DataFrame, threshold: Double,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val base = docs
      .select(col(idCol), shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", call_function("minhash_sig", col("hs")))
      .localCheckpoint(eager = true) // feeds both sides of the pair join
    nearDuplicates(docs, threshold, textCol, idCol)
      .select("doc_a", "doc_b")
      .join(base.select(col(idCol).as("doc_a"), col("hs").as("hs_a"),
        col("sig").as("sig_a")), Seq("doc_a"))
      .join(base.select(col(idCol).as("doc_b"), col("hs").as("hs_b"),
        col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => (x === y).cast("long")),
          lit(0L), (acc, e) => acc + e).as("est_matches"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("inter"),
        (size(col("hs_a")) + size(col("hs_b")) -
          size(array_intersect(col("hs_a"), col("hs_b")))).cast("long").as("uni"))
      .select(col("doc_a"), col("doc_b"), col("est_matches"),
        expr(s"est_matches * 1000 div ${NumHashes}L").as("est_permille"),
        expr("inter * 1000 div uni").as("exact_permille"))
  }

  /** CROSS-corpus near-duplicates — the decontamination operator: which
    * `probe` documents (an eval/benchmark set) near-duplicate a `corpus`
    * document (the training set)? Same banded-LSH discipline as
    * [[nearDuplicates]], but the band join runs BETWEEN the two sets, so
    * cost is Σ_band |corpus_b|·|probe_b| — never corpus×probe. The hot-band
    * cap is computed over the UNION of both sides (a band hot in the corpus
    * alone would still explode the join). Output
    * (probe_id, corpus_id, jaccard) at `threshold`; consumers drop (or
    * flag) the matched TRAINING docs before tokenization.
    *
    * Probe is typically tiny next to the corpus; Catalyst/AQE will broadcast
    * its banded side, making this a map-side join over the corpus bands. */
  def crossNearDuplicates(corpus: DataFrame, probe: DataFrame, threshold: Double,
                          textCol: String = "text", idCol: String = "doc_id",
                          maxBand: Long = MaxBand,
                          /** Band geometry; the (-1, -1) default derives from
                            * [[defaultBands]]`(threshold)` exactly like
                            * [[nearDuplicates]] — a decontamination pass has
                            * the same recall-floor contract as the self-join
                            * (the static 4×4 would undershoot it at both
                            * threshold tails). Pass both to override. */
                          bands: Int = -1, rowsPerBand: Int = -1): DataFrame = {
    require((bands > 0) == (rowsPerBand > 0),
      "pass BOTH bands and rowsPerBand, or neither (derived from threshold)")
    val (nb, nr) =
      if (bands > 0) (bands, rowsPerBand) else derivedBands(threshold)
    crossNearDuplicatesBands(
      lshBands(corpus, textCol, idCol, bands = nb, rowsPerBand = nr)
        .localCheckpoint(eager = true),
      lshBands(probe, textCol, idCol, bands = nb, rowsPerBand = nr)
        .localCheckpoint(eager = true),
      threshold, idCol, maxBand)
  }

  /** [[crossNearDuplicates]] over PRE-BANDED sides — the one-pass shape when
    * corpus and probe are slices of the same table: band once, filter by
    * side, hash the text a single time. Callers own materialization of the
    * two inputs. */
  def crossNearDuplicatesBands(corpusBands: DataFrame, probeBands: DataFrame,
                               threshold: Double, idCol: String = "doc_id",
                               maxBand: Long = MaxBand): DataFrame = {
    // Unhinted anti-joins for the same reason as [[nearDuplicates]]: AQE
    // broadcasts the hot list when it is small, and a templated corpus
    // with a HUGE hot list degrades to a shuffle instead of an OOM.
    val hot = corpusBands.select("band").union(probeBands.select("band"))
      .groupBy("band").agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBand).select("band")
    val cc = corpusBands.join(hot, Seq("band"), "left_anti")
    val pc = probeBands.join(hot, Seq("band"), "left_anti")
    val cand = pc.as("p").join(cc.as("c"), col("p.band") === col("c.band"))
      .select(col(s"p.$idCol").as("probe_id"), col("p.hs").as("hs_p"),
        col(s"c.$idCol").as("corpus_id"), col("c.hs").as("hs_c"))
      .dropDuplicates("probe_id", "corpus_id")
    val jaccard = SqlLet.let(size(array_intersect(col("hs_p"), col("hs_c"))), inter =>
      inter.cast("double") / (size(col("hs_p")) + size(col("hs_c")) - inter))
    cand
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("probe_id", "corpus_id", "jaccard")
  }

  /** Near-duplicate CLUSTERS — what a dedup pipeline actually consumes: the
    * connected components of the [[nearDuplicates]] pair graph, labeled by
    * the minimum doc id in each component (`cluster_id`). Keep one row per
    * cluster (`doc_id == cluster_id`), drop the rest.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels, until a
    * fixpoint (bounded by the component diameter, which for near-dup graphs
    * is tiny: components are cliques-ish by construction). Each round is one
    * edge join + one groupBy — both shuffles on the node id, the standard
    * distributed-CC shape (at extreme diameters you'd switch to
    * large-star/small-star, which is the same primitive rounds). The
    * convergence check is a COUNT (a scalar aggregate), not a data collect;
    * intermediate labels are persisted so each round reads the previous
    * round, not the whole lineage. */
  def clusters(docs: DataFrame, threshold: Double, maxIter: Int = 50,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    connectedComponents(
      docs.select(col(idCol).as("node")),
      nearDuplicates(docs, threshold, textCol, idCol)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      maxIter)
      .select(col("node").as(idCol), col("cluster_id"))

  /** EXACT near-dup clusters — [[clusters]] with the COMPLETE
    * [[prefixJaccard]] pair graph instead of the banded LSH candidates:
    * the assignment is a pure function of (corpus, threshold), so a
    * re-run, a re-tuned banding, or another engine reproduces it
    * bit-identically, and no true ≥-threshold pair can ever split a
    * cluster. Same CC core (pre-partitioned cached edges, pointer
    * doubling); the pair generation is the PPJoin whose cost SCALE.md
    * measures at ~parity with the capped index. */
  def clustersExact(docs: DataFrame, threshold: Double, maxIter: Int = 50,
                    textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    connectedComponents(
      docs.select(col(idCol).as("node")),
      prefixJaccard(docs, threshold, textCol, idCol)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      maxIter)
      .select(col("node").as(idCol), col("cluster_id"))

  /** The dedup pipeline's final artifacts over a [[clusters]] result: ids to
    * KEEP (one representative per cluster — the min-id member, which is the
    * cluster label itself) and the complementary ids to DROP. Narrow
    * filters, no extra shuffle. */
  def keepList(clustered: DataFrame, idCol: String = "doc_id"): DataFrame =
    clustered.filter(col(idCol) === col("cluster_id")).select(idCol)
  def dropList(clustered: DataFrame, idCol: String = "doc_id"): DataFrame =
    clustered.filter(col(idCol) =!= col("cluster_id")).select(idCol)

  /** QUALITY-aware representative per near-dup cluster: where [[keepList]]
    * keeps the min-id member (pure dedup), this keeps the member that
    * maximizes `scoreCol` — the "which copy of this page do we train on"
    * decision (longest text, best quality score, lowest boilerplate …).
    * Ties resolve to the smaller id — the (score DESC, id) total order, so
    * the choice is deterministic under any partitioning or engine.
    *
    * Output: (cluster_id, rep_id, n_docs, rep_score). Plan: one
    * cluster-keyed window pass over the [[clusters]] result joined to the
    * scores — near-dup clusters are small by construction (LSH candidates,
    * not the corpus), so the per-cluster sort is bounded; the join is on
    * the id both sides already carry. */
  def clusterRepresentatives(clustered: DataFrame, scored: DataFrame,
                             scoreCol: String, idCol: String = "doc_id")
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(scoreCol).desc, col(idCol))
    clustered.join(scored.select(col(idCol), col(scoreCol)), idCol)
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col(idCol).as("rep_id"), col("n_docs"),
        col(scoreCol).as("rep_score"))
  }

  private val ccSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The reusable CC core behind [[clusters]]: label every `node` with the
    * minimum node id reachable through `pairs` (columns `src`, `dst` —
    * treated as undirected; nodes absent from any pair label themselves).
    * Works over ANY similarity pair set — minhash pairs, simhash pairs,
    * embedding near-dups. Pointer-doubling rounds (O(log d)); if the
    * `maxIter` cap is hit before convergence the loop CONTRACTS the graph
    * through the partial labels and finishes with alternating large-star/
    * small-star rounds ([[starContract]], r9) — convergent on any
    * diameter, self-verified exact, so an adversarial chain-shaped
    * component degrades to extra rounds instead of an outage.
    * Output: (node, cluster_id). */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 50,
                          driverLimit: Long = DriverCcEdgeLimit): DataFrame =
    // Isolated nodes (never in a pair) label themselves; left join keeps
    // every input node exactly once whether or not it saw an edge.
    nodes.select(col("node"))
      .join(connectedComponentsOfEdges(pairs, maxIter, driverLimit),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cluster_id"))

  /** Symmetric-edge-row limit under which [[connectedComponentsOfEdges]]
    * collects the edge list and labels components with driver-side
    * union-find instead of the distributed loop. The distributed loop's
    * floor on a small graph is per-round JOB overhead (cache + checkpoint
    * + observe per round), seconds at local[32] regardless of data;
    * union-find over a ≤1M-row collect (≤16 MB of longs) is
    * O(E·α(E)) ≈ milliseconds, and its output is a LocalRelation the
    * reattach join can broadcast. Measured crossover in SCALE.md r9: the
    * driver path wins 4–7× at every probed size up to 2× this limit; the
    * limit is set well inside driver-memory safety, not at the win
    * boundary. At 100 TB a billion-pair graph sails past the gate and
    * takes the loop exactly as before. */
  val DriverCcEdgeLimit = 1000000L

  /** Min-label union-find with path compression over a collected
    * symmetric edge list: returns (node → component-min) for every node
    * appearing in an edge — exactly the distributed loop's contract.
    * DRIFT CONTRACT: `TwinDriftSpec` re-proves equality with the
    * distributed loop on FRESH random graphs every test run — a semantic
    * edit here or in the loop must keep that suite green. */
  private[graft] def driverUnionFind(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != r) {
        val next = parent.getOrDefault(c, c); parent.put(c, r); c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      // Union toward the smaller root: roots stay component minima, so no
      // second min pass is needed and labels match the loop's min-id
      // contract by construction.
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toArray.map(n => n -> find(n))
  }

  /** [[connectedComponents]] restricted to the EDGE-TOUCHED node set — for
    * callers whose node universe IS the edge endpoints (e.g. fixpoint
    * label propagation), skipping the redundant caller-side node
    * derivation and the no-op reattach join. `driverLimit` overrides
    * [[DriverCcEdgeLimit]]; 0 forces the distributed loop (specs, and
    * callers that know their pair graph is about to grow). */
  def connectedComponentsOfEdges(pairs: DataFrame, maxIter: Int = 50,
                                 driverLimit: Long = DriverCcEdgeLimit)
      : DataFrame = {
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      // Cache PRE-PARTITIONED on the per-round join key: the cached plan's
      // outputPartitioning is HashPartitioning(dst), so every round's
      // edges⋈labels join exchanges only the node-sized label table — the
      // (larger) edge side would otherwise re-shuffle identically each
      // round. Same effect as bucketing the edge table in a deployment.
      .repartition(col("dst"))
      .persist()
    val edgeCount = edges.count() // materialize once; every round reuses it
    // Small-graph gate (r9): a clean corpus's near-dup pair graph is TINY
    // relative to the corpus (hundreds of pairs at sf0.1), and the
    // distributed loop's floor is per-round JOB overhead, not data — the
    // pair count is already in hand from the materializing count, so
    // under the measured limit the labeling runs as driver-side
    // union-find over the collected edge list and comes back as a
    // broadcastable local relation. Long-typed ids only (every caller's
    // node ids are longs; anything else falls through to the loop).
    val longTyped = edges.schema.fields.take(2).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (edgeCount <= driverLimit && longTyped) {
      val out = driverUnionFind(
        edges.select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      edges.unpersist()
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("node", "cluster_id")
    }
    // Only nodes TOUCHED BY AN EDGE can ever change labels — isolated nodes
    // self-label outside the loop, so every round's join/groupBy runs over
    // |edge nodes| (the near-dup pair population, typically a few % of the
    // corpus) instead of |V|.
    // Each round MUST truncate lineage (localCheckpoint, like RecentStore):
    // persist alone keeps the nested logical plan, which doubles per round —
    // by ~15 rounds merely PLANNING (or explainString-ing) the query OOMs.
    // Found at sf0.1, where longer near-dup chains need more rounds.
    val edgeNodes = edges.select(col("src").as("node")).distinct()
    var current = edgeNodes.select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    // Convergence via the exact label-sum: each round takes per-node minima,
    // so labels are monotonically non-increasing — the sum is strictly
    // smaller iff ANY label changed (decimal, not long: a long sum of
    // 2^63-scale ids wraps). The sum rides the checkpoint materialization
    // as an observe() metric (CollectMetrics is accumulator-backed, so the
    // eager localCheckpoint pass populates it) — NO separate aggregate job
    // per round; at bench scale the per-round job launch was ~25% of the
    // whole clusters() wall time.
    def initSum(df: DataFrame): java.math.BigDecimal =
      // sum over zero rows is NULL — an empty node set must converge, not NPE.
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = initSum(current)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val viaEdges = edges.join(current, edges("dst") === current("node"))
        .select(edges("src").as("node"), col("label"))
      val stepped = current.union(viaEdges)
        .groupBy("node").agg(min("label").as("label"))
      // Pointer jump: label(x) := label(label(x)). A label is itself a
      // component member's id, so the indirection stays within the
      // component and labels remain monotone non-increasing — but known
      // minima now propagate 2^r hops after r rounds instead of r, so a
      // chain of diameter d converges in O(log d) edge-join rounds. The
      // jump is a self-equi-join on the node-sized label table — cheap
      // next to the edge join it eliminates rounds of.
      val lbl = stepped.select(col("node").as("pnode"), col("label").as("plabel"))
      val obsName = s"graft_cc_${ccSeq.incrementAndGet()}" // unique per plan
      val jumped = stepped.join(lbl, stepped("label") === lbl("pnode"), "left")
        .select(stepped("node"),
          coalesce(col("plabel"), stepped("label")).as("label"))
        .observe(obsName, sum(col("label").cast("decimal(38,0)")).as("s"))
      val next = jumped.localCheckpoint(true)
      val curSum = jumped.queryExecution.observedMetrics.get(obsName) match {
        // Metric row present; a NULL sum means zero rows (empty node set).
        case Some(r) => Option(r.getDecimal(0))
          .getOrElse(java.math.BigDecimal.ZERO)
        // Metric missing (a future engine routing localCheckpoint around
        // the accumulator pass): pay the explicit aggregate rather than
        // silently faking convergence with a zero.
        case None => initSum(next)
      }
      changed = curSum.compareTo(prevSum) != 0
      prevSum = curSum
      current = next
      iter += 1
    }
    // Labels at the cap are NOT the component minima — clusters/keep-lists
    // would quietly disagree with the transitive closure. Instead of
    // failing loud (the r7 behavior — at 100× one adversarial chain-shaped
    // component turned clusters/label-prop/leakage into outages), CONTRACT
    // the graph through the partial labels and finish with alternating
    // large-star/small-star rounds (Kiveris et al., "Connected Components
    // in MapReduce and Beyond") — the same edge-join + min-agg primitives,
    // provably convergent on any diameter. The fallback's answer is
    // exactness-VERIFIED below (every original edge must be a self-loop
    // under the final labels), so a bug here fails loud, never silently.
    val resolved =
      if (!changed) current
      else {
        // Contract: each surviving edge connects two partial labels. The
        // contracted node space is the label space — small relative to the
        // original once maxIter doubling rounds have merged the easy mass.
        // `edges` (cached, symmetric) rather than re-deriving `pairs` —
        // the pair set upstream may be an expensive LSH/PPJoin chain.
        val l1 = current.select(col("node").as("n1"), col("label").as("la"))
        val l2 = current.select(col("node").as("n2"), col("label").as("lb"))
        val contracted = edges
          .join(l1, edges("src") === col("n1"))
          .join(l2, edges("dst") === col("n2"))
          .filter(col("la") =!= col("lb"))
          .select(greatest(col("la"), col("lb")).as("src"),
            least(col("la"), col("lb")).as("dst"))
          .distinct()
        val star = starContract(contracted, maxRounds = math.max(maxIter, 64))
        val merged = current.join(
            star.select(col("node").as("snode"), col("center")),
            current("label") === col("snode"), "left")
          .select(current("node"),
            coalesce(col("center"), current("label")).as("label"))
          .localCheckpoint(true)
        // Exactness gate: under correct CC labels every original edge is a
        // self-loop. One edge⋈labels⋈labels count — cheap next to the loop.
        val lf = merged.select(col("node"), col("label"))
        val bad = edges
          .join(lf.select(col("node").as("n1"), col("label").as("la")),
            edges("src") === col("n1"))
          .join(lf.select(col("node").as("n2"), col("label").as("lb")),
            edges("dst") === col("n2"))
          .filter(col("la") =!= col("lb")).count()
        if (bad != 0) throw new IllegalStateException(
          s"connectedComponents star-fallback left $bad cross-component " +
            "edge rows — labels are not a fixpoint (engine bug, not input)")
        merged
      }
    edges.unpersist()
    resolved.withColumnRenamed("label", "cluster_id")
  }

  /** Alternating large-star/small-star contraction to a fixpoint: returns
    * (node, center) for every node of `edges0` (canonical src > dst rows),
    * center = the component minimum. Each operation is one symmetric-or-
    * directed grouping (min over neighbors) plus a relink projection —
    * O(|E|) work per round, convergent in O(log² n) rounds on ANY diameter
    * (no dependence on the longest chain, unlike plain label flooding).
    * Fixpoint detection compares the edge multiset's (count, xxhash64 sum)
    * across rounds; the caller's self-loop verification makes correctness
    * independent of that checksum. Lineage truncates per round like the
    * doubling loop (nested plans OOM the planner by ~15 rounds). */
  private def starContract(edges0: DataFrame, maxRounds: Int): DataFrame = {
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      // Decimal sum: xxhash64 values span the full long range, so a long
      // sum overflows (ANSI throws) — same discipline as the label sums.
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    // Large-star: every node's strictly-LARGER neighbors relink to
    // m = min(Γ(u) ∪ {u}). Output stays canonical: v > u ≥ m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      sym.join(mins, "src")
        .select(col("dst").as("v"), least(col("mn"), col("src")).as("m"))
        .filter(col("v") > col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }
    // Small-star: every node's smaller-side neighbors (and the node) relink
    // to the min of the smaller side. Directed larger→smaller input only.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min("dst").as("m"))
      val relinked = e.join(mins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      relinked.union(mins.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    var cur = edges0.localCheckpoint(true)
    var sig = checksum(cur)
    var round = 0
    var stable = cur.isEmpty
    while (!stable && round < maxRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextSig = checksum(next)
      stable = nextSig == sig
      sig = nextSig
      cur = next
      round += 1
    }
    if (!stable) throw new IllegalStateException(
      s"large-star/small-star did not reach a fixpoint in $maxRounds rounds")
    // At the fixpoint every edge is (member, center); centers label
    // themselves. groupBy-min rather than trusting single-parent shape —
    // costs one node-sized aggregate, robust to a non-star fixpoint.
    cur.select(col("src").as("node"), col("dst").as("center"))
      .union(cur.select(col("dst").as("node"), col("dst").as("center")))
      .groupBy("node").agg(min("center").as("center"))
  }

  /** Exact n-gram Jaccard near-dup — the inverted-index alternative to LSH:
    * explode shingle hashes to (hash, doc) postings, DROP hashes whose
    * document frequency exceeds `maxDf` (non-discriminative postings are
    * what makes posting-list joins quadratic — the standard frequency cap),
    * self-join the remaining postings for candidates, then re-join the hash
    * sets BY DOC ID (the narrow-shuffle verify shape SCALE.md describes) and
    * keep exact Jaccard >= threshold. Recall: pairs sharing only hot
    * shingles are not candidates — part of the declared semantics, and the
    * oracle replicates the cap. */
  /** Sorted-neighborhood near-dup pairs — the classic SNM alternative to
    * LSH banding: sort the corpus by its normalized text, compare each
    * document only against its `window − 1` sort neighbors, verify
    * candidates with exact shingle Jaccard. Catches prefix-sharing
    * near-dups with a LINEAR candidate count (≤ window·n pairs) and no
    * banding randomness; misses pairs whose edits fall early in the text
    * (they sort apart) — the standard SNM recall trade, complementary to
    * [[nearDuplicates]].
    *
    * Scale shape: the global sort order comes from
    * [[Numbering.assignGlobalIds]] (range repartition + in-partition
    * sort + driver prefix offsets — never one ordered partition);
    * neighbor candidates are an EQUI-join on rank blocks of size
    * `window` (each row lands in its own block and the next, so any pair
    * within rank distance < window shares a block key) with the rank
    * distance re-checked exactly. The verify step reuses the
    * checkpointed shingle-hash table on both sides. Empty-shingle
    * documents (< n words) never emit pairs, like every other near-dup
    * path here. Output: (doc_a, doc_b, jaccard), a before b in sort
    * order. */
  def sortedNeighborhood(docs: DataFrame, window: Int, threshold: Double,
                         textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    require(window >= 2, "window must cover at least one neighbor")
    val hashed = docs.select(col(idCol),
        graft.functions.TextFunctions.normalize(col(textCol)).as("_key"),
        shingleHashes(col(textCol)).as("hs"))
      .localCheckpoint(eager = true) // feeds the rank pass + both verify sides
    val ranked = Numbering.assignGlobalIds(hashed.select(col(idCol), col("_key")),
      Seq(col("_key"), col(idCol)), out = "r")
    val w = window.toLong
    val e = ranked.select(col(idCol).as("id"), col("r"),
      explode(expr(s"array(r div $w, r div $w + 1)")).as("blk"))
    val cand = e.as("a").join(e.as("b"),
        col("a.blk") === col("b.blk") &&
          col("b.r") - col("a.r") > 0 && col("b.r") - col("a.r") < w)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val ha = hashed.select(col(idCol).as("doc_a"), col("hs").as("hs_a"))
    val hb = hashed.select(col(idCol).as("doc_b"), col("hs").as("hs_b"))
    val jaccard = graft.functions.SqlLet.let(
      size(array_intersect(col("hs_a"), col("hs_b"))), inter =>
        inter.cast("double") / (size(col("hs_a")) + size(col("hs_b")) - inter))
    cand.join(ha, "doc_a").join(hb, "doc_b")
      .filter(size(col("hs_a")) > 0 && size(col("hs_b")) > 0)
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shared df-capped inverted-index candidate machinery of
    * [[ngramJaccard]] / [[ngramContainment]]: (doc_a, doc_b, hs_a, hs_b)
    * for every pair sharing ≥ 1 shingle hash with document frequency ≤
    * `maxDf` — the rare-posting self-join whose candidate count is bounded
    * by Σ df² over kept postings.
    *
    * `sizeRatioMicro` (0 = off): a Jaccard caller passes its threshold in
    * micro units to fuse the J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t LENGTH filter
    * into the candidate join — pure pruning of pairs the threshold would
    * drop anyway, so the OUTPUT (and therefore the oracle) is unchanged;
    * the containment caller must leave it off (min-denominator similarity
    * is exactly about tiny-in-big pairs the ratio filter would kill). */
  private def dfCappedPairs(docs: DataFrame, maxDf: Long,
                            textCol: String, idCol: String,
                            sizeRatioMicro: Long = 0L): DataFrame = {
    // The hash-set table feeds FIVE plan branches (postings twice through
    // the self-join, the df-cap, and both verify sides) — materialize it
    // once instead of re-hashing the corpus per branch (localCheckpoint,
    // not persist: see nearDuplicates on cache-entry lifetime).
    val hashed = docs.select(col(idCol), shingleHashes(col(textCol)).as("hs"))
      .localCheckpoint(eager = true)
    val postings = hashed.select(col(idCol), explode(col("hs")).as("h"),
      size(col("hs")).cast("long").as("s"))
    val rare = postings.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("h")
    val pruned = postings.join(rare, "h")
    // Candidates share >= 1 posting, so the Jaccard denominator
    // |a| + |b| - |a∩b| >= max(|a|,|b|) >= 1 — no zero-division case here
    // (empty-shingle docs emit no postings and never become candidates).
    val joinCond = col("a.h") === col("b.h") &&
      col(s"a.$idCol") < col(s"b.$idCol") &&
      (if (sizeRatioMicro <= 0L) lit(true)
       else col("a.s") * sizeRatioMicro <= col("b.s") * 1000000L &&
         col("b.s") * sizeRatioMicro <= col("a.s") * 1000000L)
    val cand = pruned.as("a").join(pruned.as("b"), joinCond)
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    val ha = hashed.select(col(idCol).as("doc_a"), col("hs").as("hs_a"))
    val hb = hashed.select(col(idCol).as("doc_b"), col("hs").as("hs_b"))
    cand.join(ha, "doc_a").join(hb, "doc_b")
  }

  def ngramJaccard(docs: DataFrame, threshold: Double, maxDf: Long = 30L,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val jaccard = SqlLet.let(size(array_intersect(col("hs_a"), col("hs_b"))), inter =>
      inter.cast("double") / (size(col("hs_a")) + size(col("hs_b")) - inter))
    dfCappedPairs(docs, maxDf, textCol, idCol,
        sizeRatioMicro = microThreshold(threshold))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** ASYMMETRIC containment pairs — "the smaller document's shingles are
    * (mostly) inside the larger's": C = |A∩B| / min(|A|, |B|), thresholded.
    * Catches subset-duplication (a doc quoted whole inside another, a
    * fragment re-shipped with boilerplate) that symmetric Jaccard
    * structurally misses: for |A| ≪ |B| the union term caps Jaccard at
    * |A|/|B| no matter how completely A is contained. Candidates come from
    * the same df-capped inverted index as [[ngramJaccard]] (min-denominator
    * > 0 for the same reason the Jaccard denominator is). Output
    * (doc_a, doc_b, n_a, n_b, n_common, containment), doc_a < doc_b. */
  def ngramContainment(docs: DataFrame, threshold: Double, maxDf: Long = 30L,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val contain = SqlLet.let(size(array_intersect(col("hs_a"), col("hs_b"))), inter =>
      inter.cast("double") / least(size(col("hs_a")), size(col("hs_b"))))
    dfCappedPairs(docs, maxDf, textCol, idCol)
      .withColumn("n_a", size(col("hs_a")).cast("long"))
      .withColumn("n_b", size(col("hs_b")).cast("long"))
      .withColumn("n_common",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("containment", contain)
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_common", "containment")
  }

  /** EXACT-COMPLETE set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin candidate rule): every pair of documents with shingle
    * Jaccard ≥ `threshold` — no LSH randomness, no df-cap recall loss, no
    * sort-window miss. The one candidate generator in this family whose
    * output is DEFINITIONALLY the brute-force all-pairs answer, which is
    * exactly how the oracle checks it (an independent O(n²) join, never
    * this algorithm).
    *
    * Why it is complete: order all shingle hashes by (global df asc, hash)
    * — any total order works; rarest-first minimizes candidates. A pair
    * with J ≥ t shares ≥ ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|A|⌉ hashes, so if A kept
    * only its first |A| − ⌈t·|A|⌉ + 1 hashes (its PREFIX), the smallest
    * shared hash in the order cannot be skipped by both sides' prefixes —
    * hence candidates = pairs whose prefixes share ≥ 1 hash, a plain
    * equi-join on prefix postings. The |B| ≥ t·|A| ∧ |A| ≥ t·|B| length
    * filter rides in the same join condition. Exact array-intersect verify
    * decides membership, so pruning can only cost work, never answers.
    *
    * Scale shape: one map-side-combined df aggregate (output = vocabulary),
    * one doc-keyed window to rank each doc's hashes (groups = one doc's
    * shingle set, never corpus-wide), then an equi-join whose work is
    * Σ_h prefixdf(h)² — prefix postings concentrate on RARE hashes by
    * construction (a hash with df > ~1/t · typical-doc-size appears in no
    * prefix), which is the published reason AllPairs beats the plain
    * inverted index without needing a recall-losing cap. The POSITIONAL
    * filter (the "PP" of PPJoin) rides in the same join condition: a
    * matched posting at ranks (i, j) can still contribute at most
    * 1 + min(|A|−i, |B|−j) overlap, so rows that cannot reach the
    * required ⌈t/(1+t)·(|A|+|B|)⌉ are dropped BEFORE the distinct —
    * this turns the classic blow-up corpus (many small docs sharing one
    * frequent hash) from Σ df² candidate rows into zero. At a truly
    * adversarial corpus (thousands of near-identical docs) the surviving
    * candidate set approaches the true near-dup pair count —
    * output-sized, not a blow-up. MEASURED (SCALE.md r9 soak): a 5000-doc
    * template clique (12.5M true pairs) produced candidates/output = 1.01.
    * All pruning bounds are integer arithmetic on a floor-to-micro
    * threshold (rounding the threshold DOWN only widens prefixes/bounds),
    * so float rounding can never drop a qualifying pair; membership
    * itself is exact-verified either way.
    *
    * CONTRACT at adversarial density: when a near-identical family of
    * size F exists, the OUTPUT itself is Θ(F²) — no candidate rule can
    * help, the answer is that big (the r9 soak's 12.5M-pair clique wall is
    * >90% output materialization + verify). Production pre-passes that
    * keep the answer small without losing information: (1) collapse
    * byte-identical docs first ([[exact]] — one linear shuffle), so
    * F counts distinct texts only; (2) when only CLUSTERS are needed,
    * consume the pairs directly into [[clustersExact]] (CC needs each pair
    * once, streamed, never a retained pair list); (3) an explicit family
    * cap like the LSH [[MaxBand]] — at which point the capped LSH path is
    * the honest choice, since capping forfeits exactly the completeness
    * this operator exists for. */
  def prefixJaccard(docs: DataFrame, threshold: Double,
                    textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val tm = microThreshold(threshold)
    // (id, hs) feeds the df pass, the ranking pass, and both verify sides.
    val hashed = docs.select(col(idCol), shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(eager = true)
    val postings = hashed.select(col(idCol), explode(col("hs")).as("h"),
      size(col("hs")).cast("long").as("s"))
    val dfs = postings.groupBy("h").agg(count(lit(1)).as("df"))
    val prefix = rankedPrefix(postings.join(dfs, "h"), tm, idCol)
    // Required overlap for the pair: α = ⌈t/(1+t)·(|A|+|B|)⌉ =
    // ceilDiv(tm·(sa+sb), 1e6+tm); a matched posting at ranks (i, j) has
    // remaining-overlap upper bound 1 + min(|A|−i, |B|−j). The pair's
    // smallest-order common hash always satisfies the bound when J ≥ t,
    // so per-row pruning before the distinct cannot lose a true pair.
    val cand = prefixCandidates(prefix, tm)
    val ha = hashed.select(col(idCol).as("doc_a"), col("hs").as("hs_a"))
    val hb = hashed.select(col(idCol).as("doc_b"), col("hs").as("hs_b"))
    val jaccard = SqlLet.let(size(array_intersect(col("hs_a"), col("hs_b"))), inter =>
      inter.cast("double") / (size(col("hs_a")) + size(col("hs_b")) - inter))
    cand.join(ha, "doc_a").join(hb, "doc_b")
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** LSH recall audit at the PAIR level — "measure, don't guess" for the
    * banding layer, now measurable at corpus scale because
    * [[prefixJaccard]] provides the COMPLETE truth set without a cross
    * join: per Jaccard decile, how many true ≥-threshold pairs did the
    * banded [[nearDuplicates]] path actually surface? The found set is
    * verified on the same shingle sets, so found ⊆ truth and recall is a
    * plain left join + one tiny aggregate; a decile whose recall sags is
    * the signal to add bands or lower rows-per-band. All ratios are
    * integer permille; the decile comes from the SAME double arithmetic
    * on both engines (IEEE ops are bit-deterministic given identical
    * inputs). Output (jaccard_decile, n_true, n_found, recall_permille). */
  def nearDupRecall(docs: DataFrame, threshold: Double,
                    textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    val truth = prefixJaccard(docs, threshold, textCol, idCol)
    val found = nearDuplicates(docs, threshold, textCol, idCol)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("jaccard") * 10).cast("long").as("jaccard_decile"))
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
      .withColumn("recall_permille", expr("n_found * 1000 div n_true"))
  }

  /** The banding S-curve: probability that a pair with Jaccard `j` shares
    * at least one of `bands` bands of `rowsPerBand` minhashes each —
    * S(j) = 1 − (1 − j^r)^b, the closed form [[nearDupRecall]] validates
    * empirically and [[suggestBands]] optimizes over. */
  def bandRecallAt(j: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)

  /** One candidate LSH geometry with its closed-form operating point. */
  final case class BandChoice(bands: Int, rowsPerBand: Int,
                              /** S(threshold): worst-case catch probability
                                * for a pair AT the threshold. */
                              thresholdRecall: Double,
                              /** S(fpRef): candidate probability for a
                                * clearly-sub-threshold pair — the
                                * precision/work proxy the choice minimizes. */
                              fpRate: Double,
                              /** Σ n_true(decile)·S(decile mid) / Σ n_true
                                * over the MEASURED ≥-threshold pair-mass
                                * distribution (NaN when the corpus has no
                                * qualifying pairs). */
                              weightedRecall: Double)

  /** Auto-tune the LSH band geometry from the recall model the audit
    * validates: the banding S-curve S(j) = 1 − (1 − j^r)^b is closed-form,
    * and [[nearDupRecall]] measures it per decile against the complete
    * PPJoin truth set — this is the step that ACTS on that measurement
    * (r8 built the audit; nothing consumed it).
    *
    * Selection rule over the (b, r) grid with b·r ≤ `maxHashes`:
    *
    *   1. eligible ⇔ S(threshold) ≥ `recallFloor` — recall is evaluated AT
    *      the threshold, the hardest point (S is increasing in j, so every
    *      qualifying pair does at least this well);
    *   2. among eligible, MINIMIZE S(`fpRef`), the catch probability of a
    *      clearly-sub-threshold pair. Without this term the recall floor
    *      alone always degenerates to r = 1 (catch everything, verify
    *      everything) — candidate verification work, not recall, is what
    *      the geometry actually trades;
    *   3. ties: fewer total hashes, then fewer bands (signature compute,
    *      then explode factor).
    *
    * The returned `weightedRecall` folds the MEASURED ≥-threshold pair-mass
    * histogram (one complete [[prefixJaccard]] pass — the same truth set the
    * audit uses) through the S-curve: the corpus-specific expected recall,
    * for reporting beside the worst-case gate. Throws when no geometry
    * within `maxHashes` meets the floor (raise the budget — silently
    * returning a floor-missing geometry would defeat the audit).
    *
    * Driver-side closed-form math over a ≤`maxHashes`² grid plus one
    * corpus truth pass; the suggestion plugs into [[nearDuplicates]]'
    * `bands`/`rowsPerBand` parameters. */
  def suggestBands(docs: DataFrame, threshold: Double,
                   recallFloor: Double = 0.9,
                   maxHashes: Int = NumHashes,
                   fpRef: Double = -1.0,
                   textCol: String = "text",
                   idCol: String = "doc_id"): BandChoice = {
    require(threshold > 0.0 && threshold < 1.0, "threshold in (0, 1)")
    val choice = defaultBands(threshold, recallFloor, maxHashes, fpRef)
    // Measured ≥-threshold pair mass per decile (≤ 10 rows collected).
    val mass = prefixJaccard(docs, threshold, textCol, idCol)
      .groupBy(floor(col("jaccard") * 10).cast("int").as("d"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = mass.values.sum
    val weighted =
      if (total == 0) Double.NaN
      else mass.map { case (d, n) =>
        val mid = math.min((d / 10.0 + math.min(d / 10.0 + 0.1, 1.0)) / 2, 1.0)
        n * bandRecallAt(mid, choice.bands, choice.rowsPerBand)
      }.sum / total
    choice.copy(weightedRecall = weighted)
  }

  /** [[defaultBands]] made TOTAL for the default path of
    * [[nearDuplicates]]/[[clusters]]: at degenerate thresholds (≤ 0, or so
    * low that S(t) caps below the floor even at maxHashes×1 — the curve's
    * ceiling is 1−(1−t)^maxHashes) the maximal-recall geometry
    * ([[NumHashes]]×1) is used instead of throwing, since a caller passing
    * threshold 0.05 wants "catch what you can", and the old static 4×4 was
    * silently WORSE at exactly those thresholds. Explicit tuning goes
    * through [[defaultBands]]/[[suggestBands]], which still throw. */
  private def derivedBands(threshold: Double): (Int, Int) =
    if (threshold <= 0.0) (NumHashes, 1)
    else
      try { val g = defaultBands(threshold); (g.bands, g.rowsPerBand) }
      catch {
        // Only the no-eligible-geometry case reaches here: threshold > 0
        // is checked above and the floor/budget arguments are defaults.
        case _: IllegalArgumentException => (NumHashes, 1)
      }

  /** The CLOSED-FORM core of [[suggestBands]] — grid selection with the
    * recall floor AT the threshold and sub-threshold fp minimization, no
    * corpus pass anywhere (the S-curve is analytic). This is also what the
    * DEFAULT band geometry of [[nearDuplicates]]/[[clusters]] derives from
    * per threshold (r10 — r9 spec-pinned that the static 4×4 default
    * undershoots the 0.9 floor at t=0.8, and at t≤0.5 its recall collapses
    * below 25%; nothing acted on it until the default was derived).
    * Deterministic: same (threshold, floor, budget) → same geometry, which
    * the DuckDB oracles replicate in lockstep. */
  def defaultBands(threshold: Double, recallFloor: Double = 0.9,
                   maxHashes: Int = NumHashes,
                   fpRef: Double = -1.0): BandChoice = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    require(recallFloor > 0.0 && recallFloor < 1.0, "recallFloor in (0, 1)")
    require(maxHashes >= 1, "maxHashes must be positive")
    val fp = if (fpRef > 0) fpRef else threshold / 2
    def s(j: Double, b: Int, r: Int): Double = bandRecallAt(j, b, r)
    val grid = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
    } yield BandChoice(b, r, s(threshold, b, r), s(fp, b, r), Double.NaN)
    val eligible = grid.filter(_.thresholdRecall >= recallFloor)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      f"no (bands, rowsPerBand) grid point with ≤ $maxHashes hashes reaches " +
        f"recall $recallFloor%.2f at threshold $threshold%.2f — raise maxHashes")
    eligible.minBy(c =>
      (c.fpRate, c.bands * c.rowsPerBand, c.bands))
  }

  /** Micro-integer threshold, floored: tm/1e6 ≤ threshold, and every
    * PPJoin pruning bound is monotone in t, so pruning with tm is a
    * (possibly slightly looser) SUPERSET of pruning with the exact t —
    * float rounding can never drop a qualifying pair. */
  private def microThreshold(threshold: Double): Long =
    math.floor(threshold * 1e6).toLong

  /** Exact integer ⌈n/d⌉ in Column arithmetic: Spark's `/` is FLOATING
    * division, so divide only after subtracting the remainder — the
    * quotient is then an exact integer, and every operand here is far
    * below 2^53, so the double round-trip is lossless. */
  private def ceilDivCol(num: Column, den: Long): Column = {
    val n = num + lit(den - 1L)
    ((n - pmod(n, lit(den))) / lit(den)).cast("long")
  }

  /** The PPJoin candidate self-join over a prefix-posting table —
    * extracted so the candidate stage can be measured on its own (the
    * adversarial-density soak in SCALE.md). Condition:
    * shared prefix hash + id order + both length filters + the positional
    * bound (a posting matched at ranks (i, j) can contribute at most
    * 1 + min(|A|−i, |B|−j) overlap, which must reach
    * α = ⌈t/(1+t)·(|A|+|B|)⌉). */
  private[graft] def prefixCandidates(prefix: DataFrame, tm: Long): DataFrame = {
    val alpha = ceilDivCol(lit(tm) * (col("a.s") + col("b.s")), 1000000L + tm)
    prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("a.s") * tm <= col("b.s") * 1000000L &&
          col("b.s") * tm <= col("a.s") * 1000000L &&
          lit(1L) + least(col("a.s") - col("a.rn"), col("b.s") - col("b.rn"))
            >= alpha)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** PPJoin prefix postings of one side: rank each doc's hashes under the
    * given (already-joined) `df` order column, keep the first
    * |d| − ⌈t·|d|⌉ + 1. Expects (idCol, h, s, df); the per-doc window's
    * groups are one document's shingle set, never corpus-wide. */
  private def rankedPrefix(postingsWithDf: DataFrame, tm: Long,
                           idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    postingsWithDf
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("h"))).cast("long"))
      .filter(col("rn") <= col("s") - ceilDivCol(col("s") * tm, 1000000L) + lit(1L))
      .select(col(idCol).as("id"), col("h"), col("s"), col("rn"))
  }

  /** Incremental PPJoin — [[prefixJaccard]]'s production form for
    * continuous ingestion: every (batch, corpus) cross pair with shingle
    * Jaccard ≥ `threshold`, COMPLETE like the self-join variant, at
    * O(batch)-shaped per-batch cost. The hash order — and with it the
    * corpus's prefix-posting index and df table — is FROZEN from the
    * corpus alone; a batch hash unseen in the corpus sorts LAST
    * (df = ∞ sentinel): it cannot match any corpus posting, so spending
    * batch prefix slots on corpus-rare hashes instead maximizes pruning,
    * and ANY shared total order preserves the completeness theorem.
    * Prefix + positional + length filters are [[prefixJaccard]]'s
    * verbatim, applied to the batch×index equi-join. This form rebuilds
    * the corpus tables per call (overstating incremental cost); the
    * production steady-state — index built ONCE per corpus snapshot,
    * persisted, batches scored against the frozen generation — is
    * [[graft.store.PrefixIndexStore]], which shares [[prefixScoreBatch]]
    * verbatim. Output (batch_id, corpus_id, jaccard). */
  def prefixJaccardIncremental(corpus: DataFrame, batch: DataFrame,
                               threshold: Double, textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val (cHashed, dfs, cPrefix) =
      prefixIndexTables(corpus, threshold, textCol, idCol)
    prefixScoreBatch(cHashed, dfs, cPrefix, batch, threshold, textCol, idCol)
  }

  /** The three corpus-side tables of the frozen PPJoin index — what
    * [[graft.store.PrefixIndexStore]] persists once per corpus snapshot:
    *
    *   - `hashed`  (cid, hs): each doc's distinct shingle-hash set (the
    *     exact-verify side),
    *   - `dfs`     (h, df): the global document-frequency table — the
    *     FROZEN total order every prefix is ranked under,
    *   - `prefix`  (id, h, s, rn): the corpus prefix postings.
    *
    * `hashed` checkpoints eagerly — all three tables (and the incremental
    * form's verify join) derive from that ONE tokenizing corpus scan. */
  def prefixIndexTables(corpus: DataFrame, threshold: Double,
                        textCol: String = "text", idCol: String = "doc_id")
      : (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val tm = microThreshold(threshold)
    val cHashed = corpus.select(col(idCol).as("cid"),
        shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(eager = true)
    val cPost = cHashed.select(col("cid").as(idCol),
      explode(col("hs")).as("h"), size(col("hs")).cast("long").as("s"))
    val dfs = cPost.groupBy("h").agg(count(lit(1)).as("df"))
    val cPrefix = rankedPrefix(cPost.join(dfs, "h"), tm, idCol)
    (cHashed, dfs, cPrefix)
  }

  /** The corpus-side DELTA of a frozen PPJoin index: `newDocs`' hashed
    * sets and prefix postings ranked under the FROZEN `frozenDfs` order
    * (hashes unseen in the base order sort last via the df = ∞ sentinel,
    * exactly like the batch side of [[prefixScoreBatch]]). Because the
    * completeness theorem needs only a total order SHARED by both join
    * sides — not the true current df order — an index can grow by
    * appending deltas indefinitely without a corpus rebuild; what decays
    * is only PRUNING quality as the frozen order drifts from the true
    * frequencies, which is the re-snapshot trigger, never a correctness
    * event. Returns (hashedDelta (cid, hs), prefixDelta (id, h, s, rn)).
    * The durable form is [[graft.store.PrefixIndexStore.appendDocs]]. */
  def prefixIndexDelta(newDocs: DataFrame, frozenDfs: DataFrame,
                       threshold: Double, textCol: String = "text",
                       idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val tm = microThreshold(threshold)
    val hashed = newDocs.select(col(idCol).as("cid"),
        shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(eager = true)
    val posts = hashed.select(col("cid").as(idCol),
      explode(col("hs")).as("h"), size(col("hs")).cast("long").as("s"))
    val prefix = rankedPrefix(
      posts.join(frozenDfs, Seq("h"), "left")
        .withColumn("df", coalesce(col("df"), lit(Long.MaxValue))),
      tm, idCol)
    (hashed, prefix)
  }

  /** The batch side's ranked prefix under a frozen df order — shared by
    * [[prefixScoreBatch]] and [[prefixCandidatePairs]]. */
  private def batchPrefix(bHashed: DataFrame, dfs: DataFrame, tm: Long,
                          idCol: String): DataFrame = {
    val bPost = bHashed.select(col(idCol), explode(col("hs")).as("h"),
      size(col("hs")).cast("long").as("s"))
    rankedPrefix(
      bPost.join(dfs, Seq("h"), "left")
        .withColumn("df", coalesce(col("df"), lit(Long.MaxValue))),
      tm, idCol)
  }

  /** The PPJoin candidate equi-join — prefix + length + positional filters,
    * shared VERBATIM by [[prefixScoreBatch]] (which verifies candidates
    * exactly) and [[prefixCandidatePairs]] (which counts them: the
    * stored-index pruning-decay probe), so the probe measures exactly the
    * volume the scorer pays. Output (batch_id, corpus_id), distinct. */
  private def candidateJoin(bPrefix: DataFrame, cPrefix: DataFrame,
                            tm: Long): DataFrame = {
    val alpha = ceilDivCol(lit(tm) * (col("b.s") + col("c.s")), 1000000L + tm)
    bPrefix.as("b").join(cPrefix.as("c"),
        col("b.h") === col("c.h") &&
          col("b.s") * tm <= col("c.s") * 1000000L &&
          col("c.s") * tm <= col("b.s") * 1000000L &&
          lit(1L) + least(col("b.s") - col("b.rn"), col("c.s") - col("c.rn"))
            >= alpha)
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
  }

  /** CANDIDATE pairs only — [[prefixScoreBatch]]'s pre-verification stage,
    * exposed as the measured pruning-quality signal for the durable index
    * ([[graft.store.PrefixIndexStore.pruningDecay]]): as append-only
    * deltas accumulate, the frozen df order drifts from true frequencies
    * and candidate volume per corpus doc grows — this is the re-snapshot
    * trigger. Shares [[candidateJoin]]/[[batchPrefix]] with the scorer so
    * the probe cannot drift from what scoring actually pays. */
  def prefixCandidatePairs(dfs: DataFrame, cPrefix: DataFrame,
                           batch: DataFrame, threshold: Double,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val tm = microThreshold(threshold)
    val bHashed = batch.select(col(idCol), shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
    candidateJoin(batchPrefix(bHashed, dfs, tm, idCol), cPrefix, tm)
  }

  /** Score one batch against a frozen PPJoin corpus index — the shared
    * core of [[prefixJaccardIncremental]] (tables rebuilt per call) and
    * [[graft.store.PrefixIndexStore.scoreBatch]] (tables read from the
    * durable store), so the two forms CANNOT drift. Inputs are
    * [[prefixIndexTables]]'s shapes; completeness argument and filters are
    * [[prefixJaccard]]'s verbatim (unseen batch hashes sort last via the
    * df = ∞ sentinel — maximal pruning, any shared total order preserves
    * the theorem). Output (batch_id, corpus_id, jaccard). */
  def prefixScoreBatch(cHashed: DataFrame, dfs: DataFrame, cPrefix: DataFrame,
                       batch: DataFrame, threshold: Double,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val tm = microThreshold(threshold)
    val bHashed = batch.select(col(idCol), shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(eager = true)
    val cand = candidateJoin(batchPrefix(bHashed, dfs, tm, idCol), cPrefix, tm)
    val hb = bHashed.select(col(idCol).as("batch_id"), col("hs").as("hs_b"))
    val hc = cHashed.select(col("cid").as("corpus_id"), col("hs").as("hs_c"))
    val jaccard = SqlLet.let(size(array_intersect(col("hs_b"), col("hs_c"))), inter =>
      inter.cast("double") / (size(col("hs_b")) + size(col("hs_c")) - inter))
    cand.join(hb, "batch_id").join(hc, "corpus_id")
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** SimHash near-dup pairs: candidates share the 16-bit prefix bucket
    * (blocking — same discipline as the minhash bands), verified by hamming
    * distance over the full 32-bit signature. Output
    * (doc_a, doc_b, hamming), doc_a < doc_b. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
                   textCol: String = "text", idCol: String = "doc_id",
                   maxBucket: Long = MaxBucket): DataFrame = {
    require(maxBucket >= 2, "maxBucket below 2 would drop every pair")
    // One signature row per doc — materialize before the self-join so the
    // 32-bit vote pipeline runs once, not once per join side
    // (localCheckpoint, not persist: see nearDuplicates on lifetime).
    val sigs0 = simhash(docs, textCol, idCol)
      .localCheckpoint(eager = true)
    // Hot-bucket cap (MaxBand discipline): buckets past `maxBucket` are
    // dropped WHOLESALE before the self-join, bounding candidates at
    // Σ|b|² over surviving buckets. The size aggregate and the gate join
    // key on the SAME `bucket` the pair join shuffles on.
    val small = sigs0.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select("bucket")
    val sigs = sigs0.join(small, "bucket")
    val a = sigs.as("a")
    val b = sigs.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate-PASSAGE detection — document-level dedup (exact/near) misses
    * boilerplate repeated INSIDE otherwise-distinct documents (license
    * headers, navigation chrome, quoted chain-mail), the second-biggest
    * contamination source in web corpora after whole-page dupes. Slides a
    * `w`-word window over the raw whitespace tokens of each document and
    * returns every passage that appears in at least `minDocs` distinct
    * documents: (passage, n_docs, n_occ, first_doc).
    *
    * Scale shape: narrow n-gram fan-out (one Generate, the token array
    * let-bound so the split runs once) → ONE hash aggregate keyed on the
    * passage. Output cardinality is bounded by the post-filter duplicate
    * set, and map-side partial counts collapse each document's repeats
    * before the shuffle. At 100 TB the group key would be the passage's
    * rolling hash ([[graft.plans.RollingHashExpr]] — 8 bytes instead of a
    * ~40-byte string) with `min(passage)` carried for reporting; the
    * string-keyed form is kept here because it is what the DuckDB oracle
    * can replicate verbatim, and the plan shape is identical. */
  def duplicatePassages(docs: DataFrame, w: Int = 5, minDocs: Long = 2L,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(w >= 2, "passage width must be at least 2 words")
    val ngrams = SqlLet.let(TextFunctions.words(col(textCol)), ws =>
      TextFunctions.slidingNgrams(ws, w))
    SqlLet.explodeOnce(docs.select(col(idCol), col(textCol)), ngrams, "passage")
      .groupBy("passage")
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_occ"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Passage SCRUBBING — the rewrite companion of [[duplicatePassages]]
    * detection (the C4/RefinedWeb-style sub-document dedup): every
    * occurrence of a `w`-word window shared by ≥ `minDocs` distinct
    * documents is removed from the corpus EXCEPT its canonical first
    * occurrence (smallest doc id, then smallest word position within it),
    * and each document's surviving words are reassembled in order.
    *
    * Output: (idCol, scrubbed, n_kept, n_removed) — one row per input
    * document (fully-scrubbed docs emit an empty string, untouched docs
    * their original word sequence re-joined on single spaces).
    *
    * Deterministic: the canonical occurrence is a total-order minimum —
    * no hashing, no ties. Overlapping duplicated windows union their
    * covered positions; a window overlapping the canonical occurrence may
    * still remove part of it (declared semantics, identical on any
    * engine).
    *
    * Scale shape: narrow word/gram explodes (corpus × words rows, the
    * [[duplicatePassages]] cost), one passage-keyed aggregate, one
    * passage-keyed join back, a (doc, pos) distinct and one anti-join —
    * all equi-keyed; a passage shared by B documents contributes B
    * occurrence rows (LINEAR in occurrences, no self-join, so no
    * quadratic hot-passage hazard and no cap needed). */
  def scrubPassages(docs: DataFrame, w: Int = 5, minDocs: Long = 2L,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(w >= 2, "passage width must be at least 2 words")
    require(minDocs >= 2, "minDocs below 2 would scrub every passage")
    val grams = docGrams(docs, w, textCol, idCol)
    // Duplicated passages with their canonical occurrence: min over the
    // (doc, gpos) total order, carried as one struct aggregate.
    val dup = grams.groupBy("passage")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(struct(col(idCol).as("cdoc"), col("gpos").as("cgpos"))).as("canon"))
      .filter(col("n_docs") >= minDocs)
      .select(col("passage"), col("canon"))
    // Every non-canonical occurrence covers positions [gpos, gpos+w-1].
    val coveredGrams = grams.join(dup, "passage")
      .filter(!(col(idCol) === col("canon.cdoc") && col("gpos") === col("canon.cgpos")))
    reassembleWithout(docs, coveredGrams, w, textCol, idCol)
  }

  /** The corpus side of [[scrubPassagesIncremental]]: the DISTINCT `w`-word
    * windows of the corpus — one narrow explode + one distinct, buildable
    * offline once per corpus snapshot and reused across every arriving
    * batch (exactly the fingerprint-index pattern of [[incremental]]). */
  def passageIndex(corpus: DataFrame, w: Int = 5, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    docGrams(corpus, w, textCol, idCol).select("passage").distinct()

  /** Incremental passage scrub — [[scrubPassages]]'s batch-vs-corpus face
    * (the third member of the incremental family, after exact
    * [[incremental]] and the blocked embedding variant): every occurrence
    * in the BATCH of a window already present in the corpus index is
    * removed — no canonical survivor, the corpus already holds the text —
    * and batch documents are reassembled. Batch-INTERNAL duplicates are
    * deliberately untouched (run [[scrubPassages]] over the batch for
    * those); the two compose.
    *
    * Cost scales with the batch (narrow explodes + one semi-join against
    * the index, then the [[reassembleWithout]] tail), never with the
    * corpus — the index is the only corpus-sized input and it is one
    * `distinct` passage column. */
  def scrubPassagesIncremental(batch: DataFrame, corpusIndex: DataFrame,
                               w: Int = 5, textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    require(w >= 2, "passage width must be at least 2 words")
    val coveredGrams = docGrams(batch, w, textCol, idCol)
      .join(corpusIndex.select("passage"), Seq("passage"), "left_semi")
    reassembleWithout(batch, coveredGrams, w, textCol, idCol)
  }

  /** (id, gpos, passage): every `w`-word sliding window of every document,
    * with its 0-based start position. */
  private def docGrams(docs: DataFrame, w: Int, textCol: String,
                       idCol: String): DataFrame =
    docs.select(col(idCol), TextFunctions.words(col(textCol)).as("ws"))
      .select(col(idCol),
        posexplode(TextFunctions.slidingNgrams(col("ws"), w)).as(Seq("gpos", "passage")))

  /** Shared scrub tail: expand covered gram occurrences (idCol, gpos) to
    * word positions, anti-join them out of the word stream, reassemble
    * each document's survivors in order. Left join from the full doc list
    * so fully-scrubbed (or empty) docs still emit a row. */
  private def reassembleWithout(docs: DataFrame, coveredGrams: DataFrame,
                                w: Int, textCol: String,
                                idCol: String): DataFrame = {
    val covered = coveredGrams
      .select(col(idCol), explode(sequence(col("gpos"), col("gpos") + (w - 1))).as("pos"))
      .distinct()
    val wordsDf = docs
      .select(col(idCol), TextFunctions.words(col(textCol)).as("ws"))
      .select(col(idCol), posexplode(col("ws")).as(Seq("pos", "word")))
    val kept = wordsDf.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s("word")), " ").as("scrubbed"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol), TextFunctions.tokenCount(col(textCol)).cast("long").as("n_words"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** 32-bit SimHash of the distinct word set + a 16-bit prefix bucket (the
    * blocking key for hamming-distance candidate search). The word-hash set
    * is let-bound, so the 32 per-bit votes fold over a computed VALUE
    * instead of re-hashing the document per bit. */
  def simhash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val sim = SqlLet.let(wordHashes(col(textCol)), hs => {
      val bits = (0 until 32).map { k =>
        val vote = aggregate(hs, lit(0L), (acc, x) =>
          acc + lit(2L) * pmod(shiftright(x, k), lit(2L)) - 1L)
        when(vote > 0, lit(1L << k)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    })
    SqlLet.explodeOnce(docs.select(col(idCol), col(textCol)),
        array(sim), "simhash")
      .select(col(idCol), col("simhash"),
        expr("shiftright(simhash, 16)").as("bucket"))
  }
}
