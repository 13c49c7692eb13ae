package graft.store

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The durable store must be semantically interchangeable with the
  * in-memory [[RecentStore]] (same generation/retention/restore contract),
  * restore its counter from the directory listing, and partition-prune
  * generation-targeted reads. */
class ParquetStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType)))

  private def tmp(): String =
    Files.createTempDirectory("graft_pstore").toString

  private def batch(rows: (String, Long)*) = {
    val sparkSession = spark
    import sparkSession.implicits._
    rows.toDF("k", "n")
  }

  test("same scenario, same contents as RecentStore (interchangeable deployments)") {
    val mem = new RecentStore(spark, schema, tableName = "mem_twin", cleanFreq = 1000L)
    val dur = new ParquetStore(spark, schema, tmp(), tableName = "dur_twin",
      cleanFreq = 1000L)
    Seq(batch("a" -> 1L, "b" -> 2L), batch("a" -> 3L), batch("c" -> 4L))
      .foreach { b => mem.append(b); dur.append(b) }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(dur.selectAll) === rows(mem.selectAll))
    assert(dur.currentRstId === mem.currentRstId)
    assert(rows(dur.recent(2)) === rows(mem.recent(2)))
    assert(rows(dur.directFetch(2L)) === rows(mem.directFetch(2L)))
    assert(rows(dur.getOnwards(2L)) === rows(mem.getOnwards(2L)))
  }

  test("merge: copy-on-write parity with RecentStore.merge, untouched dirs not rewritten") {
    val mem = new RecentStore(spark, schema, tableName = "mem_mg", cleanFreq = 1000L)
    val dur = new ParquetStore(spark, schema, tmp(), tableName = "dur_mg",
      cleanFreq = 1000L)
    Seq(batch("a" -> 1L), batch("b" -> 2L)).foreach { b =>
      mem.append(b); dur.append(b)
    }
    val gen2 = Files.getLastModifiedTime(
      java.nio.file.Paths.get(dur.path, "rst_id=2"))
    val upd = batch("a" -> 10L, "c" -> 3L)
    mem.merge(upd, Seq("k")); dur.merge(upd, Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(dur.selectAll) === rows(mem.selectAll))
    assert(rows(dur.selectAll) === Set(("a", 10L, 3L), ("b", 2L, 2L), ("c", 3L, 3L)))
    assert(dur.currentRstId === 4L)
    // Generation 2 held only unmatched keys — copy-on-write must skip it.
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(dur.path, "rst_id=2")) === gen2,
      "untouched generation directory was rewritten")
  }

  test("counter restores from the directory listing (A4 from durable storage)") {
    val path = tmp()
    val s1 = new ParquetStore(spark, schema, path, tableName = "restore_a")
    s1.append(batch("a" -> 1L)).append(batch("b" -> 2L))
    assert(s1.currentRstId === 3L)
    // "Restart": a NEW store over the same path — no live state carried.
    val s2 = new ParquetStore(spark, schema, path, tableName = "restore_b")
    assert(s2.maxRstId === Some(2L))
    assert(s2.currentRstId === 3L)
    s2.append(batch("c" -> 3L))
    assert(s2.selectAll.select("rst_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
  }

  test("retention deletes whole generation directories; auto-clean fires") {
    val path = tmp()
    // cleanFreq=3, cleanInterval=1: counter reaching 3 keeps rst_id >= 2.
    val s = new ParquetStore(spark, schema, path, tableName = "ret_dur",
      cleanInterval = 1L, cleanFreq = 3L)
    s.append(batch("a" -> 1L)).append(batch("b" -> 2L))
    assert(s.selectAll.select("rst_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L))
    // The pruned generation is GONE from disk, not just filtered.
    assert(!Files.exists(java.nio.file.Paths.get(s"$path/rst_id=1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$path/rst_id=2")))
  }

  test("generation-targeted reads partition-prune to their directories") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "prune_dur",
      cleanFreq = 1000L)
    (1 to 4).foreach(i => s.append(batch(s"k$i" -> i.toLong)))
    val plan = s.directFetch(3L).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("rst_id"),
      s"expected a partition filter on rst_id in:\n$plan")
    assert(s.directFetch(3L).collect().map(_.getString(0)).toSeq === Seq("k3"))
  }

  test("a failed append leaves no partial generation and does not wedge retries") {
    val sparkSession = spark
    import sparkSession.implicits._
    val path = tmp()
    val s = new ParquetStore(spark, schema, path, tableName = "fail_dur")
    s.append(batch("a" -> 1L))
    // A batch whose evaluation throws mid-write (raise_error under the cast).
    val poison = Seq("x").toDF("k")
      .withColumn("n", expr("raise_error('boom')").cast("long"))
    intercept[Exception] { s.append(poison) }
    // No partial rst_id=2 directory, no leftover staging dir, counter unmoved.
    val listed = {
      val st = Files.list(java.nio.file.Paths.get(path))
      try st.toArray.map(_.toString).toSeq finally st.close()
    }
    assert(listed.forall(p => !p.contains("staging")), listed.toString)
    assert(!Files.exists(java.nio.file.Paths.get(s"$path/rst_id=2")))
    assert(s.currentRstId === 2L)
    // The SAME generation id succeeds on retry — the store is not wedged.
    s.append(batch("b" -> 2L))
    assert(s.selectAll.select("rst_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("an appended EMPTY batch round-trips (provided schema, no inference)") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "emptygen_dur")
    s.append(batch().limit(0)) // generation 1: zero rows, data-less directory
    assert(s.currentRstId === 2L)
    assert(s.selectAll.count() === 0L)
    // Names+types match (file reads relax nullability, which is fine).
    assert(s.selectAll.schema.map(f => (f.name, f.dataType))
      === s.fullSchema.map(f => (f.name, f.dataType)))
    s.append(batch("a" -> 1L))
    assert(s.selectAll.collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      === Seq(("a", 2L)))
  }

  test("empty store: selectAll is empty with the full schema, sql works") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "empty_dur")
    assert(s.selectAll.count() === 0L)
    assert(s.selectAll.schema === s.fullSchema)
    assert(s.sql("SELECT count(*) FROM empty_dur").head().getLong(0) === 0L)
  }

  test("compact rewrites a generation's small files without changing a row") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "compact_dur")
    // A many-file generation (the streaming-append shape) + a neighbor
    // generation that must stay untouched.
    s.append(batch((1 to 40).map(i => s"k$i" -> i.toLong): _*).repartition(8))
    s.append(batch("z" -> 99L))
    assert(s.generationFileCount(1L) === 8L)
    val before = s.selectAll.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val counterBefore = s.currentRstId
    s.compact(1L)
    assert(s.generationFileCount(1L) === 1L)
    val after = s.selectAll.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after === before, "compaction changed row content")
    assert(s.currentRstId === counterBefore)
    assert(s.maxRstId === Some(2L))
    // Neighbor generation untouched; absent generation is a no-op.
    assert(s.directFetch(2L).count() === 1L)
    s.compact(77L)
    // The registered view still serves post-compaction.
    assert(s.sql("SELECT count(*) FROM compact_dur").head().getLong(0) === 41L)
    // Targeted numFiles > 1 also honored.
    s.compact(1L, numFiles = 2)
    assert(s.generationFileCount(1L) === 2L)
  }

  test("collapseToLatest: latest-per-key base at the highest collapsed slot, reads equivalent") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "collapse_dur")
    s.append(batch("a" -> 1L, "b" -> 10L)) // gen 1
    s.append(batch("a" -> 2L))             // gen 2
    s.append(batch("c" -> 30L))            // gen 3
    s.append(batch("b" -> 11L))            // gen 4 (kept delta)
    def latest(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("rst_id").desc)))
      .filter(col("_rk") === 1).select("k", "n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val before = latest(s.selectAll)
    val counterBefore = s.currentRstId
    s.collapseToLatest(Seq("k"))
    // Gens 1–3 folded into a base AT SLOT 3 (below the kept delta);
    // latest-per-key reads are unchanged, the counter does not move.
    assert(s.generations === Seq(3L, 4L))
    assert(latest(s.selectAll) === before)
    assert(before === Set("a" -> 2L, "b" -> 11L, "c" -> 30L))
    // The base carries exactly the collapsed range's latest rows
    // (b -> 10, NOT the kept delta's 11) — the kept delta still
    // OVERRIDES it in latest-per-key reads above.
    assert(s.directFetch(3L).select("k", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set("a" -> 2L, "b" -> 10L, "c" -> 30L))
    // Appends continue at the original counter; a second collapse folds
    // the new history again. Below two collapsible generations: no-op.
    s.collapseToLatest(Seq("k"))
    assert(s.generations === Seq(3L, 4L))
    s.append(batch("a" -> 3L))
    assert(s.currentRstId === counterBefore + 1L)
    s.collapseToLatest(Seq("k"))
    assert(s.generations === Seq(4L, 5L))
    assert(latest(s.selectAll) === Set("a" -> 3L, "b" -> 11L, "c" -> 30L))
    // keepRecent = 0 folds EVERYTHING into one base.
    s.collapseToLatest(Seq("k"), keepRecent = 0)
    assert(s.generations === Seq(5L))
    assert(latest(s.selectAll) === Set("a" -> 3L, "b" -> 11L, "c" -> 30L))
    assert(s.selectAll.count() === 3L)
  }

  test("latestPerKeySemi equals latestPerKey (or asOfLatestPerKey) semi-joined to the probe") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "semi_dur")
    s.append(batch("a" -> 1L, "b" -> 10L)) // gen 1
    s.append(batch("a" -> 2L, "c" -> 30L)) // gen 2
    s.append(batch("b" -> 11L, "a" -> 2L)) // gen 3: (a, 2) again
    val probe = batch("a" -> 0L, "z" -> 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n", "rst_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def semi(df: org.apache.spark.sql.DataFrame) =
      rows(df.join(probe.select("k").distinct(), Seq("k"), "left_semi"))
    // One key, and a two-column window probed on its prefix.
    for (keys <- Seq(Seq("k"), Seq("k", "n"))) {
      assert(rows(s.latestPerKeySemi(keys, probe, Seq("k"))) ===
        semi(s.latestPerKey(keys)), keys)
      assert(rows(s.latestPerKeySemi(keys, probe, Seq("k"), rst = 2L)) ===
        semi(s.asOfLatestPerKey(keys, 2L)), keys)
    }
    assert(rows(s.latestPerKeySemi(Seq("k"), probe, Seq("k"))) ===
      Set(("a", 2L, 3L)))
    assert(rows(s.latestPerKeySemi(Seq("k", "n"), probe, Seq("k"))) ===
      Set(("a", 1L, 1L), ("a", 2L, 3L)))
    assert(rows(s.latestPerKeySemi(Seq("k"), probe, Seq("k"), rst = 1L)) ===
      Set(("a", 1L, 1L)))
    intercept[IllegalArgumentException](
      s.latestPerKeySemi(Seq("k", "n"), probe, Seq("n")))
  }

  test("applied floor: collapse never folds past a live stamp; release/advance frees the history") {
    val s = new ParquetStore(spark, schema, tmp(), tableName = "floor_dur")
    s.append(batch("a" -> 1L)) // gen 1
    s.append(batch("a" -> 2L)) // gen 2
    s.append(batch("a" -> 3L)) // gen 3
    s.append(batch("a" -> 4L)) // gen 4 (kept delta)
    s.recordAppliedFloor("lineage-x", 2L)
    assert(s.appliedFloor === Some(2L))
    s.collapseToLatest(Seq("k"))
    // Only gens ≤ 2 fold; 2's as-of view survives (gen ≤ 2 present).
    assert(s.generations === Seq(2L, 3L, 4L))
    assert(s.asOfLatestPerKey(Seq("k"), 2L).select("n").head().getLong(0)
      === 2L)
    // Two lineages: the MINIMUM stamp bounds the fold.
    s.recordAppliedFloor("lineage-y", 3L)
    assert(s.appliedFloor === Some(2L))
    // Advance x past y, then release y: the bound follows the min.
    s.recordAppliedFloor("lineage-x", 4L)
    assert(s.appliedFloor === Some(3L))
    s.releaseAppliedFloor("lineage-y")
    assert(s.appliedFloor === Some(4L))
    s.collapseToLatest(Seq("k"))
    assert(s.generations === Seq(3L, 4L))
    // reset wipes floors with the data.
    s.reset()
    assert(s.appliedFloor === None)
  }

  test("auto-collapse via appendStreaming bounds generations; count-based clean disabled") {
    val s = new ParquetStore(spark, schema, tmp(),
      tableName = "autocollapse_dur", cleanInterval = 3L, cleanFreq = 1L,
      collapseKeys = Seq("k"), collapseEvery = 3L)
    (1 to 10).foreach(i => s.appendStreaming(batch("a" -> i.toLong, s"k$i" -> 0L)))
    // Bounded on-disk history …
    assert(s.generations.length <= 4,
      s"auto-collapse left ${s.generations.length} generations")
    // … with NO state loss: count-based retention (cleanInterval = 3
    // would have expired every early generation) is disabled under a
    // collapse policy — all 10 distinct keys survive, 'a' at its
    // latest value.
    val rows = s.selectAll.select("k", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.size === 11)
    assert(rows("a") === 10L)
    assert((1 to 10).forall(i => rows.contains(s"k$i")))
  }
}
