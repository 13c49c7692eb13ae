package graft.store

import org.apache.spark.sql.types._
import graft.SparkSpec

/** RecentSqlite3table semantics direct on the store API (doctests
  * `models.py:552-577,599-609,679-694,718-727` — the streaming suite covers
  * the same contracts through foreachBatch). */
class StoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("num", LongType), StructField("name", StringType)))

  private def row(num: Long, name: String) = {
    val sparkSession = spark
    import sparkSession.implicits._
    Seq((num, name)).toDF("num", "name")
  }

  test("rst_id stamping + counter-after-insert (doctest models.py:552-577)") {
    val s = new RecentStore(spark, schema, "t_stamp", cleanFreq = 1000L)
    assert(s.maxRstId === None)       // MAX(RST_ID) of empty = NULL
    s.append(row(1, "hi"))
    assert(s.maxRstId === Some(1L))
    s.append(row(2, "hi").unionAll(row(2, "hi")))
    assert(s.maxRstId === Some(2L))   // one generation per bulk insert
    assert(s.currentRstId === 3L)
    // Generic select_max(column='num').
    assert(s.selectMax("num").head().getLong(0) === 2L)
  }

  test("restore from MAX then continue (doctest models.py:567-575)") {
    val s = new RecentStore(spark, schema, "t_restore", cleanFreq = 1000L)
    s.append(row(1, "a")).append(row(2, "b"))
    val reopened = new RecentStore(spark, schema, "t_restore2", cleanFreq = 1000L)
      .restoreFrom(s.selectAll)
    assert(reopened.currentRstId === 3L)
    reopened.append(row(3, "c"))
    assert(reopened.maxRstId === Some(3L))
    assert(reopened.currentRstId === 4L)
  }

  test("clean(0) empties; retention window keeps newest (models.py:718-727)") {
    val s = new RecentStore(spark, schema, "t_clean", cleanFreq = 1000L)
    s.append(row(1, "a"))
    s.clean(0L)
    assert(s.selectAll.count() === 0L)
    assert(s.maxRstId === None)
  }

  test("reset wipes state and counter (Q4 reconnect, models.py:496-505)") {
    val s = new RecentStore(spark, schema, "t_reset", cleanFreq = 1000L)
    s.append(row(1, "a")).append(row(2, "b"))
    s.reset()
    assert(s.selectAll.count() === 0L)
    assert(s.currentRstId === 1L)
    s.append(row(9, "z"))
    assert(s.maxRstId === Some(1L))
  }

  test("catalog ops: view registration, describe, exists (Q13)") {
    val s = new RecentStore(spark, schema, "t_catalog", cleanFreq = 1000L)
    assert(s.exists)
    assert(s.describe.toLowerCase.contains("rst_id"))
    s.append(row(5, "v"))
    // Q2 passthrough sees the view immediately.
    assert(s.sql("SELECT name FROM t_catalog WHERE num = 5").head().getString(0) === "v")
  }

  test("soft limit rejects oversized batches (DumpTable, models.py:798-806)") {
    val s = new RecentStore(spark, schema, "t_soft", cleanFreq = 1000L,
      softLimit = Some(1L))
    intercept[IllegalStateException] {
      s.append(row(1, "a").unionAll(row(2, "b")))
    }
  }

  test("align coerces types like SQLite's stringly inserts (models.py:360-363)") {
    val sparkSession = spark
    import sparkSession.implicits._
    val s = new RecentStore(spark, schema, "t_coerce", cleanFreq = 1000L)
    s.append(Seq(("7", "x")).toDF("num", "name")) // string "7" → LongType
    assert(s.selectAll.select("num").head().getLong(0) === 7L)
  }

  test("Q3: sqlAvro encodes result rows to decodable avro datums") {
    val s = new RecentStore(spark, schema, "t_avro", cleanFreq = 1000L)
    s.append(row(41, "alpha")).append(row(42, "beta"))
    val avsc =
      """{"type": "record", "name": "R", "fields": [
        |  {"name": "name", "type": ["string", "null"]},
        |  {"name": "num", "type": ["long", "null"]}]}""".stripMargin
    val encoded = s.sqlAvro("SELECT name, num FROM t_avro WHERE num = 42", avsc)
    val bytes = encoded.head().getAs[Array[Byte]](0)
    assert(graft.sources.AvroCodec.decoderFor(avsc)(bytes) ===
      """{"name":"beta","num":42}""")
  }

  test("ring semantics (K7): at most cleanInterval generations survive") {
    // RecentArrayDumpTable keeps a capacity-bounded ring of batch tables
    // (models.py:971-1031); here the bound is generation-based retention.
    val s = new RecentStore(spark, schema, "t_ring",
      cleanInterval = 2L, cleanFreq = 1L) // clean after every append
    (1L to 5L).foreach(i => s.append(row(i, s"g$i")))
    val gens = s.selectAll.select("rst_id").collect().map(_.getLong(0)).toSet
    assert(gens.size <= 2 && gens.max === 5L)
  }

  test("materializeEvery truncates lineage without changing contents") {
    val s = new RecentStore(spark, schema, "t_mat", cleanFreq = 1000L,
      materializeEvery = 1)
    s.append(row(1, "a")).append(row(2, "b")).append(row(3, "c"))
    val got = s.selectAll.select("num", "rst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 2L), (3L, 3L)))
    // Lineage is a checkpoint scan, not a 3-deep union of source plans.
    assert(s.selectAll.queryExecution.optimizedPlan.collectLeaves().size === 1)
  }

  test("a generation is in the view before the counter announces it") {
    // The counter is what /rst serves: a reader that sees it must find
    // the newest generation through the view, also while each append
    // runs a localCheckpoint job and on the clean cadence.
    val s = new RecentStore(spark, schema, "t_publish", cleanFreq = 5L,
      materializeEvery = 1)
    @volatile var done = false
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val unseen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => while (!done) {
      val g = s.currentRstId - 1L
      if (g >= 1L) {
        if (spark.sql(s"SELECT COUNT(*) FROM t_publish WHERE rst_id = $g")
          .head().getLong(0) == 0L) unseen.add(g)
        reads.incrementAndGet()
      }
    })
    reader.start()
    try (1L to 20L).foreach(i => s.append(row(i, s"g$i")))
    finally { done = true; reader.join() }
    assert(reads.get > 0)
    assert(unseen.isEmpty, s"announced before visible: $unseen")
    assert(s.selectAll.count() === 20L)
  }

  test("missing store column fails fast") {
    val sparkSession = spark
    import sparkSession.implicits._
    val s = new RecentStore(spark, schema, "t_missing", cleanFreq = 1000L)
    intercept[IllegalArgumentException] {
      s.append(Seq(1L).toDF("num")) // no 'name'
    }
  }

  test("merge replaces matched keys across generations, inserts novel ones") {
    val s = new RecentStore(spark, schema, "t_merge", cleanFreq = 1000L)
    s.append(row(1, "a")).append(row(2, "b"))        // gens 1, 2
    s.merge(row(1, "a2").unionAll(row(3, "c")), Seq("num")) // gen 3
    assert(s.currentRstId === 4L)
    val got = s.selectAll.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, "a2", 3L), // replaced: new payload, merge generation
      (2L, "b", 2L),  // untouched: original generation kept
      (3L, "c", 3L))) // inserted
    // A second merge touching nothing = plain stamped insert.
    s.merge(row(4, "d"), Seq("num"))
    assert(s.selectAll.count() === 4L && s.currentRstId === 5L)
  }

  test("merge rejects keys outside the store schema") {
    val s = new RecentStore(spark, schema, "t_merge_bad", cleanFreq = 1000L)
    intercept[IllegalArgumentException] { s.merge(row(1, "a"), Seq("rst_id")) }
    intercept[IllegalArgumentException] { s.merge(row(1, "a"), Nil) }
  }

  test("merge enforces the same soft limit as append") {
    val s = new RecentStore(spark, schema, "t_merge_soft", cleanFreq = 1000L,
      softLimit = Some(1L))
    intercept[IllegalStateException] {
      s.merge(row(1, "a").unionAll(row(2, "b")), Seq("num"))
    }
  }
}
