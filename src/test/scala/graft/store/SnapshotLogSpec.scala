package graft.store

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{NioFs, SparkSpec}

/** [[ParquetStore]]'s snapshot log is its state: reads build the
  * relation from the latest snapshot without listing a directory or
  * running a Spark job, the counter and every generation id (empty ones
  * too) come back from it at reopen, and a directory the rename-based
  * layout wrote is imported once. */
class SnapshotLogSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType)))

  private def tmp(): String =
    Files.createTempDirectory("graft_slog").toString

  private def batch(rows: (String, Long)*) = {
    val sparkSession = spark
    import sparkSession.implicits._
    rows.toDF("k", "n")
  }

  private def rows(s: ParquetStore) =
    s.selectAll.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("relation build after a commit runs no Spark job at 40 generations") {
    val path = tmp()
    val writer = new ParquetStore(spark, schema, path, tableName = "slog_w",
      cleanFreq = 1000L)
    (1 to 40).foreach(i => writer.append(batch(s"k$i" -> i.toLong)))
    val reader = new ParquetStore(spark, schema, path, tableName = "slog_r",
      cleanFreq = 1000L)
    assert(reader.selectAll.count() === 40L)
    // A commit through the other handle: the reader's next read builds
    // a relation over 41 generation directories — more than the 32 at
    // which a directory listing turns into a listing job.
    writer.append(batch("k41" -> 41L))
    assert(jobsDuring { reader.selectAll.schema; () } === 0)
    assert(reader.selectAll.count() === 41L)
    val plan = reader.directFetch(7L).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("rst_id"), plan)
    assert(reader.directFetch(7L).collect().map(_.getString(0)).toSeq === Seq("k7"))
  }

  test("reads list neither the store root nor a generation directory") {
    val path = tmp()
    val fs = new CrashFs
    val s = new ParquetStore(spark, schema, path, tableName = "slog_list",
      cleanFreq = 1000L, fs = fs)
    (1 to 3).foreach(i => s.append(batch(s"k$i" -> i.toLong)))
    fs.listed.clear()
    s.selectAll.collect()
    s.recent(2).collect()
    s.directFetch(1L).collect()
    s.getOnwards(2L).collect()
    s.currentRstId
    val listed = fs.listed.toArray.map(_.toString).toSeq
    val root = NioFs.resolve(path, "")
    assert(!listed.exists(d => d == path || d == root || d.contains("rst_id=")),
      s"reads listed: $listed")
  }

  test("a directory of the rename-based layout is imported; staging refused") {
    val path = tmp()
    // The parent layout: rst_id=<g>/ directories as Spark wrote them
    // (part files, checksums, a success marker), no log. Generation 2
    // holds an empty batch.
    batch("a" -> 1L, "b" -> 2L).write.parquet(s"$path/rst_id=1")
    batch().limit(0).write.parquet(s"$path/rst_id=2")
    batch("c" -> 3L).write.parquet(s"$path/rst_id=3")
    val s = new ParquetStore(spark, schema, path, tableName = "slog_import")
    assert(s.generations === Seq(1L, 2L, 3L))
    assert(s.currentRstId === 4L)
    assert(rows(s) === Set(("a", 1L, 1L), ("b", 2L, 1L), ("c", 3L, 3L)))
    s.append(batch("d" -> 4L))
    // Imported once: a reopen reads the log, not the listing.
    val again = new ParquetStore(spark, schema, path, tableName = "slog_import2")
    assert(again.currentRstId === 5L)
    assert(rows(again) === rows(s))

    // A crashed write of the old protocol: refused, named.
    val crashed = tmp()
    batch("a" -> 1L).write.parquet(s"$crashed/rst_id=1")
    batch("a" -> 1L).write.parquet(s"$crashed/.staging_rw_multi/rst_id=1")
    val e = intercept[IllegalStateException] {
      new ParquetStore(spark, schema, crashed, tableName = "slog_refuse")
    }
    assert(e.getMessage.contains(".staging_rw_multi"), e.getMessage)
  }

  test("an empty append and an erased-empty generation survive reopen") {
    val path = tmp()
    val s = new ParquetStore(spark, schema, path, tableName = "slog_empty")
    s.append(batch().limit(0))        // gen 1: empty batch
    s.append(batch("a" -> 1L))        // gen 2: erased below
    s.append(batch("b" -> 2L))        // gen 3
    assert(s.eraseKeys(batch("a" -> 0L).select("k"), Seq("k")) === 1L)
    val re = new ParquetStore(spark, schema, path, tableName = "slog_empty_re")
    assert(re.generations === Seq(1L, 2L, 3L))
    assert(re.currentRstId === 4L)
    assert(re.hasGeneration(1L) && re.hasGeneration(2L))
    assert(rows(re) === Set(("b", 2L, 3L)))
    assert(re.directFetch(2L).filter(col("k") === "a").isEmpty)
  }
}
