package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The serving store — the reference's `RecentSqlite3table`
  * (`audit_utils/audit_utils/models.py:507-735`) re-expressed as a rolling
  * DataFrame registered as a temp view:
  *
  *   - every appended batch is stamped with the current generation id
  *     `rst_id` (operator A5; `models.py:631-665` appends `RST_ID` to each
  *     insert), and the counter increments AFTER each bulk append
  *     (`models.py:584-629`: first batch gets rst_id=1, counter becomes 2)
  *   - the counter restores from `MAX(RST_ID) + 1` on reattach (operator A4;
  *     `models.py:526-536,667-700` — doctest: reopen at MAX=2 → next insert
  *     stamps 3)
  *   - retention (operator K4; `models.py:702-735`) deletes
  *     `rst_id < counter - cleanInterval`, auto-triggered when the counter
  *     hits a multiple of `cleanFreq` (`models.py:601-605`)
  *   - `reset()` mirrors reconnect-on-:memory: (Q4; `models.py:496-505`) —
  *     full state wipe
  *
  * Scale design: the store is a bounded view — at most `cleanInterval`
  * generations of pre-aggregated counts, whose cardinality is (distinct keys ×
  * buckets per batch), NOT raw input rows. State lives on executors via
  * `localCheckpoint` (lineage truncation every `materializeEvery` appends),
  * never `collect()`ed to the driver; in a production deployment the same
  * contract maps onto a Delta/parquet table with `DELETE WHERE rst_id < …`.
  */
final class RecentStore(
    val spark: SparkSession,
    /** Store schema WITHOUT rst_id — the `sqlite_schema` analog
      * (`README.md:98-108`); rst_id is appended automatically
      * ([[GenerationStore.withRstId]]). */
    val schema: StructType,
    val tableName: String = "default",
    val cleanInterval: Long = 100,
    val cleanFreq: Long = 10,
    /** Truncate union lineage with a localCheckpoint every N appends
      * (0 = never — keep the pure plan; right for short batch test runs). */
    val materializeEvery: Int = 0,
    /** Optional per-batch row cap mirroring DumpTable.soft_limit
      * (`models.py:794-806`): appends larger than this throw. Costs a count()
      * job per append — leave None on hot paths. */
    val softLimit: Option[Long] = None
) extends GenerationStore {

  val fullSchema: StructType = GenerationStore.withRstId(schema)

  // Mutators are synchronized (a streaming append racing an HTTP /r reset
  // would interleave the read-modify-write and resurrect wiped data);
  // volatile gives reader threads visibility without taking the lock.
  @volatile private var data: DataFrame = emptyData()
  @volatile private var counter: Long = 1L
  private var appends: Int = 0
  registerView()

  private def emptyData(): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], fullSchema)

  /** Current generation counter — the NEXT id to stamp (reference `rst_id`
    * attribute; `/rst` endpoint Q5 exposes it, `http_endpoint.py:100-104`). */
  def currentRstId: Long = counter

  /** `SELECT MAX(rst_id)` — operator A4 (`models.py:667-700`). None when
    * the store is empty, like the reference's NULL. */
  def maxRstId: Option[Long] =
    Option(data.agg(max(col("rst_id"))).head().getAs[java.lang.Long](0)).map(_.longValue)

  /** Generic MAX over any column (the reference allows `column='num'`). */
  def selectMax(column: String): DataFrame =
    data.agg(max(col(column)).as(s"max_$column"))

  /** Restore the generation counter from existing contents — reattach
    * semantics (`models.py:533-536`): counter = MAX(rst_id)+1, or 1 if empty. */
  def restoreFrom(existing: DataFrame): this.type = this.synchronized {
    data = GenerationStore.align(existing, fullSchema)
    registerView()
    counter = maxRstId.map(_ + 1L).getOrElse(1L)
    this
  }

  /** Bulk append — operator A3/K2/K3 (`sudobulk_insert`, `models.py:584-629`):
    * stamp rst_id = current counter, union, bump the counter, retention-check.
    * Batch-level atomicity subsumes the reference's per-row tolerance loop
    * (a Spark action either commits the whole batch plan or fails it).
    */
  def append(batch: DataFrame): this.type = this.synchronized {
    checkSoftLimit(batch)
    val stamped = GenerationStore.align(batch, schema)
      .withColumn("rst_id", lit(counter))
    commitGeneration(data.unionByName(stamped))
    this
  }

  private def checkSoftLimit(batch: DataFrame): Unit =
    softLimit.foreach { lim =>
      val n = batch.count()
      if (n > lim) throw new IllegalStateException(
        s"batch of $n rows exceeds soft limit $lim (DumpTable soft_limit semantics)")
    }

  /** The post-mutation tail shared by [[append]] and [[merge]]: commit
    * `grown` as the next generation — run the retention trigger,
    * truncate lineage on cadence, re-register the view ONCE, and only
    * then bump the counter, so a reader that sees the new counter (`/rst`)
    * finds the generation in the view. One copy, so the two mutators
    * cannot drift. */
  private def commitGeneration(grown: DataFrame): Unit = {
    val next = counter + 1
    appends += 1
    val kept = if (next % cleanFreq == 0) retained(grown, next, -1L) else grown
    data =
      if (materializeEvery > 0 && appends % materializeEvery == 0) kept.localCheckpoint(eager = true)
      else kept
    registerView()
    counter = next
  }

  /** MERGE upsert — the keyed companion of [[append]]: rows of `batch`
    * REPLACE existing rows sharing their `keys` values (whatever generation
    * those lived in), and rows with novel keys insert; every batch row is
    * stamped with the current generation, untouched rows keep theirs. This
    * is the `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`
    * shape a warehouse store (Delta/Iceberg) runs for the same contract —
    * and the plan is the same one those engines use: ONE left-anti join of
    * the store against the batch's distinct key set (keyed shuffle, or a
    * broadcast when the batch is small) + a union. No full outer join, no
    * per-row lookups.
    *
    * Matched-row counting (for callers that audit upsert vs insert) is one
    * `semi` join away and deliberately not computed here — it would cost an
    * extra action per merge on the hot path. */
  def merge(batch: DataFrame, keys: Seq[String]): this.type = this.synchronized {
    GenerationStore.requireKeyColumns("merge", schema, keys)
    checkSoftLimit(batch)
    val aligned = GenerationStore.align(batch, schema)
    commitGeneration(data
      .join(aligned.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(aligned.withColumn("rst_id", lit(counter))))
    this
  }

  /** Retention — operator K4 (`clean`, `models.py:702-735`): drop generations
    * older than `counter - interval`. `clean(0)` empties the store (doctest
    * `models.py:718-727`). */
  def clean(interval: Long = -1L): this.type = this.synchronized {
    data = retained(data, counter, interval)
    registerView()
    this
  }

  /** `rows` without the generations retention expires at counter `at`. */
  private def retained(rows: DataFrame, at: Long, interval: Long): DataFrame =
    rows.filter(col("rst_id") >=
      lit(GenerationStore.retentionFloor(at, interval, cleanInterval)))

  /** Q1 select-all scan (`models.py:309-333`). */
  def selectAll: DataFrame = data

  /** Q2 arbitrary-SQL passthrough (`models.py:155-187`,
    * `http_endpoint.py:88-92`): full Spark-SQL over the registered view —
    * parse → Catalyst analyze/optimize → physical plan, replacing SQLite. */
  def sql(query: String): DataFrame = spark.sql(query)

  // Q3 sqlAvro (`SLCustomSelect.get` + `dict_to_avro`,
  // `http_endpoint.py:78-86`): inherited from [[GenerationStore]].

  /** Q11 recent-N fetch (`get_recent`, `models.py:774-784`): the last n
    * appended generations. */
  def recent(n: Long): DataFrame =
    data.filter(col("rst_id") >= lit(counter - n))

  /** Q12 direct index fetch (`models.py:763-772`): one generation by id. */
  def directFetch(rstId: Long): DataFrame =
    data.filter(col("rst_id") === lit(rstId))

  /** Ring `get_onwards` (`models.py:768-772`): every generation from
    * `rstId` on — the "from slot i onwards" companion of [[directFetch]]. */
  def getOnwards(rstId: Long): DataFrame =
    data.filter(col("rst_id") >= lit(rstId))

  /** Q4 reconnect/reset (`models.py:496-505`): in-memory db reopen = wipe. */
  def reset(): this.type = this.synchronized {
    data = emptyData()
    appends = 0
    registerView()
    counter = 1L
    this
  }

  /** Q13 describe: `(col TYPE, …, RST_ID INT)` analog via Spark DDL. */
  def describe: String = fullSchema.toDDL

  /** Q13 existence check analog (`check_table`, `models.py:226-250`). */
  def exists: Boolean = spark.catalog.tableExists(tableName)

  private def registerView(): Unit =
    data.createOrReplaceTempView(tableName)
}
