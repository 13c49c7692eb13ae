package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The generation-store contract both deployments implement — in-memory
  * [[RecentStore]] and durable [[ParquetStore]] — and everything the query
  * surface ([[graft.serve.StoreHttpServer]], comparators, Q1–Q13) needs.
  * The reference's endpoint wraps its durable SQLite table; the veneer here
  * serves either deployment through this trait. */
trait GenerationStore {
  def spark: org.apache.spark.sql.SparkSession
  def tableName: String

  /** Q1 select-all. */
  def selectAll: DataFrame
  /** Q2 arbitrary SQL over the registered view. */
  def sql(query: String): DataFrame
  /** Q5 current generation counter (the NEXT id to stamp). */
  def currentRstId: Long
  /** A4 MAX(rst_id), None when empty. */
  def maxRstId: Option[Long]
  /** Q11 recent-N generations. */
  def recent(n: Long): DataFrame
  /** Q12 one generation. */
  def directFetch(rstId: Long): DataFrame
  /** Ring get_onwards. */
  def getOnwards(rstId: Long): DataFrame
  /** Q4 reconnect/reset: full state wipe. */
  def reset(): this.type
  /** K2/K3 bulk append. */
  def append(batch: DataFrame): this.type
  /** K4 retention. */
  def clean(interval: Long = -1L): this.type

  /** Append from a STREAMING micro-batch: the batch plan reads ephemeral
    * source offsets, so it must be materialized before the trigger
    * completes. In-memory deployment: localCheckpoint (the union keeps
    * referencing it). Durable deployment overrides — its parquet write IS
    * the materialization, so checkpointing first would do the work twice. */
  def appendStreaming(batch: DataFrame): this.type =
    append(batch.localCheckpoint(eager = true))

  /** Q3 SQL→Avro select (shared — both deployments encode identically). */
  def sqlAvro(query: String, avroSchemaJson: String): DataFrame =
    graft.sources.AvroCodec.encodeRows(sql(query), avroSchemaJson)
}

/** The column rules both deployments share, so the two cannot drift. */
object GenerationStore {

  /** The stored row shape: `schema` plus `rst_id`, like the reference's
    * `ALTER TABLE … ADD COLUMN RST_ID INT` (`models.py:579-582`). */
  def withRstId(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("rst_id", LongType, nullable = false))

  /** Fit a batch to `target`: select by name in schema order, cast to the
    * declared types — the typed analog of SQLite's insert-anything-and-
    * coerce (`models.py:360-363`). A missing column fails before any write. */
  def align(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.fields.map { f =>
      require(df.columns.contains(f.name),
        s"batch is missing store column '${f.name}' (batch: ${df.columns.mkString(",")})")
      col(f.name).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** The key guard of every keyed mutator (`op` names it in the message). */
  def requireKeyColumns(op: String, schema: StructType, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, s"$op needs at least one key column")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"$op key '$k' is not a store column (${schema.fieldNames.mkString(",")})"))
  }

  /** K4 retention floor (`models.py:702-735`): generations below it expire;
    * `interval = -1` means the store's `cleanInterval`. */
  def retentionFloor(counter: Long, interval: Long, cleanInterval: Long): Long =
    counter - (if (interval == -1L) cleanInterval else interval)
}
