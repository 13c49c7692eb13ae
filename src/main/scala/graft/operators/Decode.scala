package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.config.{GraftConfig, MsgSettings}

/** Message decode + projection + bucketing — the reference's per-record parse
  * path (`json_dict_bucket_parse`, `audit_utils/audit_utils/utils.py:62-97`)
  * restated as one declarative plan fragment:
  *
  *   raw value --from_json--> struct --select(renames)--> key columns
  *                                 \--bucket field--> bucket_start/bucket_end
  *
  * Strictness: the reference hard-errors (KeyError → record lost) when a
  * projected field is missing (`utils.py:58`), while `from_json` yields null.
  * `strict = true` reproduces the record-dropped outcome by filtering rows
  * where any projected source field parsed to null (documented divergence:
  * a field explicitly set to JSON null is also dropped; SURVEY.md §4 pitfall 3).
  */
object Decode {

  private val ObserveSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The strict-decode drop counters of an EXECUTED frame: (rows_in,
    * rows_dropped) summed over every `graft_decode_*` observation in the
    * plan (one per strict [[decode]] call composed into it). Empty map
    * access never throws — returns (0, 0) when no strict decode ran. */
  def decodeMetrics(df: DataFrame): (Long, Long) =
    df.queryExecution.observedMetrics.toSeq.collect {
      // .toSeq first: collecting a Map into (Long, Long) pairs would build
      // a Map again and silently DEDUPE equal per-observation counts.
      case (name, row) if name.startsWith("graft_decode_") =>
        (row.getAs[Long]("rows_in"), row.getAs[Long]("rows_dropped"))
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }

  /** Parse a JSON string column into the projected source fields (all strings —
    * the reference treats values opaquely, SURVEY.md §1.2) as one struct
    * column `_parsed`. A plain projection parses once per row: `CollapseProject`
    * does not inline the non-cheap `from_json` into several field references
    * (`PlanDump`: one `from_json` each in `q_decode_bucket`, `q_rename_project`). */
  def parseJson(df: DataFrame, valueCol: String, schema: StructType): DataFrame =
    df.select(col("*"), from_json(col(valueCol), schema).as("_parsed"))

  /** Full decode pipeline for a frame of raw JSON strings in `valueCol`:
    * returns exactly (projected columns ..., bucket_start, bucket_end). */
  def decode(df: DataFrame, valueCol: String, msg: MsgSettings,
             strict: Boolean = true): DataFrame = {
    val schema = GraftConfig.msgMapToJsonSchema(msg.msgMapSchema, msg.bucketField)
    val parsed = parseJson(df, valueCol, schema)
    val strictFiltered =
      if (strict) {
        val required = (msg.msgMapSchema.map(_._2) :+ msg.bucketField).distinct
        val allPresent = required
          .map(f => col("_parsed").getField(f).isNotNull)
          .reduce(_ && _)
        // SURVEY §4 pitfall 3: the reference ERRORS on a missing field, we
        // drop the record — but the drop must be countable, not silent. The
        // observation rides the same pass (no extra job); read it after an
        // action via [[decodeMetrics]]. The name is unique PER CALL —
        // observed-metric names must be unique within one query plan, so a
        // fixed name would make any composition of two strict decodes
        // (union, join) fail analysis. count(when(...)) not sum(when(...)):
        // sum is NULL over an empty (micro-)batch, count is 0.
        val name = s"graft_decode_${ObserveSeq.incrementAndGet()}"
        parsed
          .observe(name,
            count(lit(1)).as("rows_in"),
            count(when(!allPresent, lit(1))).as("rows_dropped"))
          .filter(allPresent)
      } else parsed
    val epoch = Bucketize.toEpochSeconds(
      col("_parsed").getField(msg.bucketField), msg.bucketType)
    val start = Bucketize.bucketStart(epoch, msg.bucketInterval.toLong)
    val projected = msg.msgMapSchema.map { case (newName, src) =>
      col("_parsed").getField(src).as(newName)
    }
    strictFiltered.select(projected :+ start.as("bucket_start")
      :+ (start + msg.bucketInterval).as("bucket_end"): _*)
  }
}
