package graft.config

import org.apache.spark.sql.types._

/** Typed configuration for the engine, mirroring the reference's three
  * `.ini` sections (reference: `spark-streaming-kafka-bucket-counter.py:34-74`,
  * `ssbc_config_base.ini:1-17`, `README.md:66-108`):
  *
  *   - `[KafkaSettings]`     → [[KafkaSettings]]
  *   - `[MsgSettings]`       → [[MsgSettings]]
  *   - `[HTTPEndpointSetting]` → [[StoreSettings]]
  *
  * The reference merges the user ini over `DEFAULT_CONFIG` and coerces values
  * through a `CONFIG_TYPES` cast map (`spark-streaming-kafka-bucket-counter.py:290-322`);
  * here the defaults + types live in the case classes themselves.
  */
final case class KafkaSettings(
    broker: String = "localhost:9092",
    topic: String = "test",
    outTopic: Option[String] = None,
    /** Optional Avro value schema (.avsc JSON). When set, Kafka values are
      * binary Avro and are decoded to JSON before projection
      * (reference: `spark-streaming-kafka-bucket-counter.py:266-269`). */
    avroValueSchema: Option[String] = None
)

/** How timestamps arrive in the message (reference `TS_LEGEND`,
  * `audit_utils/audit_utils/utils.py:14-21`). */
sealed abstract class BucketType(val name: String)
object BucketType {
  /** Bucket field is epoch seconds (numeric). */
  case object Epoch extends BucketType("epoch")
  /** Bucket field is a strict ISO-8601 string `%Y-%m-%dT%H:%M:%S.%fZ`
    * (reference: `audit_utils/audit_utils/utils.py:240-250`). */
  case object Iso extends BucketType("iso")
  /** Bucket field is already a Spark TimestampType column. Not in the
    * reference (its wire format is JSON scalars only); natural extension for
    * typed sources such as parquet. */
  case object Timestamp extends BucketType("timestamp")

  def fromName(s: String): BucketType = s.toLowerCase match {
    case "epoch"     => Epoch
    case "iso"       => Iso
    case "timestamp" => Timestamp
    case other => throw new IllegalArgumentException(
      s"unknown bucket_type '$other' (expected epoch|iso|timestamp)")
  }
}

final case class MsgSettings(
    /** Tumbling event-time bucket width in seconds
      * (reference: `audit_utils/audit_utils/utils.py:216-238`). */
    bucketInterval: Int = 20,
    /** Name of the field inside the message carrying the event time. */
    bucketField: String = "timestamp",
    bucketType: BucketType = BucketType.Epoch,
    /** Rename-projection map, `{newColumn -> sourceField}` — the CODE's
      * contract (`audit_utils/audit_utils/utils.py:56-58`); the README example
      * shows the reversed direction and would KeyError under the code
      * (SURVEY.md §1.3). Declaration order is preserved. */
    msgMapSchema: Seq[(String, String)] = Seq.empty
) {
  /** The reference's implicit day-alignment precondition (`README.md:44`):
    * buckets computed from seconds-since-midnight only agree with
    * epoch-aligned buckets when the interval divides a day evenly. */
  require(bucketInterval > 0, s"bucket_interval must be positive, got $bucketInterval")
  require(86400 % bucketInterval == 0,
    s"bucket_interval must evenly divide 86400 (reference README.md:44), got $bucketInterval")
  /** Targets become columns beside `bucket_start`, `bucket_end`, the
    * counter's `count` and the store's `rst_id`: a clash or a repeat
    * (case-blind, like Spark's resolution) is an ambiguous reference that
    * kills the stream in its first micro-batch. */
  locally {
    val targets = msgMapSchema.map(_._1.toLowerCase)
    val reserved = Set("count", "bucket_start", "bucket_end", "rst_id")
    require(targets.distinct.size == targets.size && !targets.exists(reserved),
      s"msg_map_schema targets must be distinct and none of " +
        s"${reserved.mkString(", ")}, got ${targets.mkString(", ")}")
  }
}

final case class StoreSettings(
    tableName: String = "default",
    /** Keep the last N generations (`RST_ID >= current - N`); reference
      * default 100 (`spark-streaming-kafka-bucket-counter.py:67-73`). */
    cleanInterval: Int = 100,
    /** Run retention every N appends; reference default 10
      * (`audit_utils/audit_utils/models.py:526-536`). */
    cleanFreq: Int = 10,
    /** Serving-store schema `{column -> sql type}` analog of `sqlite_schema`
      * (`README.md:98-108`); compiled once to a StructType. */
    schema: Seq[(String, String)] = Seq.empty
) {
  /** Both come from the `.ini`: `clean_freq = 0` would throw in the
    * retention cadence (`counter % cleanFreq`) inside the first
    * micro-batch and kill the stream, and a negative `clean_interval`
    * would set the retention floor above the counter, deleting the
    * generation just written. */
  require(cleanFreq > 0, s"clean_freq must be positive, got $cleanFreq")
  require(cleanInterval >= 0, s"clean_interval must be non-negative, got $cleanInterval")
}

final case class GraftConfig(
    kafka: KafkaSettings = KafkaSettings(),
    msg: MsgSettings = MsgSettings(),
    store: StoreSettings = StoreSettings()
)

object GraftConfig {

  /** Parse a minimal `.ini` (sections, `key = value`, `#`/`;` comments) —
    * the reference reads the same shape through ConfigParser
    * (`audit_utils/audit_utils/utils.py:383-394`). */
  def parseIni(text: String): Map[String, Map[String, String]] = {
    var section = ""
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, String]]
    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach {
      case l if l.startsWith("#") || l.startsWith(";") => ()
      case l if l.startsWith("[") && l.endsWith("]") =>
        section = l.substring(1, l.length - 1)
        out.getOrElseUpdate(section, scala.collection.mutable.LinkedHashMap.empty)
      case l if l.contains("=") =>
        // ConfigParser (the reference's reader) raises MissingSectionHeaderError
        // for keys before any [section]; fail fast the same way rather than
        // silently filing them under "".
        if (section.isEmpty)
          throw new IllegalArgumentException(
            s"key/value before any [section] header: '$l'")
        val i = l.indexOf('=')
        out.getOrElseUpdate(section, scala.collection.mutable.LinkedHashMap.empty)
          .put(l.substring(0, i).trim, l.substring(i + 1).trim)
      case other =>
        throw new IllegalArgumentException(s"unparseable config line: '$other'")
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** Build a config from parsed ini sections, applying defaults for missing
    * keys like the reference's `DEFAULT_CONFIG` merge. `msg_map_schema` and
    * `sqlite_schema` values are inline JSON objects here (the reference reads
    * them from side files; file I/O stays at the call site). */
  def fromIni(text: String): GraftConfig = {
    val ini = parseIni(text)
    def sec(name: String) = ini.getOrElse(name, Map.empty)
    val k = sec("KafkaSettings")
    val m = sec("MsgSettings")
    val h = sec("HTTPEndpointSetting")
    GraftConfig(
      kafka = KafkaSettings(
        broker = k.getOrElse("broker", "localhost:9092"),
        topic = k.getOrElse("topic", "test"),
        outTopic = k.get("out_topic"),
        avroValueSchema = k.get("avro_val_schema").filter(_.nonEmpty)
      ),
      msg = MsgSettings(
        bucketInterval = m.get("bucket_interval").map(_.toInt).getOrElse(20),
        bucketField = m.getOrElse("bucket_field", "timestamp"),
        bucketType = m.get("bucket_type").map(BucketType.fromName).getOrElse(BucketType.Epoch),
        msgMapSchema = m.get("msg_map_schema").map(parseFlatJsonPairs).getOrElse(Seq.empty)
      ),
      store = StoreSettings(
        tableName = h.getOrElse("sqlite_table", "default"),
        cleanInterval = h.get("clean_interval").map(_.toInt).getOrElse(100),
        cleanFreq = h.get("clean_freq").map(_.toInt).getOrElse(10),
        schema = h.get("sqlite_schema").map(parseFlatJsonPairs).getOrElse(Seq.empty)
      )
    )
  }

  /** Parse a flat JSON object of string→string into ordered pairs with a real
    * JSON parser (Jackson ships on Spark's classpath) — values containing
    * `,`/`:` such as `DECIMAL(10,2)` or quoted punctuation parse correctly. */
  def parseFlatJsonPairs(json: String): Seq[(String, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(node != null && node.isObject, s"expected a JSON object, got: $json")
    // properties() is the non-deprecated fields() (insertion-ordered).
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    node.properties().forEach { e =>
      require(e.getValue.isTextual,
        s"expected string value for key '${e.getKey}', got ${e.getValue}")
      buf += e.getKey -> e.getValue.asText()
    }
    buf.toSeq
  }

  /** Compile a `{column -> sqlType}` schema (A3 `sqlite_schema` analog) to a
    * StructType. The reference stores everything stringly and lets SQLite
    * coerce (`audit_utils/audit_utils/models.py:360-363`); we keep real types. */
  def schemaToStructType(pairs: Seq[(String, String)]): StructType =
    StructType(pairs.map { case (name, tpe) =>
      StructField(name, sqlTypeToSpark(tpe), nullable = true)
    })

  def sqlTypeToSpark(t: String): DataType = t.trim.toUpperCase match {
    case "TEXT" | "STRING" | "VARCHAR"        => StringType
    case "INTEGER" | "INT" | "BIGINT" | "LONG" => LongType
    case "REAL" | "DOUBLE" | "FLOAT"          => DoubleType
    case "TIMESTAMP"                          => TimestampType
    case "BOOLEAN" | "BOOL"                   => BooleanType
    case "BLOB" | "BINARY"                    => BinaryType
    case other => throw new IllegalArgumentException(s"unsupported column type '$other'")
  }

  /** `msg_map_schema` → the StructType used by `from_json`: every projected
    * source field is read as a string — faithful to the reference, which
    * treats all values opaquely (SURVEY.md §1.2). */
  def msgMapToJsonSchema(msgMap: Seq[(String, String)], bucketField: String): StructType = {
    val srcFields = (msgMap.map(_._2) :+ bucketField).distinct
    StructType(srcFields.map(f => StructField(f, StringType, nullable = true)))
  }
}
