package graft.sources

import java.io.ByteArrayOutputStream
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

/** Avro value decode/encode — operators S3/Q3 (`avro_decoder_func` /
  * `dict_to_avro`, `audit_utils/audit_utils/utils.py:276-373`): single binary
  * datums (no container framing), union-with-null fields decoding to JSON
  * null, missing fields encoding as null (doctest `utils.py:318-328`:
  * {name, favorite_number} round-trips with favorite_color → null).
  *
  * Built directly on avro-core (this distribution ships no spark-avro module,
  * so `from_avro`/`to_avro` are unavailable). Executed via `mapPartitions`
  * with reader/writer reuse — the per-partition amortization the reference
  * hand-rolled for its sink connections, and the documented fallback when no
  * built-in expression exists (SURVEY.md §7.3). JSON output is rendered in
  * schema field order (deterministic, unlike the reference's Python-2 dict
  * order).
  */
object AvroCodec {

  /** bytes → JSON string decoder for one schema. The returned function is
    * reusable within a partition; null/empty input → null (the reference's
    * `avro_msg_raw and …` guard). */
  def decoderFor(schemaJson: String): Array[Byte] => String = {
    val schema = new Schema.Parser().parse(schemaJson)
    val reader = new GenericDatumReader[GenericRecord](schema)
    val mapper = new ObjectMapper()
    var decoder: BinaryDecoder = null
    bytes => {
      if (bytes == null || bytes.isEmpty) null
      else {
        decoder = DecoderFactory.get().binaryDecoder(bytes, decoder)
        recordToJson(reader.read(null, decoder), schema, mapper).toString
      }
    }
  }

  /** Map/row → avro binary encoder for one schema; missing or null fields
    * must be declared as unions with null in the schema. */
  def encoderFor(schemaJson: String): Map[String, Any] => Array[Byte] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    var encoder: BinaryEncoder = null
    fields => {
      val rec = new GenericData.Record(schema)
      schema.getFields.forEach { f =>
        rec.put(f.name(), fields.getOrElse(f.name(), null))
      }
      val out = new ByteArrayOutputStream()
      encoder = EncoderFactory.get().binaryEncoder(out, encoder)
      writer.write(rec, encoder)
      encoder.flush()
      out.toByteArray
    }
  }

  /** Avro runtime value → Jackson node. Scalars map directly; nested
    * records/arrays/maps/enums/fixed recurse (the reference's decoder is
    * scalar-only, `utils.py:276-304` — this is a superset, not a deviation);
    * anything else fails fast rather than emitting toString garbage into
    * downstream JSON parsing. */
  private def valueToNode(v: Any, mapper: ObjectMapper,
                          fieldName: String): com.fasterxml.jackson.databind.JsonNode =
    v match {
      case null => mapper.nullNode()
      case s: org.apache.avro.util.Utf8  => mapper.getNodeFactory.textNode(s.toString)
      case s: String                     => mapper.getNodeFactory.textNode(s)
      case i: java.lang.Integer          => mapper.getNodeFactory.numberNode(i)
      case l: java.lang.Long             => mapper.getNodeFactory.numberNode(l)
      case f: java.lang.Float            => mapper.getNodeFactory.numberNode(f)
      case d: java.lang.Double           => mapper.getNodeFactory.numberNode(d)
      case b: java.lang.Boolean          => mapper.getNodeFactory.booleanNode(b)
      case bb: java.nio.ByteBuffer       => mapper.getNodeFactory
        .textNode(java.util.Base64.getEncoder.encodeToString(bb.array()))
      case fx: org.apache.avro.generic.GenericFixed => mapper.getNodeFactory
        .textNode(java.util.Base64.getEncoder.encodeToString(fx.bytes()))
      case e: org.apache.avro.generic.GenericEnumSymbol[_] =>
        mapper.getNodeFactory.textNode(e.toString)
      case r: GenericRecord =>
        val obj = mapper.createObjectNode()
        r.getSchema.getFields.forEach { f =>
          obj.set[ObjectNode](f.name(), valueToNode(r.get(f.name()), mapper, f.name()))
        }
        obj
      case a: java.util.Collection[_] =>
        val arr = mapper.createArrayNode()
        a.forEach(x => { arr.add(valueToNode(x, mapper, fieldName)); () })
        arr
      case m: java.util.Map[_, _] =>
        val obj = mapper.createObjectNode()
        m.forEach((k, x) =>
          { obj.set[ObjectNode](String.valueOf(k), valueToNode(x, mapper, fieldName)); () })
        obj
      case other => throw new UnsupportedOperationException(
        s"avro field '$fieldName' has unsupported runtime type " +
          s"${other.getClass.getName}")
    }

  private def recordToJson(rec: GenericRecord, schema: Schema,
                           mapper: ObjectMapper): ObjectNode = {
    val node = mapper.createObjectNode()
    schema.getFields.forEach { f =>
      node.set[ObjectNode](f.name(), valueToNode(rec.get(f.name()), mapper, f.name()))
    }
    node
  }

  /** DataFrame transform: rewrite binary `valueCol` to its JSON decode —
    * the S3 hook shape [[graft.streaming.StreamShell.attach]] accepts.
    * Reader construction is amortized per partition. */
  def decodeValues(df: DataFrame, valueCol: String, schemaJson: String): DataFrame = {
    val schema = df.schema
    val vi = schema.fieldIndex(valueCol)
    require(schema(vi).dataType == BinaryType,
      s"$valueCol must be binary, got ${schema(vi).dataType}")
    val outSchema = StructType(schema.fields.updated(vi,
      StructField(valueCol, StringType, nullable = true)))
    df.mapPartitions { it =>
      val decode = decoderFor(schemaJson)
      it.map { row =>
        val vals = row.toSeq.updated(vi, decode(row.getAs[Array[Byte]](vi)))
        Row.fromSeq(vals)
      }
    }(Encoders.row(outSchema))
  }

  /** DataFrame transform: append binary column `outCol` = avro encoding of
    * `cols` (long/string/int columns; nulls allowed for union fields). */
  def encodeColumns(df: DataFrame, cols: Seq[String], schemaJson: String,
                    outCol: String = "avro_value"): DataFrame = {
    val schema = df.schema
    val idx = cols.map(schema.fieldIndex)
    val outSchema = StructType(schema.fields :+ StructField(outCol, BinaryType, nullable = true))
    df.mapPartitions { it =>
      val encode = encoderFor(schemaJson)
      it.map { row =>
        val fields = cols.zip(idx).map { case (c, i) => c -> row.get(i) }.toMap
        Row.fromSeq(row.toSeq :+ encode(fields))
      }
    }(Encoders.row(outSchema))
  }

  /** A whole result frame as avro datums: every column encoded, one binary
    * `avro_value` column out — the SQL→Avro select (Q3) of the stores and
    * of the `/cs` route. */
  def encodeRows(df: DataFrame, schemaJson: String): DataFrame =
    encodeColumns(df, df.columns.toSeq, schemaJson).select("avro_value")
}
