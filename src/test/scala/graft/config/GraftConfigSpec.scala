package graft.config

import org.scalatest.funsuite.AnyFunSuite

class GraftConfigSpec extends AnyFunSuite {

  test("parseIni: sections, comments, fail-fast on pre-section keys") {
    val ini =
      """# comment
        |[KafkaSettings]
        |broker = host:9092
        |topic = events
        |; another comment
        |[MsgSettings]
        |bucket_interval = 20
        |""".stripMargin
    val parsed = GraftConfig.parseIni(ini)
    assert(parsed("KafkaSettings")("broker") === "host:9092")
    assert(parsed("MsgSettings")("bucket_interval") === "20")
    // ConfigParser raises MissingSectionHeaderError on the same shape.
    intercept[IllegalArgumentException] {
      GraftConfig.parseIni("key = value\n[Section]\n")
    }
  }

  test("parseFlatJsonPairs: real JSON parse handles commas/colons in values (ADVICE)") {
    val pairs = GraftConfig.parseFlatJsonPairs(
      """{"price": "DECIMAL(10,2)", "url_field": "http://host:8080/x", "n": "INT"}""")
    assert(pairs === Seq("price" -> "DECIMAL(10,2)",
      "url_field" -> "http://host:8080/x", "n" -> "INT"))
    intercept[IllegalArgumentException](GraftConfig.parseFlatJsonPairs("[1,2]"))
  }

  test("fromIni: defaults merge like DEFAULT_CONFIG (ssbc py:55-74)") {
    val cfg = GraftConfig.fromIni(
      """[KafkaSettings]
        |topic = mytopic
        |[MsgSettings]
        |bucket_type = iso
        |msg_map_schema = {"server_name": "origin_server"}
        |[HTTPEndpointSetting]
        |clean_interval = 7
        |""".stripMargin)
    assert(cfg.kafka.topic === "mytopic")
    assert(cfg.kafka.broker === "localhost:9092") // default
    assert(cfg.msg.bucketType === BucketType.Iso)
    assert(cfg.msg.bucketInterval === 20)          // default
    assert(cfg.msg.msgMapSchema === Seq("server_name" -> "origin_server"))
    assert(cfg.store.cleanInterval === 7)
    assert(cfg.store.cleanFreq === 10)             // default
  }

  test("bucket_interval must divide a day (README.md:44)") {
    intercept[IllegalArgumentException](MsgSettings(bucketInterval = 7))
    MsgSettings(bucketInterval = 20) // divides 86400 — fine
  }

  test("msg_map_schema targets must be distinct and not clash with pipeline columns") {
    def msg(map: String) = GraftConfig.fromIni(
      s"[MsgSettings]\nmsg_map_schema = $map\n").msg
    // A message with its own `count` field is a plausible input; mapped
    // to `count` it would meet the counter's column in the first batch.
    Seq("count", "bucket_start", "bucket_end", "rst_id").foreach { t =>
      intercept[IllegalArgumentException](msg(s"""{"$t": "n"}"""))
    }
    intercept[IllegalArgumentException](msg("""{"Count": "n"}"""))
    intercept[IllegalArgumentException](
      MsgSettings(msgMapSchema = Seq("a" -> "x", "A" -> "y")))
    assert(msg("""{"n_count": "count"}""").msgMapSchema === Seq("n_count" -> "count"))
  }

  test("clean_freq must be positive and clean_interval non-negative") {
    def store(kv: String) = GraftConfig.fromIni(s"[HTTPEndpointSetting]\n$kv\n").store
    intercept[IllegalArgumentException](store("clean_freq = 0"))
    intercept[IllegalArgumentException](store("clean_freq = -3"))
    intercept[IllegalArgumentException](store("clean_interval = -1"))
    assert(store("clean_interval = 0").cleanInterval === 0)
    assert(store("clean_freq = 1").cleanFreq === 1)
  }

  test("msg map → from_json schema includes bucket field once, all strings") {
    val st = GraftConfig.msgMapToJsonSchema(
      Seq("a" -> "x", "b" -> "timestamp"), "timestamp")
    assert(st.fieldNames.toSeq === Seq("x", "timestamp"))
    assert(st.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
  }
}
