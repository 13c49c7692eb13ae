package graft.serve

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.config.GraftConfig
import graft.streaming.StreamShell

/** The reference's HTTP contract end to end: the README worked example
  * (`README.md:110-177`) driven through MemoryStream → store → every route,
  * asserting the exact list-of-dicts JSON the Flask endpoint emits
  * (`models.py:176-187`). */
class StoreHttpServerSpec extends SparkSpec {

  private val ini =
    """[KafkaSettings]
      |broker = localhost:9092
      |topic = logstash-test
      |[MsgSettings]
      |bucket_interval = 20
      |bucket_field = timestamp
      |bucket_type = epoch
      |msg_map_schema = {"server_name": "origin_server", "topic": "topic"}
      |[HTTPEndpointSetting]
      |sqlite_table = http_audit
      |sqlite_schema = {"server_name": "TEXT", "topic": "TEXT", "bucket_start": "INTEGER", "bucket_end": "INTEGER", "count": "INTEGER"}
      |clean_interval = 100
      |clean_freq = 10
      |""".stripMargin

  private val client = HttpClient.newHttpClient()
  private def get(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
  /** RFC-3986 segment encoding (URLEncoder is form encoding; its `+`-for-
    * space would collide with literal `+` preservation in paths). */
  private def enc(s: String): String =
    URLEncoder.encode(s, UTF_8).replace("+", "%20")

  /** Queries that read the doc keys of table `t` once: through a scalar
    * subquery, an IN subquery, and `view`, a temp view over `t` made
    * outside the server. Before a takedown of https://a.org/1 each
    * answer shows it; after, only https://a.org/2. */
  private def readOnce(t: String, view: String): Seq[String] = Seq(
    s"SELECT (SELECT min(doc_key) FROM $t) AS k",
    s"SELECT k FROM VALUES ('https://a.org/1'), ('https://a.org/2') AS x(k) " +
      s"WHERE k IN (SELECT doc_key FROM $t)",
    s"SELECT doc_key AS k FROM $view")

  /** As [[readOnce]], through a self-join and a CTE read twice. Such an
    * answer is never kept: the analyzer gives the second read of the
    * view fresh ids, so its leaf is not the store's frame. */
  private def readTwice(t: String): Seq[String] = Seq(
    s"SELECT a.doc_key AS k, b.n FROM $t a JOIN $t b ON a.n = b.n",
    s"WITH c AS (SELECT doc_key AS k, n FROM $t) SELECT x.k, y.n FROM c x JOIN c y ON x.k = y.k")

  test("every reference route round-trips the README worked example") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val cfg = GraftConfig.fromIni(ini)
    val stream = MemoryStream[(String, String)]
    val (store, query) = StreamShell.runWithSource(spark, cfg,
      stream.toDF().toDF("key", "value"),
      trigger = Some(Trigger.ProcessingTime(0L)))
    stream.addData(("k",
      """{"origin_server": "Iceman", "topic": "Dreams", "timestamp": 1440179085}"""))
    query.processAllAvailable()
    query.stop()

    val srv = new StoreHttpServer(store).start()
    try {
      val row = """{"server_name":"Iceman","topic":"Dreams","bucket_start":1440179080,""" +
        """"bucket_end":1440179100,"count":1,"rst_id":1}"""

      // Q1 select-all: '*' and the explicit table name (README.md:119-132).
      assert(get(srv.port, "/a/*") === ((200, s"[$row]")))
      assert(get(srv.port, "/a/http_audit") === ((200, s"[$row]")))

      // Q5 generation counter: one append happened, next id is 2.
      assert(get(srv.port, "/rst") === ((200, "2")))

      // Q2 arbitrary SQL.
      val sql = "SELECT sum(count) AS total FROM http_audit WHERE topic = 'Dreams'"
      assert(get(srv.port, s"/c/${enc(sql)}") === ((200, """[{"total":1}]""")))

      // Q7 comparator select (/c/<json>/EOE) + unparsable-JSON fallback [].
      val cjson = """{"bucket_start": ["range", 1440179080, null]}"""
      assert(get(srv.port, s"/c/${enc(cjson)}/EOE") === ((200, s"[$row]")))
      assert(get(srv.port, s"/c/${enc("not json")}/EOE") === ((200, "[]")))

      // Q9 range select with open end; then a miss range.
      assert(get(srv.port, "/sr/bucket_start/1440179080:None") === ((200, s"[$row]")))
      assert(get(srv.port, "/sr/bucket_start/None:100") === ((200, "[]")))

      // Q11 recent-N and Q12 direct fetch.
      assert(get(srv.port, "/rv/1") === ((200, s"[$row]")))
      assert(get(srv.port, "/dv/1") === ((200, s"[$row]")))
      assert(get(srv.port, "/dv/99") === ((200, "[]")))

      // A literal '+' in path SQL survives decoding (RFC 3986, not form
      // decoding): unencoded '+' is what standards-compliant clients send.
      assert(get(srv.port, "/c/SELECT%201+1%20AS%20s") === ((200, """[{"s":2}]""")))

      // Unknown route and bad SQL are 400s, not hangs.
      assert(get(srv.port, "/nope")._1 === 400)
      assert(get(srv.port, s"/c/${enc("SELECT FROM nothing")}")._1 === 400)

      // Q4 reconnect/reset empties the store.
      assert(get(srv.port, "/r") === ((200, "null")))
      assert(get(srv.port, "/a/*") === ((200, "[]")))
      assert(get(srv.port, "/rst") === ((200, "1")))
    } finally srv.stop()
  }

  test("one-call assembly: stream in, HTTP out (kafka_http_sqlite analog)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = GraftConfig.fromIni(ini.replace("http_audit", "assembled_audit"))
    val stream = MemoryStream[(String, String)]
    val (_, query, srv) = StreamShell.runWithHttpSource(spark, cfg,
      stream.toDF().toDF("key", "value"),
      trigger = Some(Trigger.ProcessingTime(0L)))
    try {
      stream.addData(("k",
        """{"origin_server": "Iceman", "topic": "Dreams", "timestamp": 1440179085}"""))
      query.processAllAvailable()
      val (code, body) = get(srv.port, "/a/*")
      assert(code === 200)
      assert(body.contains(""""count":1,"rst_id":1"""))
    } finally { query.stop(); srv.stop() }
  }

  test("null columns stay present in row dicts (reference dict shape)") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    val store = new graft.store.RecentStore(spark, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      tableName = "null_http")
    store.append(Seq(("a", Some(1L)), ("b", None))
      .toDF("k", "v"))
    val srv = new StoreHttpServer(store).start()
    try {
      val (code, body) = get(srv.port, "/a/*")
      assert(code === 200)
      assert(body.contains("""{"k":"b","v":null,"rst_id":1}"""))
    } finally srv.stop()
  }

  test("/x lists and runs registered analytics; unknown names 400") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    val store = new graft.store.RecentStore(spark, StructType(Seq(
      StructField("k", StringType))), tableName = "x_http")
    val corpus = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val srv = new StoreHttpServer(store, analytics = Map(
      "bpe_merges" -> (() => {
        val (m, _) = graft.operators.Bpe.train(corpus, k = 1)
        spark.createDataFrame(m)
      }),
      "doc_profile" -> (() =>
        graft.operators.Profiling.profile(corpus, Seq("doc_id"))))).start()
    try {
      assert(get(srv.port, "/x") === ((200, """["bpe_merges","doc_profile"]""")))
      val (code, body) = get(srv.port, "/x/bpe_merges")
      assert(code === 200)
      assert(body ===
        """[{"merge_rank":1,"lhs":"a","rhs":"b","pair_count":2}]""")
      assert(get(srv.port, "/x/nope")._1 === 400)
    } finally srv.stop()
  }

  test("the veneer serves the DURABLE store too (reference wraps durable SQLite)") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    val store = new graft.store.ParquetStore(spark,
      StructType(Seq(StructField("k", StringType), StructField("n", LongType))),
      java.nio.file.Files.createTempDirectory("graft_http_dur").toString,
      tableName = "dur_http")
    store.append(Seq(("a", 1L)).toDF("k", "n"))
      .append(Seq(("b", 2L)).toDF("k", "n"))
    val srv = new StoreHttpServer(store).start()
    try {
      assert(get(srv.port, "/rst") === ((200, "3")))
      assert(get(srv.port, "/dv/2") === ((200, """[{"k":"b","n":2,"rst_id":2}]""")))
      val sql = "SELECT sum(n) AS total FROM dur_http"
      assert(get(srv.port, s"/c/${enc(sql)}") === ((200, """[{"total":3}]""")))
      // Q4 reset wipes the directories and rewinds the counter.
      assert(get(srv.port, "/r") === ((200, "null")))
      assert(get(srv.port, "/a/*") === ((200, "[]")))
      assert(get(srv.port, "/rst") === ((200, "1")))
    } finally srv.stop()
  }

  test("concurrent reads racing resets never 500 (read/write lock)") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    val store = new graft.store.RecentStore(spark, StructType(Seq(
      StructField("k", StringType), StructField("n", LongType))),
      tableName = "race_http")
    store.append(Seq(("a", 1L)).toDF("k", "n"))
    val srv = new StoreHttpServer(store).start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = (1 to 24).map { i =>
        Future(get(srv.port, if (i % 6 == 0) "/r" else "/a/*"))
      }
      val results = Await.result(Future.sequence(futures), 60.seconds)
      // Every response is a clean 200 — no torn state, no 500s/exceptions.
      assert(results.forall(_._1 == 200), results.filter(_._1 != 200).toString)
      assert(results.forall { case (_, b) => b == "null" || b.startsWith("[") })
    } finally srv.stop()
  }

  test("Q3 avro flavor: /cs returns base64 datums that decode back") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.sources.AvroCodec
    val avsc =
      """{"type": "record", "name": "KV", "fields": [
        |  {"name": "k", "type": ["string", "null"]},
        |  {"name": "total", "type": ["long", "null"]}]}""".stripMargin
    val store = new graft.store.RecentStore(spark, StructType(Seq(
      StructField("k", StringType), StructField("n", LongType))),
      tableName = "avro_http")
    store.append(Seq(("a", 2L), ("a", 3L)).toDF("k", "n"))
    val srv = new StoreHttpServer(store, avroSchema = Some(avsc)).start()
    try {
      val sql = "SELECT k, sum(n) AS total FROM avro_http GROUP BY k"
      val (code, body) = get(srv.port, s"/cs/${enc(sql)}")
      assert(code === 200)
      val b64 = body.stripPrefix("[\"").stripSuffix("\"]")
      val decoded = AvroCodec.decoderFor(avsc)(java.util.Base64.getDecoder.decode(b64))
      assert(decoded === """{"k":"a","total":5}""")
    } finally srv.stop()
  }

  test("takedown scrub-at-read: a logical takedown is effective at the HTTP boundary while the store still holds the row") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    val base = java.nio.file.Files.createTempDirectory("graft_http_td")
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType), StructField("n", LongType))),
      s"$base/docs", tableName = "http_td_docs")
    store.append(Seq(("https://a.org/1", 10L), ("https://a.org/2", 20L))
      .toDF("doc_key", "n"))
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_td_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key"))).start()
    try {
      // Before any request lands, both rows serve.
      val (_, before) = get(srv.port, "/a/*")
      assert(before.contains("https://a.org/1") &&
        before.contains("https://a.org/2"))
      Takedown.request(td,
        Seq(("https://a.org/1", "dmca")).toDF("key", "reason"))
      // No physical erase ran — the store's parquet still holds the row…
      assert(store.selectAll.filter(
        org.apache.spark.sql.functions.col("doc_key") === "https://a.org/1")
        .count() === 1L)
      // …but every key-carrying route stops serving it immediately.
      val (_, a) = get(srv.port, "/a/*")
      assert(!a.contains("https://a.org/1") && a.contains("https://a.org/2"))
      // Reversed reference arg order: lte(0) ≡ 0 <= n — matches all rows.
      val cjson = enc("""{"n": ["lte", 0]}""")
      val (_, c) = get(srv.port, s"/c/$cjson/EOE")
      assert(!c.contains("https://a.org/1") && c.contains("https://a.org/2"))
      val (_, sr) = get(srv.port, "/sr/n/0:100")
      assert(!sr.contains("https://a.org/1") && sr.contains("https://a.org/2"))
      val (_, rv) = get(srv.port, "/rv/5")
      assert(!rv.contains("https://a.org/1") && rv.contains("https://a.org/2"))
      val (_, sql) = get(srv.port,
        s"/c/${enc("SELECT doc_key, n FROM http_td_docs")}")
      assert(!sql.contains("https://a.org/1") && sql.contains("https://a.org/2"))
      // An ALIAS over the key (or an expression) cannot smuggle the row
      // out: SQL plans over the scrubbed rows, not a name-matched
      // result (review r15).
      val (_, aliased) = get(srv.port,
        s"/c/${enc("SELECT doc_key AS k, n FROM http_td_docs")}")
      assert(!aliased.contains("https://a.org/1") &&
        aliased.contains("https://a.org/2"))
      val (_, exprd) = get(srv.port,
        s"/c/${enc("SELECT upper(doc_key) AS doc_key FROM http_td_docs")}")
      assert(!exprd.toLowerCase.contains("https://a.org/1") &&
        exprd.toLowerCase.contains("https://a.org/2"))
      // Aggregates over the store's own view also compute over the
      // scrubbed rows — the banned row's n=10 is excluded.
      val (_, agg) = get(srv.port,
        s"/c/${enc("SELECT sum(n) AS total FROM http_td_docs")}")
      assert(agg === """[{"total":20}]""")
      // Self-joins, subqueries, CTEs and a view over the store's view
      // read the scrubbed rows too: the wrap sits on every read of the
      // view in the plan.
      spark.sql("CREATE TEMP VIEW http_td_docs_v AS SELECT * FROM http_td_docs")
      (readOnce("http_td_docs", "http_td_docs_v") ++ readTwice("http_td_docs")).foreach { q =>
        val (code, body) = get(srv.port, s"/c/${enc(q)}")
        assert(code === 200 && !body.contains("https://a.org/1") &&
          body.contains("https://a.org/2"), s"$q: $body")
      }
    } finally srv.stop()
  }

  test("/cdx point lookup: hit, straddle, miss, and takedown-masked lines over a written zipnum cluster") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    import graft.sources.Warc
    val base = java.nio.file.Files.createTempDirectory("graft_http_cdx")
    // Three same-key captures straddle blocks at blockLines = 2.
    val rows = (Seq(
      ("g0", "https://c.org/dup", "2024-01-01T00:00:00Z", "a"),
      ("g1", "https://c.org/dup", "2024-02-01T00:00:00Z", "b"),
      ("g2", "https://c.org/dup", "2024-03-01T00:00:00Z", "c"),
      ("g0", "https://c.org/bad", "2024-01-01T00:00:00Z", "banned")) ++
      (0 until 6).map(i => (s"g${i % 3}", s"https://c.org/p/$i",
        "2024-01-01T00:00:00Z", s"body $i")))
      .map { case (g, u, d, b) =>
        (g, u, d, "text/plain", b.getBytes("UTF-8"))
      }.toDF("file_group", "url", "warc_date", "content_type", "body")
    val files = Warc.encodeResponses(rows, withCdx = true)
      .localCheckpoint(true)
    val znDir = s"$base/zn"
    Warc.writeZipnum(files, znDir, shards = 2, blockLines = 2)
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType))), s"$base/docs",
      tableName = "http_cdx_docs")
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_cdx_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key")),
      cdxCluster = Some(znDir)).start()
    try {
      // Straddling key: all three captures, across blocks.
      val (s1, dup) = get(srv.port, s"/cdx/${enc("https://c.org/dup")}")
      assert(s1 === 200)
      assert(Seq("20240101000000", "20240201000000", "20240301000000")
        .forall(dup.contains))
      // Single hit; SURT-free keys carry literal slashes — both the
      // encoded and raw-segment forms must resolve.
      val (_, one) = get(srv.port, s"/cdx/${enc("https://c.org/p/3")}")
      assert(one.contains("/p/3 ") && !one.contains("/p/4"))
      val (_, raw) = get(srv.port, "/cdx/https:%2F%2Fc.org%2Fp%2F3")
      assert(raw === one)
      // Miss: empty list, 200.
      val (s2, miss) = get(srv.port, s"/cdx/${enc("https://zz.org/x")}")
      assert(s2 === 200 && miss === "[]")
      // Takedown mask: the banned URL's line vanishes from the served
      // list even though the CLUSTER still holds it (no rebuild ran) —
      // defense in depth with the staleness gate.
      val (_, preBan) = get(srv.port, s"/cdx/${enc("https://c.org/bad")}")
      assert(preBan.contains("https://c.org/bad"))
      Takedown.request(td,
        Seq(("https://c.org/bad", "dmca")).toDF("key", "reason"))
      val (_, postBan) = get(srv.port, s"/cdx/${enc("https://c.org/bad")}")
      assert(postBan === "[]")
      // Unbanned keys still serve.
      val (_, still) = get(srv.port, s"/cdx/${enc("https://c.org/p/3")}")
      assert(still.contains("/p/3 "))
    } finally srv.stop()
  }

  test("/cdx: from/to timestamp bounds (prefix semantics) compose with the takedown scrub and the victim cache") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    import graft.sources.Warc
    val base = java.nio.file.Files.createTempDirectory("graft_http_cdxts")
    val rows = Seq(
      ("g0", "https://t.org/a", "2023-06-01T00:00:00Z", "y23"),
      ("g1", "https://t.org/a", "2024-03-05T12:00:00Z", "y24a"),
      ("g2", "https://t.org/a", "2024-12-31T23:59:59Z", "y24b"),
      ("g0", "https://t.org/a", "2025-01-01T00:00:00Z", "y25"),
      ("g1", "https://t.org/b", "2024-06-01T00:00:00Z", "other"))
      .map { case (g, u, d, b) =>
        (g, u, d, "text/plain", b.getBytes("UTF-8"))
      }.toDF("file_group", "url", "warc_date", "content_type", "body")
    val znDir = s"$base/zn"
    Warc.writeZipnum(
      Warc.encodeResponses(rows, withCdx = true).localCheckpoint(true),
      znDir, shards = 1, blockLines = 2)
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType))), s"$base/docs",
      tableName = "http_cdxts_docs")
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_cdxts_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key")),
      cdxCluster = Some(znDir)).start()
    try {
      val key = enc("https://t.org/a")
      def times(body: String): Seq[String] =
        "\\b(20\\d{12})\\b".r.findAllMatchIn(body).map(_.group(1)).toSeq
      // Unbounded: all four captures.
      assert(times(get(srv.port, s"/cdx/$key")._2).size === 4)
      // Bounded hit: a full 14-digit window.
      val (_, mid) = get(srv.port,
        s"/cdx/$key?from=20240101000000&to=20240401000000")
      assert(times(mid) === Seq("20240305120000"))
      // PREFIX upper bound inclusivity: to=2024 admits 20241231235959
      // (right-pads with '9'), from=2024 drops 2023.
      val (_, y24) = get(srv.port, s"/cdx/$key?from=2024&to=2024")
      assert(times(y24) === Seq("20240305120000", "20241231235959"))
      // Open lower bound: to=2024 alone keeps 2023.
      assert(times(get(srv.port, s"/cdx/$key?to=2024")._2).size === 3)
      // Victim cache (r16 verdict #6): the first scrubbed lookups
      // compute the set ONCE; a new takedown request invalidates it —
      // and the bound + scrub compose.
      val before = srv.victimRecomputes
      assert(before >= 1L, "the lookups above must have computed the set")
      get(srv.port, s"/cdx/$key?from=2024")
      get(srv.port, s"/cdx/$key?to=2025")
      assert(srv.victimRecomputes === before,
        "repeated lookups must hit the cached victim set")
      Takedown.request(td,
        Seq(("https://t.org/a", "dmca")).toDF("key", "reason"))
      val (_, banned) = get(srv.port, s"/cdx/$key?from=2024&to=2024")
      assert(banned === "[]",
        "a fresh takedown must invalidate the cache and mask the key")
      assert(srv.victimRecomputes === before + 1L)
      val (_, other) = get(srv.port, s"/cdx/${enc("https://t.org/b")}?from=2024")
      assert(other.contains("https://t.org/b"))
    } finally srv.stop()
  }

  test("victim cache follows the takedown store's files: a withdrawal erased through another handle unmasks the URL") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    import graft.sources.Warc
    val base = java.nio.file.Files.createTempDirectory("graft_http_vc")
    val rows = Seq(
      ("g0", "https://v.org/a", "2024-01-01T00:00:00Z", "a"),
      ("g0", "https://v.org/b", "2024-01-01T00:00:00Z", "b"))
      .map { case (g, u, d, b) =>
        (g, u, d, "text/plain", b.getBytes("UTF-8"))
      }.toDF("file_group", "url", "warc_date", "content_type", "body")
    val znDir = s"$base/zn"
    Warc.writeZipnum(
      Warc.encodeResponses(rows, withCdx = true).localCheckpoint(true),
      znDir, shards = 1, blockLines = 2)
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType))), s"$base/docs",
      tableName = "http_vc_docs")
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_vc_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key")),
      cdxCluster = Some(znDir)).start()
    try {
      Takedown.request(td, Seq(("https://v.org/a", "dmca"),
        ("https://v.org/b", "dmca")).toDF("key", "reason"))
      assert(get(srv.port, s"/cdx/${enc("https://v.org/a")}")._2 === "[]")
      assert(get(srv.port, s"/cdx/${enc("https://v.org/b")}")._2 === "[]")
      // The notice for /a is withdrawn and erased through ANOTHER handle
      // on the same path: the served handle's counter and generation
      // ids do not move (the erase rewrites generation 1 in place), but
      // its files do.
      val other = Takedown.takedownStore(spark, s"$base/td",
        tableName = "http_vc_list_2")
      assert(other.eraseKeys(Seq("https://v.org/a").toDF("key"),
        Seq("key")) === 1L)
      val (_, a) = get(srv.port, s"/cdx/${enc("https://v.org/a")}")
      assert(a.contains("https://v.org/a"),
        s"a withdrawn takedown must stop masking the URL, got $a")
      assert(get(srv.port, s"/cdx/${enc("https://v.org/b")}")._2 === "[]")
    } finally srv.stop()
  }

  test("takedown fails closed on unreadable CDX lines: /cdx and /replay withhold them, no request fails") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    import graft.sources.Warc
    val base = java.nio.file.Files.createTempDirectory("graft_http_corrupt")
    val rows = Seq(
      ("g0", "https://h.org/ok", "2024-01-01T00:00:00Z", "OK"),
      ("g0", "https://h.org/broken", "2024-01-01T00:00:00Z", "BROKEN"),
      ("g0", "https://h.org/nullurl", "2024-01-01T00:00:00Z", "NULLURL"),
      ("g0", "https://h.org/bad", "2024-01-01T00:00:00Z", "banned"))
      .map { case (g, u, d, b) =>
        (g, u, d, "text/plain", b.getBytes("UTF-8"))
      }.toDF("file_group", "url", "warc_date", "content_type", "body")
    val files = Warc.encodeResponses(rows, withCdx = true)
      .localCheckpoint(true)
    val arch = s"$base/arch"
    Warc.writeFiles(files, arch)
    // Hand-corrupt two cluster lines (the archives stay intact): one
    // with truncated JSON, one whose url is JSON null.
    def corrupt(line: String): String =
      if (line.startsWith("https://h.org/broken "))
        line.substring(0, line.indexOf(",\"mime\""))
      else line.replace("\"url\":\"https://h.org/nullurl\"", "\"url\":null")
    val cdx = files.filter(col("path").endsWith(".cdx")).collect().map { r =>
      (r.getAs[String]("path"),
        new String(r.getAs[Array[Byte]]("content"), UTF_8).split("\n")
          .map(corrupt).mkString("", "\n", "\n").getBytes(UTF_8))
    }.toSeq
    val znDir = s"$base/zn"
    Warc.writeZipnum(cdx.toDF("path", "content"), znDir, shards = 1,
      blockLines = 2)
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType))), s"$base/docs",
      tableName = "http_corrupt_docs")
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_corrupt_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key")),
      cdxCluster = Some(znDir), cdxArchives = Some(arch)).start()
    try {
      // No key banned yet: the scrub is off and lines serve as stored.
      val (s0, broken0) = get(srv.port, s"/cdx/${enc("https://h.org/broken")}")
      assert(s0 === 200 && broken0.contains("https://h.org/broken"))
      val (r0, body0) = get(srv.port, s"/replay/*/${enc("https://h.org/nullurl")}")
      assert(r0 === 200 && body0 === "NULLURL")
      Takedown.request(td,
        Seq(("https://h.org/bad", "dmca")).toDF("key", "reason"))
      // Under takedown an unreadable url cannot be shown innocent: both
      // routes withhold the line, and neither request fails.
      for (u <- Seq("https://h.org/broken", "https://h.org/nullurl")) {
        assert(get(srv.port, s"/cdx/${enc(u)}") === (200, "[]"), u)
        assert(get(srv.port, s"/replay/*/${enc(u)}")._1 === 404, u)
      }
      val (sp, page) = get(srv.port,
        s"/cdx/${enc("https://h.org/")}?matchType=prefix")
      assert(sp === 200)
      assert(page.contains("https://h.org/ok") && !page.contains("broken") &&
        !page.contains("nullurl") && !page.contains("https://h.org/bad"))
      assert(get(srv.port, s"/replay/*/${enc("https://h.org/ok")}") === (200, "OK"))
      assert(get(srv.port, s"/replay/*/${enc("https://h.org/bad")}")._1 === 404)
    } finally srv.stop()
  }

  test("/cdx matchType=prefix: key-ordered bounded pages with resume; scrub composes") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    import graft.sources.Warc
    val base = java.nio.file.Files.createTempDirectory("graft_http_cdxpf")
    val rows = (0 until 8).map { i =>
      (s"g${i % 2}", f"https://pf.org/d/$i%02d", "2024-01-01T00:00:00Z",
        "text/plain", s"b$i".getBytes("UTF-8"))
    }.toDF("file_group", "url", "warc_date", "content_type", "body")
    val files = Warc.encodeResponses(rows, withCdx = true)
      .localCheckpoint(true)
    val znDir = s"$base/zn"
    Warc.writeZipnum(files, znDir, shards = 2, blockLines = 2)
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType))), s"$base/docs",
      tableName = "http_cdxpf_docs")
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_cdxpf_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key")),
      cdxCluster = Some(znDir)).start()
    def lines(body: String): Seq[String] = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body)
      (0 until node.size()).map(node.get(_).asText())
    }
    def keys(body: String): Seq[String] =
      lines(body).map(_.split(" ")(0))
    try {
      val pfx = enc("https://pf.org/d/")
      // Full prefix scan: every capture under the prefix, key order.
      val (s1, all) = get(srv.port, s"/cdx/$pfx?matchType=prefix")
      assert(s1 === 200)
      assert(keys(all) ===
        (0 until 8).map(i => f"https://pf.org/d/$i%02d"))
      // Bounded page + resume: page 2 starts strictly after page 1's
      // last line; chaining pages walks the range with no dup/gap.
      val (_, p1) = get(srv.port, s"/cdx/$pfx?matchType=prefix&limit=3")
      assert(keys(p1) ===
        Seq("https://pf.org/d/00", "https://pf.org/d/01",
          "https://pf.org/d/02"))
      val (_, p2) = get(srv.port, s"/cdx/$pfx?matchType=prefix&limit=3" +
        s"&resume=${enc(lines(p1).last)}")
      assert(keys(p2) ===
        Seq("https://pf.org/d/03", "https://pf.org/d/04",
          "https://pf.org/d/05"))
      // Takedown scrub composes: the banned key's line vanishes from
      // the served page while the cluster still holds it (the page may
      // come back SHORT — scrub runs after the limit, privacy-safe
      // direction).
      Takedown.request(td,
        Seq(("https://pf.org/d/04", "dmca")).toDF("key", "reason"))
      val (_, p2b) = get(srv.port, s"/cdx/$pfx?matchType=prefix&limit=3" +
        s"&resume=${enc(lines(p1).last)}")
      assert(keys(p2b) ===
        Seq("https://pf.org/d/03", "https://pf.org/d/05"))
      // Exact-match route unchanged by the new params.
      val (_, one) = get(srv.port, s"/cdx/${enc("https://pf.org/d/06")}")
      assert(one.contains("/d/06 ") && !one.contains("/d/07"))
      // Line options compose on the route: filter narrows the page
      // (whole-field regex), collapse keeps the first of adjacent
      // runs (urlkey:18 groups every d/0N under one 18-char prefix).
      val (_, filt) = get(srv.port, s"/cdx/$pfx?matchType=prefix" +
        s"&filter=${enc("urlkey:.*d/0[0-3]")}")
      assert(keys(filt) ===
        (0 to 3).map(i => f"https://pf.org/d/$i%02d"))
      val (_, coll) = get(srv.port, s"/cdx/$pfx?matchType=prefix" +
        s"&collapse=${enc("urlkey:18")}")
      assert(keys(coll) === Seq("https://pf.org/d/00"))
      // CONTINUE-SCAN (review r17 session pass): limit=2 pages whose
      // raw lines all fail the filter must keep scanning server-side
      // — the old behavior returned the first empty page, which is
      // the client's termination signal, silently losing d/07.
      val (_, deep) = get(srv.port, s"/cdx/$pfx?matchType=prefix" +
        s"&limit=2&filter=${enc("urlkey:.*d/07")}")
      assert(keys(deep) === Seq("https://pf.org/d/07"))
      // A filter matching nothing terminates by range exhaustion with
      // a correct empty answer (not an error).
      val (sNone, none) = get(srv.port, s"/cdx/$pfx?matchType=prefix" +
        s"&limit=2&filter=${enc("urlkey:.*d/99")}")
      assert(sNone === 200 && none === "[]")
      // SCRUB BEFORE COLLAPSE (review r17 session pass): ban the
      // collapse run's HEAD — the served representative must be the
      // first SURVIVING line, not nothing (the old collapse-then-
      // scrub order elected the victim as representative and then
      // removed it, hiding the run's live captures).
      Takedown.request(td,
        Seq(("https://pf.org/d/00", "dmca")).toDF("key", "reason"))
      val (_, coll2) = get(srv.port, s"/cdx/$pfx?matchType=prefix" +
        s"&collapse=${enc("urlkey:18")}")
      assert(keys(coll2) === Seq("https://pf.org/d/01"))
    } finally srv.stop()
  }

  test("/replay serves the closest capture's archived body; takedown 404s") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.types._
    import graft.store.{ParquetStore, Takedown}
    import graft.sources.Warc
    val base = java.nio.file.Files.createTempDirectory("graft_http_rp")
    val rows = (Seq(
      ("g0", "https://w.org/page", "2024-01-01T00:00:00Z", "OLD BODY"),
      ("g1", "https://w.org/page", "2024-06-01T00:00:00Z", "NEW BODY"),
      ("g0", "https://w.org/bad", "2024-01-01T00:00:00Z", "banned")))
      .map { case (g, u, d, b) =>
        (g, u, d, "text/html", b.getBytes("UTF-8"))
      }.toDF("file_group", "url", "warc_date", "content_type", "body")
    val files = Warc.encodeResponses(rows, withCdx = true)
      .localCheckpoint(true)
    val arch = s"$base/arch"
    Warc.writeFiles(files, arch)
    val znDir = s"$base/zn"
    Warc.writeZipnum(files, znDir, shards = 1, blockLines = 2)
    val store = new ParquetStore(spark, StructType(Seq(
      StructField("doc_key", StringType))), s"$base/docs",
      tableName = "http_rp_docs")
    val td = Takedown.takedownStore(spark, s"$base/td",
      tableName = "http_rp_list")
    val srv = new StoreHttpServer(store,
      takedown = Some((td, "doc_key")),
      cdxCluster = Some(znDir), cdxArchives = Some(arch)).start()
    try {
      // `*` = latest capture; the raw body serves with the recorded
      // mime and the archive metadata on X- headers.
      val conn = new java.net.URL(
        s"http://localhost:${srv.port}/replay/*/" +
          enc("https://w.org/page"))
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 200)
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body === "NEW BODY")
      assert(conn.getContentType === "text/html")
      assert(conn.getHeaderField("X-Archive-Status") === "200")
      assert(conn.getHeaderField("X-Archive-Timestamp") ===
        "20240601000000")
      // Closest-match timestamp picks the January capture.
      val (s2, old) = get(srv.port,
        s"/replay/20240105000000/${enc("https://w.org/page")}")
      assert(s2 === 200 && old === "OLD BODY")
      // Miss → 404.
      val (s3, _) = get(srv.port, s"/replay/*/${enc("https://zz.org/")}")
      assert(s3 === 404)
      // Takedown composes: the banned URL 404s while the cluster and
      // archive still hold it.
      val (sPre, pre) = get(srv.port,
        s"/replay/*/${enc("https://w.org/bad")}")
      assert(sPre === 200 && pre === "banned")
      Takedown.request(td,
        Seq(("https://w.org/bad", "dmca")).toDF("key", "reason"))
      val (sPost, _) = get(srv.port,
        s"/replay/*/${enc("https://w.org/bad")}")
      assert(sPost === 404)
    } finally srv.stop()
  }

  // ---- kept answers: every read answered once per store state --------

  private val keptSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_key", StringType), StructField("n", LongType)))
  }

  private def docs(rows: (String, Long)*) = {
    val sparkSession = spark
    import sparkSession.implicits._
    rows.toDF("doc_key", "n")
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_http_kept").toString

  /** Both deployments, each opened empty under a table name. */
  private val deployments: Seq[(String, String => graft.store.GenerationStore)] = Seq(
    "RecentStore" -> (t => new graft.store.RecentStore(spark, keptSchema, t, cleanFreq = 1000L)),
    "ParquetStore" -> (t => new graft.store.ParquetStore(spark, keptSchema, tmpDir(), t,
      cleanFreq = 1000L)))

  for ((kind, open) <- deployments) {
    val t = s"kept_${kind.toLowerCase}"

    test(s"$kind: a repeated read is served from its kept body with no Spark job, until the next append") {
      val store = open(s"${t}_rep")
      store.append(docs("https://a.org/1" -> 1L))
      val srv = new StoreHttpServer(store).start()
      try {
        val total = s"/c/${enc(s"SELECT SUM(n) AS n FROM ${t}_rep")}"
        val reads = Seq(total, s"/cs/${enc(s"SELECT n FROM ${t}_rep")}",
          s"/c/${enc("""{"n": ["lte", 0]}""")}/EOE", "/a/*", s"/a/${t}_rep",
          "/rv/1", "/dv/1", "/sr/n/0:100")
        val first = reads.map(get(srv.port, _))
        assert(first.forall(_._1 == 200), first)
        assert(first.head._2 === """[{"n":1}]""")
        val hits = srv.keptHits.get
        assert(jobsDuring { assert(reads.map(get(srv.port, _)) === first) } === 0)
        assert(srv.keptHits.get - hits === reads.size.toLong)
        store.append(docs("https://a.org/2" -> 2L))
        // Concurrent requests at the new state: one computes, the others
        // wait and take its body.
        val misses = srv.keptMisses.get
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.global
        val got = Await.result(Future.sequence((1 to 4).map(_ => Future(get(srv.port, total)))),
          scala.concurrent.duration.Duration(60, "s"))
        assert(got === Seq.fill(4)((200, """[{"n":3}]""")))
        assert(srv.keptMisses.get - misses === 1L)
        assert(get(srv.port, "/rv/1")._2.contains("https://a.org/2"))
        assert(get(srv.port, "/a/*")._2.contains("https://a.org/2"))
        assert(get(srv.port, "/dv/2")._2.contains("https://a.org/2"))
        // The new state's answers are kept in turn.
        assert(jobsDuring { assert(get(srv.port, total)._2 === """[{"n":3}]""") } === 0)
        // /rst is never kept.
        assert(get(srv.port, "/rst") === ((200, "3")))
      } finally srv.stop()
    }

    test(s"$kind: nondeterministic, time-dependent and other-store SQL is recomputed on every request") {
      val store = open(s"${t}_nd")
      store.append(docs("https://a.org/1" -> 1L))
      val other = open(s"${t}_nd_other")
      other.append(docs("https://b.org/1" -> 5L))
      val srv = new StoreHttpServer(store).start()
      try {
        val rnd = s"/c/${enc(s"SELECT n, rand() AS r FROM ${t}_nd")}"
        assert(get(srv.port, rnd)._2 !== get(srv.port, rnd)._2)
        val now = s"/c/${enc(s"SELECT n, current_timestamp() AS ts FROM ${t}_nd")}"
        val n1 = get(srv.port, now)._2
        Thread.sleep(5)
        assert(n1 !== get(srv.port, now)._2)
        val oth = s"/c/${enc(s"SELECT SUM(n) AS n FROM ${t}_nd_other")}"
        assert(get(srv.port, oth)._2 === """[{"n":5}]""")
        // Another store's append does not move this server's store state.
        other.append(docs("https://b.org/2" -> 6L))
        assert(get(srv.port, oth)._2 === """[{"n":11}]""")
        assert(srv.notKept("nondeterministic").get === 2L)
        assert(srv.notKept("current_like").get === 2L)
        assert(srv.notKept("relation").get === 2L)
        assert(srv.keptHits.get === 0L)
      } finally srv.stop()
    }

    test(s"$kind: /c serves read-only queries only: commands and reflection are refused and change nothing") {
      val store = open(s"${t}_cmd")
      store.append(docs("https://a.org/1" -> 1L))
      val srv = new StoreHttpServer(store, avroSchema = Some(
        """{"type": "record", "name": "N", "fields": [{"name": "n", "type": ["long", "null"]}]}""")).start()
      val conf = "graft.kept.spec"
      val prop = s"graft.reflect.${t}"
      try {
        val q = s"/c/${enc(s"SELECT SUM(n) AS n FROM ${t}_cmd")}"
        assert(get(srv.port, q) === ((200, """[{"n":1}]""")))
        // A trailing ';' is not part of the query.
        assert(get(srv.port, s"/c/${enc(s"SELECT SUM(n) AS n FROM ${t}_cmd ; ")}") ===
          ((200, """[{"n":1}]""")))
        val commands = Seq(s"SET $conf=1", s"RESET $conf", s"DROP VIEW ${t}_cmd",
          s"CREATE OR REPLACE TEMP VIEW ${t}_cmd AS SELECT 1 AS n", s"CACHE TABLE ${t}_cmd",
          s"INSERT INTO ${t}_cmd VALUES ('https://a.org/9', 9, 9)", s"EXPLAIN SELECT n FROM ${t}_cmd",
          "CALL system.noop()", s"EXECUTE IMMEDIATE 'DROP VIEW ${t}_cmd'",
          s"SELECT 1; DROP VIEW ${t}_cmd")
        val refused = commands.map(c => s"/c/${enc(c)}") :+ s"/cs/${enc(s"DROP VIEW ${t}_cmd")}"
        refused.foreach { path =>
          val (code, body) = get(srv.port, path)
          assert(code === 400 && body.contains("only read-only queries are served"), s"$path: $body")
        }
        // Queries that reach past the store: JVM methods by reflection, a
        // TRANSFORM script, files read by path (the store's own too); in
        // the select list, a subquery or an IDENTIFIER.
        val dir = tmpDir()
        val touched = new java.io.File(dir, "touched")
        val file = java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, "f.txt"), "secret\n").toUri
        val reflective = Seq(
          s"SELECT reflect('java.lang.System', 'setProperty', '$prop', '1') AS r" -> "reflect",
          s"SELECT n FROM ${t}_cmd WHERE n IN (SELECT java_method('java.lang.System', " +
            s"'setProperty', '$prop', '1') AS r)" -> "reflect",
          s"SELECT try_reflect('java.lang.System', 'setProperty', '$prop', '1') AS r FROM ${t}_cmd" ->
            "reflect",
          s"SELECT TRANSFORM(n) USING 'touch $touched' AS (x) FROM ${t}_cmd" -> "TRANSFORM",
          s"SELECT value FROM text.`$file`" -> "by path",
          s"SELECT * FROM IDENTIFIER('text.`$file`')" -> "by path",
          s"SELECT n FROM ${t}_cmd WHERE EXISTS (SELECT value FROM text.`$file`)" -> "by path") ++
          store.selectAll.inputFiles.take(1).map(f => s"SELECT * FROM parquet.`$f`" -> "by path")
        reflective.foreach { case (sql, why) =>
          val (code, body) = get(srv.port, s"/c/${enc(sql)}")
          assert(code === 400 && body.contains(why) && !body.contains("secret"), s"$sql: $body")
        }
        assert(kind == "RecentStore" || reflective.size == 8)
        assert(get(srv.port, s"/a/${enc(s"text`.`$file")}")._1 === 400)
        assert(System.getProperty(prop) === null)
        assert(!touched.exists)
        assert(spark.conf.getOption(conf) === None)
        assert(spark.catalog.tableExists(s"${t}_cmd"))
        assert(!spark.catalog.isCached(s"${t}_cmd"))
        assert(jobsDuring { assert(get(srv.port, q) === ((200, """[{"n":1}]"""))) } === 0)
        assert(srv.notKept("error").get === (refused.size + reflective.size + 1).toLong)
        val (code, body) = get(srv.port, s"/c/${enc(s"SELECT nope FROM ${t}_cmd")}")
        assert(code === 400, body)
        assert(srv.notKept("error").get === (refused.size + reflective.size + 2).toLong)
      } finally { srv.stop(); System.clearProperty(prop) }
    }

    test(s"$kind: under takedown a newly withdrawn URL is masked on the next request of a kept query") {
      val store = open(s"${t}_td")
      store.append(docs("https://a.org/1" -> 10L, "https://a.org/2" -> 20L))
      val td = graft.store.Takedown.takedownStore(spark, tmpDir(), tableName = s"${t}_td_list")
      val srv = new StoreHttpServer(store, takedown = Some((td, "doc_key"))).start()
      try {
        // The r15 alias case: SQL plans over the scrubbed rows, so an
        // alias over the key cannot smuggle a banned row out.
        val sum = s"/c/${enc(s"SELECT SUM(n) AS total FROM ${t}_td")}"
        spark.sql(s"CREATE TEMP VIEW ${t}_td_v AS SELECT * FROM ${t}_td")
        val kept = (s"SELECT doc_key AS k, n FROM ${t}_td" +: readOnce(s"${t}_td", s"${t}_td_v"))
          .map(q => s"/c/${enc(q)}") ++ Seq("/a/*", "/rv/5", s"/c/${enc("""{"n": ["lte", 0]}""")}/EOE")
        val rows = kept ++ readTwice(s"${t}_td").map(q => s"/c/${enc(q)}")
        assert(get(srv.port, sum) === ((200, """[{"total":30}]""")))
        rows.map(get(srv.port, _)).foreach { case (code, body) =>
          assert(code === 200 && body.contains("https://a.org/1"), body)
        }
        val before = kept.map(get(srv.port, _))
        assert(jobsDuring {
          assert(kept.map(get(srv.port, _)) === before)
          assert(get(srv.port, sum)._2 === """[{"total":30}]""")
        } === 0)
        val sparkSession = spark
        import sparkSession.implicits._
        graft.store.Takedown.request(td, Seq(("https://a.org/1", "dmca")).toDF("key", "reason"))
        rows.map(get(srv.port, _)).foreach { case (code, body) =>
          assert(code === 200 && !body.contains("https://a.org/1") &&
            body.contains("https://a.org/2"), body)
        }
        assert(get(srv.port, sum) === ((200, """[{"total":20}]""")))
        // No store lock: a takedown SQL request answers while another
        // thread holds the store's monitor, as an append does.
        import java.util.concurrent.{CountDownLatch, TimeUnit}
        val held, answered = new CountDownLatch(1)
        val inTime = new java.util.concurrent.atomic.AtomicBoolean
        val holder = new Thread(() => store.synchronized {
          held.countDown()
          inTime.set(answered.await(30, TimeUnit.SECONDS))
        })
        holder.start()
        held.await()
        val whileHeld = get(srv.port, s"/c/${enc(s"SELECT n FROM ${t}_td ORDER BY n")}")
        answered.countDown()
        holder.join()
        assert(inTime.get, "the request waited for the store's monitor")
        assert(whileHeld === ((200, """[{"n":20}]""")))
      } finally srv.stop()
    }

    test(s"$kind: small answers are not held back by delayed ACK") {
      val store = open(s"${t}_ack")
      store.append(docs("https://a.org/1" -> 1L))
      val srv = new StoreHttpServer(store).start()
      // One client, requests one after another: every request rides the
      // same keep-alive connection.
      val one = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      def medianMs(path: String, expected: String): Double = {
        val ms = (1 to 30).map { _ =>
          val t0 = System.nanoTime()
          val resp = one.send(
            HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          val took = (System.nanoTime() - t0) / 1e6
          assert((resp.statusCode(), resp.body()) === ((200, expected)))
          took
        }.sorted
        ms(ms.size / 2)
      }
      try {
        val total = s"/c/${enc(s"SELECT SUM(n) AS n FROM ${t}_ack")}"
        assert(get(srv.port, total) === ((200, """[{"n":1}]""")))
        val hits = srv.keptHits.get
        // With Nagle on, each answer waits ~40 ms for the client's
        // delayed ACK of the headers.
        val rst = medianMs("/rst", store.currentRstId.toString)
        val kept = medianMs(total, """[{"n":1}]""")
        assert(srv.keptHits.get - hits === 30L)
        assert(rst < 10.0 && kept < 10.0, s"median /rst $rst ms, kept /c $kept ms")
      } finally srv.stop()
      // A value set before a server is built is the deployer's and stays.
      val key = StoreHttpServer.NoDelay
      val was = System.getProperty(key)
      try {
        System.setProperty(key, "false")
        new StoreHttpServer(store).start().stop()
        StoreHttpServer.defaultNoDelay()
        assert(System.getProperty(key) === "false")
        System.clearProperty(key)
        StoreHttpServer.defaultNoDelay()
        assert(System.getProperty(key) === "true")
      } finally if (was == null) System.clearProperty(key) else System.setProperty(key, was)
    }
  }

  test("ParquetStore: a commit through a second handle changes the next answer") {
    import graft.store.ParquetStore
    val path = tmpDir()
    val served = new ParquetStore(spark, keptSchema, path, "kept_second", cleanFreq = 1000L)
    served.append(docs("https://a.org/1" -> 1L))
    val srv = new StoreHttpServer(served).start()
    try {
      val reads = Seq("/a/*", s"/c/${enc("SELECT SUM(n) AS n FROM kept_second")}", "/dv/2")
      val before = reads.map(get(srv.port, _))
      assert(before === Seq((200, before.head._2), (200, """[{"n":1}]"""), (200, "[]")))
      assert(jobsDuring { assert(reads.map(get(srv.port, _)) === before) } === 0)
      // Same path and table name: the other handle's commit re-registers
      // the view; the served handle's counter does not move.
      val writer = new ParquetStore(spark, keptSchema, path, "kept_second", cleanFreq = 1000L)
      writer.append(docs("https://a.org/2" -> 2L))
      val after = reads.map(get(srv.port, _))
      assert(after(0)._2.contains("https://a.org/2"))
      assert(after(1) === ((200, """[{"n":3}]""")))
      assert(after(2)._2.contains("https://a.org/2"))
      assert(get(srv.port, "/rst") === ((200, "2")))
    } finally srv.stop()
  }
}
