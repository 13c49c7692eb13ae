package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat_ws, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.config.{BucketType, MsgSettings}
import graft.serve.StoreHttpServer
import graft.store.{GenerationStore, ParquetStore, RecentStore}
import graft.streaming.StreamShell

/** One workload: how the assembly is built and how it is loaded. Every
  * set-up pre-fills `prefillGens` generations of `prefillRows` rows through
  * a no-wait trigger. */
final case class Workload(name: String, durable: Boolean, keyUid: Boolean,
                          lateShare: Double, rate: Int, triggerMs: Long,
                          prefillGens: Int, prefillRows: Int, serveClients: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    // The paper's deployment: RecentStore, few keys; decode and the fixed
    // per-trigger cost do the work, store writes are tiny.
    Workload("ingest_fewkeys", durable = false, keyUid = false, lateShare = 0.0,
      rate = 6000, triggerMs = 1000, prefillGens = 0, prefillRows = 0, serveClients = 0),
    // Reads beside light writes over a durable store pre-filled through the
    // stream (each set-up adds prefillGens generations). A 2 s trigger keeps
    // ingest light: at 1 s (a ParquetStore append costs ~0.5 s whatever its
    // size) most requests overlapped a trigger and the serve figures swung
    // by a third between runs.
    Workload("serve_mixed", durable = true, keyUid = true, lateShare = 0.05,
      rate = 2000, triggerMs = 2000, prefillGens = 2, prefillRows = 5000, serveClients = 2))
}

object Main {
  val Table = "bench_counts"
  val BucketSec = 60
  val ChunkMs = 50
  val BurstRows = 300000
  /** Catch-up bursts per run. The first warms the large-batch path (it
    * ran 20–40% slower than the rest); `catchup_rows_per_s` is the median
    * of the others. */
  val Bursts = 4
  /** Set-ups per run; `setup_s` is their median. The last one is measured. */
  val Setups = 5
  val DeadlineNs = 60L * 1000000000L

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.all.find(_.name == a("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val work = a("work")
    val tracer = new Tracer(a("trace") == "1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // The harness confs graft.Bench runs under.
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      // Scratch space stays inside the benchmark's work directory.
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.listenerManager.register(tracer.qeListener)
    spark.streams.addListener(tracer.streamListener)
    if (tracer.on) spark.sparkContext.addSparkListener(tracer.sparkListener)
    val result =
      try new Run(spark, w, a("seconds").toInt, a("seed").toLong, work, tracer).execute()
      finally spark.stop()
    val f = new java.io.PrintWriter(a("out"), "UTF-8")
    try f.println(result) finally f.close()
  }
}

/** One offered chunk as it was offered. */
final case class Offered(chunk: Chunk, dueNs: Long, offeredNs: Long)

/** A streaming query attached to the store, with the chunks it was fed. */
final class Feed(val stream: MemoryStream[(String, String)], val firstRst: Long) {
  var query: StreamingQuery = _
  val chunkAt = mutable.Map.empty[Long, Chunk]
  var rows = 0L
  var malformed = 0L
  def offer(c: Chunk): Unit = {
    val off = stream.addData(c.take().toSeq).json().toLong
    chunkAt(off) = c
    rows += c.rows
    malformed += c.malformed
  }
}

/** Polls `/rst`, then confirms each new generation through
  * `/c/SELECT COUNT(*) … WHERE rst_id = g`: the generation is visible when
  * that returns its rows. The counter moves before the view is
  * re-registered, so the two times are kept apart. */
final class Poller(http: Http, fromGen: Long, json: ObjectMapper) extends Thread("poller") {
  @volatile var running = true
  val rstSeen = new ConcurrentHashMap[Long, Long]()
  val visibleAt = new ConcurrentHashMap[Long, Long]()
  val reqs = new ConcurrentLinkedQueue[Req]()
  setDaemon(true)

  override def run(): Unit = {
    var next = fromGen
    while (running) {
      val (r, body) = http.get("rst", "/rst", "", Http.isLong)
      reqs.add(r)
      if (r.ok) {
        val committedBelow = body.trim.toLong
        while (running && next < committedBelow) {
          rstSeen.putIfAbsent(next, r.endNs)
          val (rv, vis) = Run.visible(http, next, json)
          reqs.add(rv)
          if (vis) {
            visibleAt.put(next, rv.endNs)
            next += 1
          }
        }
      }
    }
  }
}

/** A closed-loop client walking a fixed cyclic route schedule. */
final class ServeClient(http: Http, routes: IndexedSeq[(String, String, String)],
                        untilNs: Long, json: ObjectMapper) extends Thread("client") {
  val reqs = ArrayBuffer.empty[Req]
  setDaemon(true)
  override def run(): Unit = {
    var i = 0
    while (System.nanoTime() < untilNs) {
      reqs += Run.request(http, routes(i % routes.size), json)
      i += 1
    }
  }
}

object Run {
  def parses(json: ObjectMapper)(body: String): Boolean =
    try json.readTree(body).isArray catch { case _: Exception => false }

  /** One request of the serve cycle: (class, path, store detail). */
  def request(http: Http, route: (String, String, String), json: ObjectMapper): Req = {
    val (cls, path, detail) = route
    val check: String => Boolean = if (cls == "rst") Http.isLong else parses(json)
    http.get(cls, path, detail, check)._1
  }

  /** Whether generation `g`'s rows are visible through
    * `/c/SELECT COUNT(*) … WHERE rst_id = g`. */
  def visible(http: Http, g: Long, json: ObjectMapper): (Req, Boolean) = {
    val q = s"SELECT COUNT(*) AS n FROM ${Main.Table} WHERE rst_id = $g"
    val (r, b) = http.get("fresh", "/c/" + Http.enc(q), q, parses(json))
    (r, r.ok && json.readTree(b).get(0).get("n").asLong() > 0)
  }

  def parkUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) { LockSupport.parkNanos(d); d = ns - System.nanoTime() }
  }

  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

final class Run(spark: SparkSession, w: Workload, seconds: Int, seed: Long,
                work: String, tr: Tracer) {
  import Main._
  import Run._

  private val json = new ObjectMapper()
  private val keys = Seq("server", "topic") ++ (if (w.keyUid) Seq("uid") else Nil)
  private val msg = MsgSettings(bucketInterval = BucketSec, bucketField = "timestamp",
    bucketType = BucketType.Epoch, msgMapSchema = keys.map(k => k -> k))
  private val schema = StructType(keys.map(StructField(_, StringType)) ++ Seq(
    StructField("bucket_start", LongType), StructField("bucket_end", LongType),
    StructField("count", LongType)))
  private val gen = new Gen(seed, w.keyUid, w.lateShare, BucketSec)
  private val encoder = Encoders.tuple(Encoders.STRING, Encoders.STRING)
  private val errors = ArrayBuffer.empty[String]

  /** Store, server and the queries feeding them: one set-up. */
  final class Asm(val store: GenerationStore, val dir: Option[String]) {
    val served: GenerationStore = if (tr.on) new TracedStore(store, tr) else store
    val server: StoreHttpServer = new StoreHttpServer(served).start()
    val http = new Http(server.port, "main")
    val feeds = ArrayBuffer.empty[Feed]

    /** Attach a query; `first` is in the stream before it starts, so its
      * first trigger, which runs at once, takes it. */
    def attach(trigger: Trigger, first: Seq[Chunk] = Nil): Feed = {
      // One partition per core, like a topic with that many partitions:
      // without it every offered chunk is its own partition and the burst
      // decodes on one core.
      val f = new Feed(MemoryStream[(String, String)](spark,
        Runtime.getRuntime.availableProcessors())(encoder), store.currentRstId)
      first.foreach(f.offer)
      f.query = StreamShell.attach(f.stream.toDF().toDF("key", "value"), msg, served,
        trigger = Some(trigger))
      feeds += f
      f
    }

    /** Block until every offered chunk is committed and its newest
      * generation is visible over HTTP. */
    def drain(f: Feed): Unit = {
      f.query.processAllAvailable()
      val g = store.currentRstId - 1
      val deadline = System.nanoTime() + DeadlineNs
      while (!Run.visible(http, g, json)._2) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"generation $g never visible")
        Thread.sleep(5)
      }
    }

    def stop(): Unit = {
      feeds.foreach(_.query.stop())
      server.stop()
    }
  }

  /** A durable store is reopened on the same directory by every set-up (a
    * restart: the counter restores from disk); an in-memory one starts
    * empty. */
  private def newStore(): (GenerationStore, Option[String]) =
    if (w.durable) {
      val dir = s"$work/store"
      // Shipped defaults: autoCompactFiles 8, clean_interval 100, clean_freq 10.
      (new ParquetStore(spark, schema, dir, tableName = Table), Some(dir))
    } else {
      // Exactly as StreamShell.runWithSource builds it.
      (new RecentStore(spark, schema, tableName = Table, cleanInterval = 100,
        cleanFreq = 10, materializeEvery = math.max(math.min(10, 64), 1)), None)
    }

  /** Offer `chunks` on their schedule (open loop), relative to `t0`. */
  private def offerOnSchedule(f: Feed, chunks: Seq[Chunk], t0: Long): Seq[Offered] =
    chunks.map { c =>
      parkUntil(t0 + c.dueNs)
      val now = System.nanoTime()
      f.offer(c)
      Offered(c, t0 + c.dueNs, now)
    }

  /** One set-up: store and server; the pre-fill, if any, through the
    * stream with a no-wait trigger; then the timed query, whose immediate
    * first trigger takes one trigger's worth of load (the warm-up); then
    * one pass of the serve cycle. No step waits for the trigger timer.
    * Returns the assembly, the timed feed and the set-up time. */
  private def setup(): (Asm, Feed, Double) = {
    val t0 = System.nanoTime()
    val (store, dir) = newStore()
    val asm = new Asm(store, dir)
    if (w.prefillGens > 0) {
      val pre = asm.attach(Trigger.ProcessingTime(0L))
      (0 until w.prefillGens).foreach { _ =>
        pre.offer(gen.chunk(w.prefillRows, 0L, w.prefillRows.toDouble / w.rate))
        pre.query.processAllAvailable()
      }
      pre.query.stop()
    }
    val perTrigger = (w.rate * w.triggerMs / 1000).toInt
    val f = asm.attach(Trigger.ProcessingTime(w.triggerMs),
      Seq(gen.chunk(perTrigger, 0L, w.triggerMs / 1000.0)))
    asm.drain(f)
    if (w.serveClients > 0) serveRoutes(f.firstRst).foreach(r => request(asm.http, r, json))
    (asm, f, (System.nanoTime() - t0) / 1e9)
  }

  /** The serve clients' fixed cyclic route schedule: (class, path, the
    * SQL text or comparator JSON the route hands the store). */
  private def serveRoutes(firstGen: Long): IndexedSeq[(String, String, String)] = {
    val lo = Math.floorDiv(gen.baseEpoch - 300, BucketSec.toLong) * BucketSec
    val totals = s"SELECT server, topic, SUM(count) AS n FROM $Table " +
      "GROUP BY server, topic ORDER BY n DESC, server, topic LIMIT 20"
    val perBucket = s"SELECT bucket_start, SUM(count) AS n FROM $Table " +
      "GROUP BY bucket_start ORDER BY bucket_start"
    val cmp = """{"uid":["range","u0000000","u0000999"]}"""
    IndexedSeq(
      ("sql_totals", "/c/" + Http.enc(totals), totals),
      ("sql_bucket", "/c/" + Http.enc(perBucket), perBucket),
      ("recent", "/rv/2", ""),
      ("direct", s"/dv/$firstGen", ""),
      ("range", s"/sr/bucket_start/$lo:${lo + BucketSec}", ""),
      ("cmp", "/c/" + Http.enc(cmp) + "/EOE", cmp),
      ("rst", "/rst", ""))
  }

  def execute(): String = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseT = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - phaseT) / 1e9
      phaseT = now
    }
    var coldS = 0.0
    val setups = (1 to Setups).map { k =>
      val s = setup()
      if (k == 1) coldS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      if (k < Setups) s._1.stop()
      s
    }
    val setupS = median(setups.map(_._3))
    val (asm, feed, _) = setups.last
    val windowChunks = gen.schedule(w.rate, seconds, ChunkMs)

    phase("setups")
    // ---- measured window ----
    val poller = new Poller(new Http(asm.server.port, "poller"), asm.store.currentRstId, json)
    poller.start()
    val t0 = System.nanoTime() + 20000000L
    val tEnd = t0 + seconds * 1000000000L
    // Each client walks the same cycle from its own starting route.
    val routes = serveRoutes(setups.head._2.firstRst)
    val clients = (0 until w.serveClients).map { i =>
      val first = i * routes.size / w.serveClients
      new ServeClient(new Http(asm.server.port, s"client$i"), routes.drop(first) ++ routes.take(first),
        tEnd, json)
    }
    parkUntil(t0)
    clients.foreach(_.start())
    val offered = offerOnSchedule(feed, windowChunks, t0)
    parkUntil(tEnd)
    clients.foreach(_.join())
    feed.query.processAllAvailable()
    val lastWindowGen = asm.store.currentRstId - 1
    waitVisible(poller, lastWindowGen)
    // Live heap once the window's data has landed and no trigger runs.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    phase("window")
    // ---- catch-up bursts, each made first and then offered 500 ms
    // before a trigger boundary ----
    val bursts = (1 to Bursts).map { _ =>
      val burst = gen.chunk(BurstRows, 0L, BurstRows.toDouble / w.rate)
      val nowMs = System.currentTimeMillis()
      var boundary = (nowMs / w.triggerMs + 1) * w.triggerMs
      if (boundary - nowMs < 600) boundary += w.triggerMs
      Thread.sleep(boundary - 500 - System.currentTimeMillis())
      val burstT0 = System.nanoTime()
      feed.offer(burst)
      val offerMs = (System.nanoTime() - burstT0) / 1e6
      feed.query.processAllAvailable()
      val burstGen = asm.store.currentRstId - 1
      waitVisible(poller, burstGen)
      (BurstRows / ((poller.visibleAt.get(burstGen) - burstT0) / 1e9), offerMs)
    }
    poller.running = false
    poller.join()

    phase("bursts")
    // ---- correctness gate ----
    asm.feeds.foreach(_.query.stop())
    val allFeeds = setups.flatMap(_._1.feeds)
    val batches = batchRanges(if (w.durable) allFeeds else asm.feeds.toSeq)
    gate(asm, batches)
    checkDecode(allFeeds.map(_.rows).sum, allFeeds.map(_.malformed).sum)

    phase("gate")
    // ---- end-to-end metrics ----
    val genOfChunk: Map[Int, Long] = batches.iterator.flatMap { case (rst, chunks) =>
      chunks.iterator.map(_.id -> rst)
    }.toMap
    val fresh = offered.flatMap { o =>
      genOfChunk.get(o.chunk.id).flatMap(g => Option(poller.visibleAt.get(g)))
        .map(v => (v - o.dueNs) / 1e6)
    }
    val notVisible = offered.size - fresh.size
    if (notVisible > 0) errors += s"$notVisible window chunks never became visible"
    val pollReqs = poller.reqs.asScala.toSeq
    val clientReqs = clients.flatMap(_.reqs).filter(_.startNs < tEnd)
    // Without serve clients, the freshness poller is the workload's only
    // closed-loop client: serve_* then measure its /rst + /c cycle.
    val serveReqs = (if (clients.nonEmpty) clientReqs
                     else pollReqs.filter(r => r.startNs >= t0 && r.startNs < tEnd))
    val badReqs = (pollReqs ++ clientReqs).count(!_.ok)
    if (badReqs > 0) errors += s"$badReqs requests failed"
    val serveOkMs = serveReqs.filter(_.ok).map(_.ms)
    val attempted = offered.size + pollReqs.size + clientReqs.size
    val failed = notVisible + badReqs
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("freshness_p50_ms", pct(fresh, 50), "ms"),
      ("freshness_p99_ms", pct(fresh, 99), "ms"),
      ("catchup_rows_per_s", median(bursts.drop(1).map(_._1)), "rows/s"),
      ("serve_p50_ms", pct(serveOkMs, 50), "ms"),
      ("serve_p90_ms", pct(serveOkMs, 90), "ms"),
      ("serve_requests_per_s", serveOkMs.size / ((serveReqs.map(_.endNs).max - t0) / 1e9), "req/s"),
      ("heap_live_mb", heapMb, "MB"))
    val samples = Seq("setups" -> setups.size, "freshness" -> fresh.size,
      "serve" -> serveOkMs.size, "bursts" -> (bursts.size - 1), "burst_rows" -> BurstRows)
    // Outside any layer: failures, and the cold start that setup_s's
    // median leaves out (JVM start → end of the first set-up).
    val runMetrics = Seq(("ops_failed_ratio", failed.toDouble / attempted, "ratio"),
      ("setup.cold_s", coldS, "s"))
    if (tr.on) settle()
    val layers =
      if (!tr.on) Seq.empty
      else new Report(spark, tr, asm.store, asm.dir, feed, offered, poller, clientReqs,
        t0, tEnd, allFeeds.map(_.rows).sum, allFeeds.map(_.malformed).sum, e2e).metrics() ++ runMetrics
    asm.stop()
    phase("report")
    if (tr.on) writeSpans(offered, genOfChunk, pollReqs ++ clientReqs)

    def named(ms: Seq[(String, Double, String)]) =
      ListMap(ms.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u).asJava }: _*).asJava
    json.writeValueAsString(ListMap(
      "correct" -> errors.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.asJava, "setup_each_s" -> setups.map(_._3).asJava,
      "catchup_each_rows_per_s" -> bursts.map(_._1).asJava,
      "burst_offer_ms" -> bursts.map(_._2).asJava, "phase_s" -> phases.asJava,
      "route_p50_ms" -> serveReqs.filter(_.ok).groupBy(_.route)
        .map { case (r, rs) => r -> median(rs.map(_.ms)) }.asJava,
      "samples" -> samples.toMap.asJava,
      "metrics" -> named(e2e), "layers" -> named(layers)).asJava)
  }

  private def waitVisible(p: Poller, g: Long): Unit = {
    val deadline = System.nanoTime() + DeadlineNs
    while (!p.visibleAt.containsKey(g)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"generation $g never visible")
      Thread.sleep(2)
    }
  }

  /** Generation → the chunks its trigger consumed, for every feed of the
    * measured assembly, from the queries' progress reports: batch `b` of a
    * feed appended generation `firstRst + b` and read offsets
    * (startOffset, endOffset]. */
  private def batchRanges(feeds: Seq[Feed]): Seq[(Long, Seq[Chunk])] = {
    val deadline = System.nanoTime() + DeadlineNs
    feeds.flatMap { f =>
      val last = Option(f.query.lastProgress).map(_.batchId).getOrElse(-1L)
      def reports = tr.progress.asScala.map(_.progress).filter(_.id == f.query.id)
        .map(p => p.batchId -> p).toMap
      while (!(0L to last).forall(reports.contains)) {
        if (System.nanoTime() > deadline) throw new IllegalStateException("progress reports missing")
        Thread.sleep(10)
      }
      val rs = reports
      (0L to last).map { b =>
        val src = rs(b).sources.head
        def off(s: String): Long = Option(s).map(_.trim.toLong).getOrElse(-1L)
        val (lo, hi) = (off(src.startOffset), off(src.endOffset))
        (f.firstRst + b, (lo + 1 to hi).flatMap(f.chunkAt.get))
      }
    }
  }

  /** Every retained generation must hold exactly the generator's tally of
    * its trigger's well-formed messages. */
  private def gate(asm: Asm, batches: Seq[(Long, Seq[Chunk])]): Unit = {
    val expected = mutable.HashMap.empty[(Long, String), Long]
    batches.foreach { case (rst, chunks) =>
      chunks.foreach(_.goodKeys.foreach(k => expected((rst, k)) = expected.getOrElse((rst, k), 0L) + 1))
    }
    val counter = asm.store.currentRstId
    val lastBatchRst = batches.map(_._1).maxOption.getOrElse(0L)
    if (counter != lastBatchRst + 1)
      errors += s"store counter $counter does not follow the last trigger's generation $lastBatchRst"
    val retainedFrom = counter - 100 // clean_interval: older generations may be gone
    expected.filterInPlace((k, _) => k._1 >= retainedFrom)
    if (expected.isEmpty) errors += "no generations to check"
    // The store's key in the generator's form, built in Spark.
    val key = concat_ws("|", (keys :+ "bucket_start" :+ "bucket_end").map(col): _*)
    val actual = asm.store.selectAll.where(col("rst_id") >= retainedFrom)
      .groupBy(col("rst_id"), key.as("k")).agg(sum("count")).collect()
    // Matched keys leave `expected`; what is left was never counted.
    val diff = ArrayBuffer.empty[String]
    actual.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      val want = expected.remove(k)
      if (!want.contains(r.getLong(2))) diff += s"$k: expected $want got ${r.getLong(2)}"
    }
    expected.foreach { case (k, n) => diff += s"$k: expected Some($n) got None" }
    if (diff.nonEmpty)
      errors += s"${diff.size} (rst_id, key, bucket) counts differ from the generator's tally, " +
        s"e.g. ${diff.take(3).mkString("; ")}"
  }

  /** Decode must have read every offered row and dropped exactly the
    * malformed ones. The counters arrive on the listener bus. */
  private def checkDecode(offeredRows: Long, malformedRows: Long): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (tr.decodeIn.get() < offeredRows && System.nanoTime() < deadline) Thread.sleep(10)
    if (tr.decodeIn.get() != offeredRows)
      errors += s"Decode.rows_in ${tr.decodeIn.get()} != offered $offeredRows"
    if (tr.decodeDropped.get() != malformedRows)
      errors += s"Decode.rows_dropped ${tr.decodeDropped.get()} != gen.malformed_rows $malformedRows"
  }

  /** Wait until the listener bus has delivered the run's job events. */
  private def settle(): Unit = {
    var last = -1
    while (tr.jobs.size != last) { last = tr.jobs.size; Thread.sleep(300) }
  }

  /** The trace, one JSON object per line: offered chunks (with the
    * generation that counted them), client requests, store spans, Spark
    * jobs (parent = the span whose thread submitted them, trace =
    * query/batch) and executed plans. */
  private def writeSpans(offered: Seq[Offered], genOfChunk: Map[Int, Long], reqs: Seq[Req]): Unit = {
    val f = new java.io.PrintWriter(s"$work/spans-${w.name}-$seed.jsonl", "UTF-8")
    def line(kv: (String, Any)*): Unit =
      f.println(json.writeValueAsString(kv.toMap.asJava))
    try {
      offered.foreach { o =>
        line("chunk" -> o.chunk.id, "rows" -> o.chunk.rows, "generation" -> genOfChunk.getOrElse(o.chunk.id, -1L),
          "due_ns" -> o.dueNs, "offered_ns" -> o.offeredNs)
      }
      reqs.foreach { r =>
        line("request" -> r.route, "client" -> r.client, "status" -> r.status, "bytes" -> r.bytes,
          "start_ns" -> r.startNs, "end_ns" -> r.endNs)
      }
      tr.spanList.foreach { s =>
        line("span" -> s.id, "name" -> s.name, "detail" -> s.detail, "trace" -> s.trace,
          "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
      }
      tr.jobList.foreach { j =>
        line("job" -> j.id, "parent" -> j.span, "trace" -> s"${j.query}/${j.batch}",
          "desc" -> j.desc, "exec" -> j.execId, "start_ns" -> j.startNs, "end_ns" -> j.endNs)
      }
      tr.qeList.foreach { q =>
        line("exec" -> tr.execOf(q), "func" -> q.func, "decode_in" -> q.decodeIn,
          "partial_rows_out" -> q.partialRowsOut, "final_rows_out" -> q.finalRowsOut,
          "files" -> q.filesWritten, "bytes" -> q.bytesWritten)
      }
    } finally f.close()
  }

}
