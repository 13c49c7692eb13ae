package perfbench

import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.store.GenerationStore
import Run.{median, pct}

/** Per-layer metrics of a traced run, over the measured window's triggers
  * and requests. A layer the workload bypasses reports 0. */
final class Report(spark: SparkSession, tr: Tracer, store: GenerationStore,
                   dir: Option[String], feed: Feed, offered: Seq[Offered],
                   poller: Poller, clientReqs: Seq[Req], t0: Long, tEnd: Long,
                   offeredRows: Long, malformedRows: Long, e2e: Seq[(String, Double, String)]) {

  private type M = (String, Double, String)

  /** Length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total
  }
  private def ms(ns: Long): Double = ns / 1e6
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  private def p(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else pct(xs, q)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private val qid = feed.query.id.toString
  private def startNs(pr: StreamingQueryProgress): Long =
    Clock.fromEpochMs(Instant.parse(pr.timestamp).toEpochMilli)
  private val window: Seq[StreamingQueryProgress] =
    tr.progress.asScala.map(_.progress).filter(_.id == feed.query.id).toSeq
      .filter(pr => startNs(pr) >= t0 && startNs(pr) < tEnd).sortBy(_.batchId)
  private val winIds = window.map(_.batchId).toSet
  private val jobs = tr.jobList
  private val winJobs = jobs.filter(j => j.query == qid && winIds.contains(j.batch))
  private val spans = tr.spanList
  private val appendSpans = spans.filter(s => s.name == "appendStreaming" &&
    window.exists(pr => s.trace == s"$qid/${pr.batchId}"))
  private val jobsBySpan = jobs.groupBy(_.span)
  private def jobsOf(spanId: Long): Seq[JobRec] = jobsBySpan.getOrElse(spanId, Nil)
  private def jobIv(js: Seq[JobRec]): Seq[(Long, Long)] = js.map(j => (j.startNs, j.endNs))
  private val winExec = winJobs.map(_.execId).toSet
  private val decodeQes = tr.qeList.filter(q => q.decodeIn > 0 && winExec.contains(tr.execOf(q)))
  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(id => Option(tr.stages.get(id)))
  /** Stages that read the source and feed the count's shuffle. */
  private val mapStages = stagesOf(winJobs.filterNot(_.desc.endsWith(":compact")))
    .filter(s => s.shuffleWriteRecords > 0 && s.shuffleReadRecords == 0)
  private val triggers = window.size.toDouble

  private def dur(k: String): Seq[Double] =
    window.map(pr => Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))

  def generator: Seq[M] = Seq(
    ("gen.offered_rows", offeredRows.toDouble, "rows"),
    ("gen.malformed_rows", malformedRows.toDouble, "rows"),
    ("gen.late_ms_p99", p(offered.map(o => ms(o.offeredNs - o.dueNs)), 99), "ms"))

  def streamShell: Seq[M] = {
    val trig = dur("triggerExecution")
    val gaps = window.map { pr =>
      val js = winJobs.filter(_.batch == pr.batchId)
      pr.durationMs.get("triggerExecution").doubleValue - ms(covered(jobIv(js)))
    }
    Seq(
      ("StreamShell.triggers", triggers, "count"),
      ("StreamShell.rows_per_trigger_p50", med(window.map(_.numInputRows.toDouble)), "rows"),
      ("StreamShell.trigger_ms_p50", med(trig), "ms"),
      ("StreamShell.trigger_ms_p90", p(trig, 90), "ms"),
      ("StreamShell.addBatch_ms_p50", med(dur("addBatch")), "ms"),
      ("StreamShell.queryPlanning_ms_p50", med(dur("queryPlanning")), "ms"),
      ("StreamShell.walCommit_ms_p50", med(dur("walCommit")), "ms"),
      ("StreamShell.latestOffset_ms_p50", med(dur("latestOffset")), "ms"),
      ("StreamShell.getBatch_ms_p50", med(dur("getBatch")), "ms"),
      ("StreamShell.busy_ratio", trig.sum / ms(tEnd - t0), "ratio"),
      ("StreamShell.jobs_per_trigger", ratio(winJobs.size, triggers), "count"),
      ("StreamShell.driver_gap_ms_per_trigger", ratio(gaps.sum, triggers), "ms"))
  }

  def decodeAndCount: Seq[M] = {
    val rowsIn = decodeQes.map(_.decodeIn).sum.toDouble
    val kept = rowsIn - decodeQes.map(_.decodeDropped).sum
    val partialAgg = decodeQes.map(_.partialAggMs).sum.toDouble
    val finalAgg = decodeQes.map(_.finalAggMs).sum.toDouble
    val mapCpuMs = mapStages.map(_.cpuNs).sum / 1e6
    val groups = decodeQes.map(_.finalRowsOut).sum.toDouble
    Seq(
      ("Decode.rows_in", tr.decodeIn.get.toDouble, "rows"),
      ("Decode.rows_dropped", tr.decodeDropped.get.toDouble, "rows"),
      // Decode and the partial aggregate run fused in one code-generated
      // stage; from outside the program only the stage's CPU is visible.
      ("Decode.cpu_ms_per_krow", ratio(mapCpuMs, rowsIn / 1000), "ms"),
      ("BucketCounts.partial_rows_out", decodeQes.map(_.partialRowsOut).sum.toDouble, "rows"),
      ("BucketCounts.groups_out", groups, "rows"),
      ("BucketCounts.reduction_ratio", ratio(groups, kept), "ratio"),
      ("BucketCounts.agg_ms_per_krow", ratio(partialAgg + finalAgg, kept / 1000), "ms"),
      ("BucketCounts.shuffle_bytes_per_trigger", ratio(mapStages.map(_.shuffleWriteBytes).sum, triggers), "bytes"),
      ("BucketCounts.shuffle_records_per_trigger", ratio(mapStages.map(_.shuffleWriteRecords).sum, triggers), "count"),
      ("BucketCounts.spill_bytes", stagesOf(winJobs).map(_.spillBytes).sum.toDouble, "bytes"))
  }

  private def appendMs = appendSpans.map(_.ms)
  private def appendSelfMs = appendSpans.map(s => s.ms - ms(covered(jobIv(jobsOf(s.id)))))

  def recentStore: Seq[M] = {
    val on = dir.isEmpty
    def v(x: => Double): Double = if (on) x else 0.0
    Seq(
      ("RecentStore.append_ms_p50", v(med(appendMs)), "ms"),
      ("RecentStore.append_self_ms_p50", v(med(appendSelfMs)), "ms"),
      ("RecentStore.checkpoint_jobs", v(appendSpans.map(s => jobsOf(s.id).size).sum.toDouble), "count"),
      ("RecentStore.plan_unions_end", v(Plans.unionLeaves(store.selectAll).toDouble), "count"),
      ("RecentStore.cached_bytes_end",
        v(spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble), "bytes"))
  }

  def parquetStore: Seq[M] = {
    val on = dir.isDefined
    def v(x: => Double): Double = if (on) x else 0.0
    val compactMs = appendSpans.map(s => jobsOf(s.id).filter(_.desc.endsWith(":compact")))
      .filter(_.nonEmpty).map(js => ms(covered(jobIv(js))))
    val writeMs = appendSpans.map(s => ms(covered(jobIv(jobsOf(s.id).filter(_.desc.endsWith(":append"))))))
    val appendExec = appendSpans.flatMap(s => jobsOf(s.id)).map(_.execId).toSet
    val writes = tr.qeList.filter(q => q.filesWritten > 0 && appendExec.contains(tr.execOf(q)))
    lazy val root = new java.io.File(dir.get)
    lazy val gens = Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("rst_id="))
    Seq(
      ("ParquetStore.append_ms_p50", v(med(appendMs)), "ms"),
      ("ParquetStore.append_self_ms_p50", v(med(appendSelfMs)), "ms"),
      ("ParquetStore.write_ms_p50", v(med(writeMs)), "ms"),
      ("ParquetStore.files_per_gen_p50",
        v(med(writes.filter(_.decodeIn > 0).map(_.filesWritten.toDouble))), "count"),
      ("ParquetStore.compactions", v(compactMs.size.toDouble), "count"),
      ("ParquetStore.compact_ms_p50", v(med(compactMs)), "ms"),
      ("ParquetStore.bytes_written", v(writes.map(_.bytesWritten).sum.toDouble), "bytes"),
      ("ParquetStore.generations_end", v(gens.size.toDouble), "count"),
      ("ParquetStore.files_end",
        v(gens.map(g => Option(g.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))).sum.toDouble),
        "count"))
  }

  /** The store call each route makes first, on the server's thread. */
  private def storeCall(route: String): String = route match {
    case "sql_totals" | "sql_bucket" | "fresh" => "sql"
    case "recent" => "recent"
    case "direct" => "directFetch"
    case "range" | "cmp" => "selectAll"
    case _ => "currentRstId"
  }

  def httpServer: Seq[M] = {
    val reqs = (poller.reqs.asScala.toSeq ++ clientReqs)
      .filter(r => r.startNs >= t0 && r.startNs < tEnd).sortBy(_.startNs)
    val httpSpans = spans.filter(_.trace.isEmpty)
    val used = scala.collection.mutable.HashSet.empty[Long]
    // A request's store span starts inside it, on a server thread, with the
    // same call (and SQL text); its jobs carry the span id.
    val matched = reqs.map { r =>
      val call = storeCall(r.route)
      val s = httpSpans.find(s => !used.contains(s.id) && s.name == call &&
        s.startNs >= r.startNs && s.startNs <= r.endNs &&
        (call != "sql" || s.detail == r.detail))
      s.foreach(x => used += x.id)
      (r, s)
    }
    val routes = Seq("sql_totals", "sql_bucket", "recent", "direct", "range", "cmp", "rst", "fresh")
    routes.flatMap { route =>
      val rs = matched.filter(_._1.route == route)
      val exec = rs.map { case (_, s) => s.map(x => ms(covered(jobIv(jobsOf(x.id))))).getOrElse(0.0) }
      val over = rs.zip(exec).map { case ((r, s), e) => r.ms - s.map(_.ms).getOrElse(0.0) - e }
      val pre = s"StoreHttpServer.$route"
      Seq(
        (s"$pre.ms_p50", med(rs.map(_._1.ms)), "ms"),
        (s"$pre.ms_p90", p(rs.map(_._1.ms), 90), "ms"),
        (s"$pre.exec_ms_p50", med(exec), "ms"),
        (s"$pre.overhead_ms_p50", med(over), "ms"),
        (s"$pre.jobs_per_req",
          ratio(rs.map(_._2.map(x => jobsOf(x.id).size).getOrElse(0)).sum, rs.size), "count"),
        (s"$pre.bytes_p50", med(rs.map(_._1.bytes.toDouble)), "bytes"))
    } ++ Seq(
      ("StoreHttpServer.errors", reqs.count(!_.ok).toDouble, "count"),
      ("StoreHttpServer.rst_lead_ms_p50", med(poller.visibleAt.asScala.toSeq.flatMap { case (g, v) =>
        Option(poller.rstSeen.get(g)).filter(s => s >= t0 && s < tEnd).map(s => ms(v - s))
      }), "ms"))
  }

  /** The end-to-end metrics as measured in this traced run; their
    * difference to an untraced run is the tracing overhead. */
  def traced: Seq[M] = e2e.map { case (k, v, u) => (s"traced.$k", v, u) }

  def metrics(): Seq[M] =
    generator ++ streamShell ++ decodeAndCount ++ recentStore ++ parquetStore ++ httpServer ++ traced
}
