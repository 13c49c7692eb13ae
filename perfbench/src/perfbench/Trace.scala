package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.store.GenerationStore

/** Converts Spark listener timestamps (epoch ms) to the `System.nanoTime`
  * scale every benchmark span uses. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - offsetNs
}

/** A timed store call. `trace` is `<query id>/<batch id>` for a call made
  * inside a trigger, empty for a call made by an HTTP request (the report
  * ties those to their request by route, SQL text and time). */
final case class Span(id: Long, name: String, detail: String, trace: String,
                      thread: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(id: Int, startNs: Long, endNs: Long, span: Long,
                        query: String, batch: Long, execId: Long, desc: String,
                        stages: Seq[Int])

final case class StageRec(cpuNs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                          shuffleReadRecords: Long, spillBytes: Long)

/** What one executed query plan reports: decode counters (observed
  * metrics), aggregate and write SQL metrics. */
final case class QeRec(accIds: Seq[Long], func: String, decodeIn: Long, decodeDropped: Long,
                       partialRowsOut: Long, partialAggMs: Long,
                       finalRowsOut: Long, finalAggMs: Long,
                       filesWritten: Long, bytesWritten: Long)

object SpanKey { val Key = "perfbench.span" }

/** Spans, job and stage records, held in memory for the report. Spark
  * listener callbacks arrive on the listener-bus thread, after the fact. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  /** SQL-metric accumulator id → the SQL execution whose plan holds it:
    * how an executed plan is tied to the jobs it ran. */
  val accExec = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val decodeIn = new AtomicLong(0)
  val decodeDropped = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)
  private def longProp(p: java.util.Properties, k: String): Long =
    Option(prop(p, k)).map(_.toLong).getOrElse(-1L)

  /** Job and stage metrics (traced runs only). */
  val sparkListener: SparkListener = new SparkListener {
    private val started = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId, e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = started.remove(e.jobId)
      if (s != null) {
        val p = s.properties
        jobs.put(e.jobId, JobRec(e.jobId, Clock.fromEpochMs(s.time), Clock.fromEpochMs(e.time),
          longProp(p, SpanKey.Key), prop(p, "sql.streaming.queryId"),
          longProp(p, "streaming.sql.batchId"), longProp(p, "spark.sql.execution.id"),
          Option(prop(p, "spark.job.description")).getOrElse(""), s.stageIds))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => index(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => index(u.executionId, u.sparkPlanInfo)
      case _ => ()
    }
    private def index(exec: Long, p: SparkPlanInfo): Unit = {
      p.metrics.foreach(m => accExec.put(m.accumulatorId, exec))
      p.children.foreach(index(exec, _))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageRec(m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Decode counters always (the correctness gate needs them); plan
    * metrics when tracing. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      var in = 0L
      var dropped = 0L
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_decode_")) {
          in += row.getAs[Long]("rows_in")
          dropped += row.getAs[Long]("rows_dropped")
        }
      }
      decodeIn.addAndGet(in)
      decodeDropped.addAndGet(dropped)
      if (on) qes.add(Plans.record(qe, func, in, dropped))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def jobList: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)
  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def qeList: Seq[QeRec] = qes.asScala.toSeq
  /** The SQL execution id of an executed plan, -1 when not seen. */
  def execOf(q: QeRec): Long =
    q.accIds.iterator.flatMap(id => Option(accExec.get(id))).nextOption().getOrElse(-1L)
}

/** Reads SQL metrics out of an executed plan, through adaptive stages and
  * into write commands. */
object Plans extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  def record(qe: QueryExecution, func: String, in: Long, dropped: Long): QeRec = {
    var pRows, pAgg, fRows, fAgg, files, bytes = 0L
    foreach(qe.executedPlan) {
      case h: HashAggregateExec =>
        val modes = h.aggregateExpressions.map(_.mode).toSet
        if (modes.contains(Partial)) { pRows += metric(h, "numOutputRows"); pAgg += metric(h, "aggTime") }
        else if (modes.contains(Final)) { fRows += metric(h, "numOutputRows"); fAgg += metric(h, "aggTime") }
      case w if w.metrics.contains("numFiles") && w.metrics.contains("numOutputBytes") =>
        files += metric(w, "numFiles"); bytes += metric(w, "numOutputBytes")
      case _ => ()
    }
    val accIds = collect(qe.executedPlan) { case n => n.metrics.values.map(_.id) }.flatten
    QeRec(accIds, func, in, dropped, pRows, pAgg, fRows, fAgg, files, bytes)
  }

  /** Leaves of the store's union plan (one per appended or checkpointed
    * piece still referenced). */
  def unionLeaves(df: DataFrame): Int = df.queryExecution.logical.collectLeaves().size
}

/** Hands every call to `inner`, timing it as a span and tagging the Spark
  * jobs the call's thread submits with the span id, so a job's parent is
  * the store call (streaming append) or HTTP request that caused it. Used
  * only in traced runs; untraced runs hand the store over unwrapped. */
final class TracedStore(inner: GenerationStore, tr: Tracer) extends GenerationStore {
  def spark: org.apache.spark.sql.SparkSession = inner.spark
  def tableName: String = inner.tableName

  private def span[T](name: String, detail: String, clear: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    val id = tr.nextId()
    val batch = Option(sc.getLocalProperty("streaming.sql.batchId"))
      .map(b => sc.getLocalProperty("sql.streaming.queryId") + "/" + b).getOrElse("")
    sc.setLocalProperty(SpanKey.Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      tr.add(Span(id, name, detail, batch, Thread.currentThread().getName, t0, System.nanoTime()))
      if (clear) sc.setLocalProperty(SpanKey.Key, null)
    }
  }

  def selectAll: DataFrame = span("selectAll", "")(inner.selectAll)
  def sql(query: String): DataFrame = span("sql", query)(inner.sql(query))
  def currentRstId: Long = span("currentRstId", "")(inner.currentRstId)
  def maxRstId: Option[Long] = span("maxRstId", "")(inner.maxRstId)
  def recent(n: Long): DataFrame = span("recent", n.toString)(inner.recent(n))
  def directFetch(rstId: Long): DataFrame = span("directFetch", rstId.toString)(inner.directFetch(rstId))
  def getOnwards(rstId: Long): DataFrame = span("getOnwards", rstId.toString)(inner.getOnwards(rstId))
  def reset(): this.type = { span("reset", "", clear = true)(inner.reset()); this }
  def append(batch: DataFrame): this.type = { span("append", "", clear = true)(inner.append(batch)); this }
  def clean(interval: Long): this.type = { span("clean", "", clear = true)(inner.clean(interval)); this }
  override def appendStreaming(batch: DataFrame): this.type = {
    span("appendStreaming", "", clear = true)(inner.appendStreaming(batch)); this
  }
}
