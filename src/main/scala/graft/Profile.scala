package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Where a SparkEntry query's time and bytes go, read from Spark's own
  * listener events. For each named query: Bench's sf0.001 warm-up, then two
  * runs at `sfDir`; the wall time is the min of the two and every counter
  * comes from the second run:
  *
  *   - each job with its wall ms and the driver gap before it (planning,
  *     file listing, fs calls since the run began or the previous job
  *     ended), and the sums of both;
  *   - stages and tasks run;
  *   - shuffle write bytes and records, input bytes — counters host drift
  *     does not move;
  *   - memory and disk spill, and the peak execution memory of any task.
  *
  * `host_speed_factor` ([[Bench.calibrationPhase]] over its reference) is
  * printed once per run, so recorded timings carry the host state they were
  * taken in. Usage:
  *
  *   sbt "runMain graft.Profile <sfDir> <query>..."
  */
object Profile {
  private val MarkerGroup = "graft.Profile.marker"

  private final case class Job(id: Int, start: Long, stages: Int,
                               desc: String, var end: Long = 0L)

  /** Counters of every event up to the marker job; callbacks run on the
    * single listener-bus thread, and [[await]] publishes them to the
    * caller once the marker has gone by. */
  private final class Recorder extends SparkListener {
    private val done = new CountDownLatch(1)
    private var marker = -1
    private def open = marker < 0
    val jobs = ArrayBuffer.empty[Job]
    var stages, tasks = 0
    var shuffleBytes, shuffleRecords, inputBytes = 0L
    var memorySpill, diskSpill, peakExecMemory = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == MarkerGroup))
        marker = e.jobId
      else if (open) jobs += Job(e.jobId, e.time, e.stageInfos.size,
        // The result stage's call site, e.g. "count at Recrawl.scala:412".
        e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == marker) done.countDown()
      else jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (open) stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (open) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          inputBytes += m.inputMetrics.bytesRead
          memorySpill += m.memoryBytesSpilled
          diskSpill += m.diskBytesSpilled
          peakExecMemory = math.max(peakExecMemory, m.peakExecutionMemory)
        }
      }

    /** Block until the bus has delivered every event before the marker. */
    def await(): Unit =
      require(done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <query>...")
    val sfDir = args(0)
    println(f"host_speed_factor ${Bench.calibrationPhase() / Bench.CalibrationRefSec}%.2f")
    val spark = Session.get()
    val sc = spark.sparkContext
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      Bench.warmUp(spark, fn)
      def timed(): Double = {
        val t0 = System.nanoTime()
        Bench.force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val first = timed()
      val rec = new Recorder
      sc.addSparkListener(rec)
      val secondStart = System.currentTimeMillis()
      val second = timed()
      // Events reach listeners in order: once the marker job's end is
      // seen, every event of the run before it has been counted.
      sc.setJobGroup(MarkerGroup, MarkerGroup)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      rec.await()
      sc.removeSparkListener(rec)

      println(s"\n=== $name ===")
      println(f"wall_s ${math.min(first, second)}%.3f (runs $first%.3f, $second%.3f)")
      var prevEnd = secondStart
      var jobMs, gapMs = 0L
      rec.jobs.foreach { j =>
        val ms = j.end - j.start
        val gap = math.max(0L, j.start - prevEnd)
        jobMs += ms
        gapMs += gap
        prevEnd = math.max(prevEnd, j.end)
        println(f"job ${j.id}%5d ${ms}%6d ms  gap ${gap}%5d ms  stages ${j.stages}%2d  ${j.desc.take(100)}")
      }
      println(s"jobs ${rec.jobs.size}")
      println(s"job_ms_sum $jobMs")
      println(s"gap_ms_sum $gapMs")
      println(s"stages ${rec.stages}")
      println(s"tasks ${rec.tasks}")
      println(s"shuffle_write_bytes ${rec.shuffleBytes}")
      println(s"shuffle_write_records ${rec.shuffleRecords}")
      println(s"input_bytes ${rec.inputBytes}")
      println(s"spill_memory_bytes ${rec.memorySpill}")
      println(s"spill_disk_bytes ${rec.diskSpill}")
      println(s"peak_execution_memory_bytes ${rec.peakExecMemory}")
    }
    spark.stop()
  }
}
