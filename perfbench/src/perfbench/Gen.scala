package perfbench

import java.util.SplittableRandom

/** One offered unit of input: the messages one `MemoryStream.addData`
  * call offers, when they are due (ns from the start of their phase), and
  * the tally of their well-formed rows per store key. The messages are
  * handed over once, so the benchmark does not keep them alive. */
final class Chunk(val id: Int, val dueNs: Long, private var msgs: Array[(String, String)],
                  val goodKeys: Array[String], val malformed: Int) {
  val rows: Int = msgs.length
  def take(): Array[(String, String)] = {
    val m = msgs
    require(m != null, s"chunk $id offered twice")
    msgs = null
    m
  }
}

/** The seeded message generator. Every message is a ~120-byte JSON object
  * with a Zipf-skewed `server` (8 values), a uniform `topic` (4), a uniform
  * `uid` (1M) and an epoch-second `timestamp` from a synthetic event clock
  * that advances with the chunk schedule. The program receives only the
  * message bytes; the generator keeps, per chunk, the key every well-formed
  * message must be counted under, so the store can be checked exactly.
  *
  * `keyUid` says whether the workload projects `uid` (the store key then
  * carries it). Malformed messages (1%: a missing projected field, or JSON cut
  * short) are excluded from the tally: the program must drop them. */
final class Gen(seed: Long, keyUid: Boolean, lateShare: Double, bucketSec: Long) {
  private val rnd = new SplittableRandom(seed)
  private var nextChunk = 0
  /** Event-clock origin; varies with the seed so bucket edges move. */
  val baseEpoch: Long = 1700000000L + (seed.abs % 100000L) * 7L
  private var eventSec = 0.0

  private val servers = Array.tabulate(8)(i => f"srv-$i%02d")
  private val serverCdf: Array[Double] = {
    val w = Array.tabulate(8)(i => 1.0 / math.pow(i + 1, 1.2))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private val fillers = Array("request served", "cache refreshed",
    "user session ok", "queue drained", "token renewed")

  private def server(): String = {
    val u = rnd.nextDouble()
    var i = 0
    while (i < 7 && u > serverCdf(i)) i += 1
    servers(i)
  }

  /** A chunk of `n` messages due at `dueNs`; the event clock then advances
    * by `eventAdvanceSec`. */
  def chunk(n: Int, dueNs: Long, eventAdvanceSec: Double): Chunk = {
    val msgs = new Array[(String, String)](n)
    val good = Array.newBuilder[String]
    var malformed = 0
    var i = 0
    while (i < n) {
      var ts = baseEpoch + (eventSec + eventAdvanceSec * i / n).toLong
      if (lateShare > 0 && rnd.nextDouble() < lateShare) ts -= 1 + rnd.nextInt(300)
      val srv = server()
      val topic = s"topic-${rnd.nextInt(4)}"
      val uid = f"u${rnd.nextInt(1000000)}%07d"
      val note = fillers(rnd.nextInt(fillers.length))
      val bad = rnd.nextDouble() < 0.01
      val json =
        if (bad && rnd.nextBoolean())
          s"""{"topic":"$topic","uid":"$uid","timestamp":$ts,"level":"INFO","note":"$note"}"""
        else {
          val full = s"""{"server":"$srv","topic":"$topic","uid":"$uid","timestamp":$ts,"level":"INFO","note":"$note"}"""
          if (bad) full.substring(0, 10 + rnd.nextInt(full.length - 20)) else full
        }
      if (bad) malformed += 1
      else {
        val bucket = Math.floorDiv(ts, bucketSec) * bucketSec
        good += (if (keyUid) s"$srv|$topic|$uid|$bucket|${bucket + bucketSec}"
                 else s"$srv|$topic|$bucket|${bucket + bucketSec}")
      }
      msgs(i) = (null, json)
      i += 1
    }
    eventSec += eventAdvanceSec
    val c = new Chunk(nextChunk, dueNs, msgs, good.result(), malformed)
    nextChunk += 1
    c
  }

  /** `seconds` of open-loop load at `rate` rows/s in `chunkMs` chunks. */
  def schedule(rate: Int, seconds: Double, chunkMs: Int): IndexedSeq[Chunk] = {
    val perChunk = math.max(1, rate * chunkMs / 1000)
    val count = math.round(seconds * 1000 / chunkMs).toInt
    (0 until count).map(k => chunk(perChunk, k.toLong * chunkMs * 1000000L, chunkMs / 1000.0))
  }
}
