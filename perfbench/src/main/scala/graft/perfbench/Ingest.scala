package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.{RemoteWrite, RemoteWriteSink}

/** The remote-write generator: `posts` WriteRequests of `series` series ×
  * `samples` samples each, all drawn from the seed. Every sample has its
  * own (name, k, timestamp), so none collapses under the engine's
  * exact-dedup key. The digest is order-free: a sum of per-sample
  * FNV-1a hashes over `name|k|ts_ms|value bits`, the form the raw-segment
  * view stores them in (the `_total` suffix stripped).
  */
final class WriteGen(seed: Long, series: Int, samples: Int) {
  private val names = Vector("rw_requests_total", "rw_bytes_total",
    "rw_errors_total", "rw_queue_depth")
  private val baseMs = 1706745600000L + (seed % 1000L) * 86400000L

  /** The uncompressed body of post `i` and its samples as
    * (view name, k, ts_ms, value).
    */
  def post(i: Int): (Array[Byte], Seq[(String, String, Long, Double)]) = {
    val r = new scala.util.Random(seed * 1000033L + i)
    val ss = (0 until series).map { s =>
      val name = names((i + s) % names.length)
      val k = s"w${s}"
      val pts = (0 until samples).map { j =>
        // one timestamp per (post, sample slot): unique per (name, k)
        val ts = baseMs + (i.toLong * samples + j) * 1000L + s
        (math.rint(r.nextDouble() * 1e6) / 100.0, ts)
      }.toVector
      (name, k, pts)
    }
    val body = RemoteWrite.encode(ss.map { case (n, k, pts) =>
      RemoteWrite.Series(Vector("__name__" -> n, "k" -> k), pts)
    })
    val flat = ss.flatMap { case (n, k, pts) =>
      pts.map { case (v, ts) => (n.stripSuffix("_total"), k, ts, v) }
    }
    (RemoteWrite.compress(body), flat)
  }
}

object WriteGen {
  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h
  }

  def sampleHash(name: String, k: String, tsMs: Long, v: Double): Long =
    fnv(s"$name|$k|$tsMs|${java.lang.Double.doubleToLongBits(v)}")
}

/** A sink that times each `receive` the server makes (traced runs). */
final class TimedSink(spark: SparkSession) extends RemoteWriteSink(spark) {
  val receiveNs = new ConcurrentLinkedQueue[java.lang.Long]()
  override def receive(body: Array[Byte], atMs: Long,
      contentType: Option[String]): Long = {
    val t0 = System.nanoTime()
    try super.receive(body, atMs, contentType)
    finally receiveNs.add(System.nanoTime() - t0)
  }
}

/** Commit times of the raw-segment query's micro-batches, by the
  * MemoryStream offset each batch ends at (post `i` is offset `i`).
  */
final class CommitListener extends StreamingQueryListener {
  final case class Batch(endOffset: Long, atNs: Long, triggerMs: Long,
      addBatchMs: Long, rows: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var queryId: java.util.UUID = _

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    if (queryId != null && p.id == queryId && p.sources.nonEmpty) {
      val end = Option(p.sources(0).endOffset).map(_.trim).filter(_.nonEmpty)
      end.flatMap(s => scala.util.Try(s.toLong).toOption).foreach { off =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        if (p.numInputRows > 0)
          batches.add(Batch(off, now, d("triggerExecution"), d("addBatch"),
            p.numInputRows))
      }
    }
  }

  def committed: Seq[Batch] = batches.asScala.toSeq.sortBy(_.atNs)

  /** Highest offset committed by `atNs`, or -1. */
  def committedBy(atNs: Long): Long =
    batches.asScala.filter(_.atNs <= atNs).map(_.endOffset).maxOption.getOrElse(-1L)
}
