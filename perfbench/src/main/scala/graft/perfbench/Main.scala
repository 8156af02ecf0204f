package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Metrics
import graft.promql.{Compiler, ResultsCache}
import graft.sources.{QueryEndpoint, RemoteWriteSink}
import graft.streaming.MetricStream

/** One benchmark run in one JVM: set the engine up over a corpus, drive
  * one workload against its HTTP server in whole rounds for at least
  * `--seconds`, run the curation batch, and write the raw samples and the
  * artifacts the checkers need to `<out>/result.json`.
  *
  * {{{
  * Main --workload dashboard|adhoc --seed N --seconds S
  *      --trace 0|1 --data <corpus dir> --out <run dir>
  *      --refs <directory of kept uncached answers>
  * }}}
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, out: Path, refs: Path, cpus: Int)

  final case class Done(idx: Int, req: Req, startNs: Long, endNs: Long,
      status: Int, sha: String, body: Array[Byte])

  final case class Write(idx: Int, dueNs: Long, sentNs: Long, ackNs: Long,
      status: Int)

  /** The remote-write stream beside the reader, open loop: one post
    * every 100 ms of 4 series × 25 samples, 1000 samples/s offered.
    */
  val WriteIntervalMs = 100

  /** Posts made and committed before the window, to warm the ingest path. */
  val WarmPosts = 20

  /** Servings of every dashboard request before the window: the first
    * fills the results cache, and the later ones, like repeat views, run
    * the head chunks' plans again, whose latencies keep falling over the
    * first few servings.
    */
  val PrefillPasses = 3

  /** How long the writer posts before the window opens. */
  val LeadInMs = 1000L

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("data"), Paths.get(m("out")),
      Paths.get(m("refs")),
      Runtime.getRuntime.availableProcessors())
  }

  def session(cpus: Int, out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", out.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The engine as a deployment runs it: the query API on one listener,
    * the remote-write receiver on its own, both over one Spark session.
    */
  final class Engine(val spark: SparkSession, val server: HttpServer,
      val writeServer: HttpServer, val sink: RemoteWriteSink,
      val eventsBuildS: Double) {
    def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def writeBase: String = s"http://127.0.0.1:${writeServer.getAddress.getPort}"
  }

  def nativeFamilies(workload: String): Set[String] =
    if (workload == "adhoc") Set("error") else Set.empty

  /** Everything before the first request can be served: the Spark
    * session, the events adapter cache, the corpus instant and the server.
    */
  def setUp(o: Opts): Engine = {
    val spark = session(o.cpus, o.out)
    val t0 = System.nanoTime()
    Metrics.metricEvents(spark, o.data).count()
    val eventsS = (System.nanoTime() - t0) / 1e9
    Compiler.instantSeconds(spark, o.data)
    val sink = if (o.trace) new TimedSink(spark) else new RemoteWriteSink(spark)
    val server = QueryEndpoint.start(spark, o.data, port = 0,
      nativeFamilies = nativeFamilies(o.workload), resultsCache = true)
    val writeServer = QueryEndpoint.start(spark, o.data, port = 0,
      remoteWrite = Some(sink))
    new Engine(spark, server, writeServer, sink, eventsS)
  }

  def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.out.resolve("tmp"))
    val rc = try { run(o); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // everything the checkers read is written; stopping Spark and the
    // servers would only add seconds to every run
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(rc)
  }

  /** Phase timings of the run, to the JVM log. */
  private def phase(name: String, since: Long): Long = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name%s ${(now - since) / 1e9}%.2f s")
    now
  }

  def run(o: Opts): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val eng = setUp(o)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] setup $setupS%.2f s")
    ResultsCache.clear()
    val spark = eng.spark
    val tS = Compiler.instantSeconds(spark, o.data).toLong
    var mark = System.nanoTime()

    val spans = new SparkSpans
    val plans = new PlanSpans
    if (o.trace) {
      spark.sparkContext.addSparkListener(spans)
      spark.listenerManager.register(plans)
    }

    // the ingest path: pushed samples drain into a fresh segment directory
    val segDir = o.out.resolve("segments").toString
    val commits = new CommitListener
    spark.streams.addListener(commits)
    val query: StreamingQuery =
      MetricStream.streamingRawSegments(eng.sink.events, segDir)
    commits.queryId = query.id

    val gen = new WriteGen(o.seed, series = 4, samples = 25)
    val sent = new ConcurrentLinkedQueue[(Int, Seq[(String, String, Long, Double)])]()
    // one reader: the server handles one exchange at a time, so a second
    // client's request waits behind the first's, and with a few requests
    // a run the medians then depend on which requests happened to collide
    val viewed = Mix.dashboards(o.seed, 1)
    val rounds =
      if (o.workload == "dashboard") Mix.dashboardRounds(tS, viewed)
      else Mix.adhocRounds(o.seed, tS)
    val checks = new Checks(o, spark, o.out)
    val writeHttp = new Http(eng.writeBase)
    def post(idx: Int, body: Array[Byte]): Int =
      try writeHttp.post("/api/v1/write", body) catch {
        case e: java.io.IOException =>
          System.err.println(s"[perfbench] write $idx failed: $e")
          -1
      }
    val http = new Http(eng.base)
    val done = mutable.ArrayBuffer.empty[Done]
    def serve(req: Req): Unit = {
      val s = System.nanoTime()
      val (code, body) = try http.get(req.path, req.params) catch {
        case e: java.io.IOException =>
          System.err.println(s"[perfbench] ${req.key} failed: $e")
          (-1, Array.emptyByteArray)
      }
      done += Done(done.length, req, s, System.nanoTime(), code, sha(body), body)
    }

    val writes = new ConcurrentLinkedQueue[Write]()
    val backlog = new ConcurrentLinkedQueue[java.lang.Long]()
    def postAt(idx: Int, dueNs: Long): Unit = {
      val (body, samples) = gen.post(idx)
      val wait = dueNs - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val s = System.nanoTime()
      val code = post(idx, body)
      writes.add(Write(idx, dueNs, s, System.nanoTime(), code))
      if (code == 204) sent.add(idx -> samples)
    }
    // the warm-up, untimed. The ingest path's first micro-batches compile
    // their plans and take seconds: posts of the same stream, committed.
    // Beside them, dashboard: `PrefillPasses` servings of every request of
    // its dashboard through the results cache, so the window sees repeat
    // views; adhoc: a round of a stream the reader does not replay, so each
    // family's plans have run as often as in the window.
    val ingestWarm = thread("ingest-warm") {
      for (idx <- 0 until WarmPosts) {
        postAt(idx, System.nanoTime())
        if (idx == WarmPosts / 2) query.processAllAvailable()
      }
      query.processAllAvailable()
    }
    val warmed =
      if (o.workload == "dashboard")
        Seq.fill(PrefillPasses)(viewed.flatMap(_.view(tS))).flatMap(checks.prefill)
      else {
        checks.warm(Mix.adhocRounds(-1L - o.seed, tS).next())
        Nil
      }
    ingestWarm.join()

    // the remote-write stream, open loop, until the window closes; posts
    // are numbered after the warm-up's, as the stream's offsets. The
    // window opens after a lead-in, on a stream already posting.
    @volatile var posting = true
    val tw = System.nanoTime()
    val writer = thread("writer") {
      var i = 0
      while (posting) {
        postAt(WarmPosts + i, tw + i.toLong * WriteIntervalMs * 1000000L)
        i += 1
      }
    }
    Thread.sleep(LeadInMs)
    mark = phase("warm-up", mark)

    val gc0 = gcMs()
    val (rh0, rm0) = ResultsCache.stats
    val (ih0, im0) = ResultsCache.instantStats
    val t0 = System.nanoTime()
    val sampler = if (!o.trace) None else Some(thread("backlog") {
      while (posting) {
        backlog.add(math.max(0L,
          writes.size - 1L - commits.committedBy(System.nanoTime())))
        Thread.sleep(50)
      }
    })
    val deadline = t0 + o.seconds * 1000000000L
    // one reader, whole rounds until the window closes
    while (System.nanoTime() < deadline) rounds.next().foreach(serve)
    val t1 = System.nanoTime()
    posting = false
    writer.join()
    sampler.foreach(_.join())
    mark = phase("window", t0)
    val gcS = (gcMs() - gc0) / 1e3
    val (rh1, rm1) = ResultsCache.stats
    val (ih1, im1) = ResultsCache.instantStats
    query.processAllAvailable()
    query.stop()
    val drainedNs = System.nanoTime()
    mark = phase("drain", mark)

    // the curation batch on the engine that served the window, alone
    val pass = new CurationPass(spark, o.data)
    pass.runWhile(pass.ran.length < CurationPass.Batch.length)
    val batchS = pass.ran.map(_.seconds).sum
    mark = phase("curation batch", mark)

    // ---- raw samples for the end-to-end metrics ----
    val reqs = done.toSeq
    val (ws, warmWrites) = writes.asScala.toSeq.sortBy(_.idx)
      .partition(w => w.dueNs >= t0 && w.dueNs < t1)
    val batches = commits.committed
    val lags = ws.filter(_.status == 204).map { w =>
      batches.find(_.endOffset >= w.idx)
        .map(b => (b.atNs - w.ackNs) / 1e9).getOrElse(Double.NaN)
    }
    val res = mutable.LinkedHashMap[String, Any](
      "t_corpus_s" -> tS,
      "setup_s" -> Seq(setupS),
      "events_build_s" -> Seq(eng.eventsBuildS),
      "window_s" -> (t1 - t0) / 1e9,
      "drain_s" -> (drainedNs - t1) / 1e9,
      "requests" -> reqs.map { d =>
        Map("kind" -> d.req.kind, "family" -> d.req.family,
          "idx" -> d.idx, "lat_s" -> (d.endNs - d.startNs) / 1e9,
          "status" -> d.status, "sha" -> d.sha, "key" -> d.req.key)
      },
      "write_lat_ms" -> ws.map(w => (w.ackNs - w.dueNs) / 1e6),
      "write_late_ms" -> ws.map(w => (w.sentNs - w.dueNs) / 1e6),
      "write_status" -> ws.map(_.status),
      // the warm-up's and the lead-in's posts
      "warm_status" -> warmWrites.map(_.status),
      "ingest_lag_s" -> lags,
      "peak_rss_mb" -> peakRssMb(),
      "gc_s" -> gcS,
      "cache_range_hits" -> (rh1 - rh0),
      "cache_range_misses" -> (rm1 - rm0),
      "cache_instant_hits" -> (ih1 - ih0),
      "cache_instant_misses" -> (im1 - im0),
      "curation_batch" -> pass.ran.length,
      "curation_s" -> batchS)

    // ---- artifacts for the checkers ----
    res("responses") = checks.responses(warmed ++ reqs)
    if (o.workload == "dashboard")
      res("uncached") = checks.uncached(viewed.flatMap(_.view(tS)), o.refs)
    else res("range_instant") = checks.rangeVsInstant(reqs)
    val sentAll = sent.asScala.toSeq.sortBy(_._1).flatMap(_._2)
    res("sent_samples") = sentAll.length
    res("sent_digest") = java.lang.Long.toUnsignedString(
      sentAll.map { case (n, k, ts, v) => WriteGen.sampleHash(n, k, ts, v) }.sum)
    val view = MetricStream.rawSegmentsView(spark, segDir)
    view.select(col("name"), col("label_k"), unix_millis(col("ts")).as("ts_ms"),
      col("value"))
      .coalesce(1).write.mode("overwrite").parquet(o.out.resolve("view").toString)
    res("view_dir") = o.out.resolve("view").toString
    ExportSql.write(o.out.resolve("oracle_sql.json"))
    mark = phase("after the window", mark)

    if (o.trace) {
      val tr = new Traced(o, eng, http, spans, plans)
      res("trace") = tr.report(reqs, t0, t1,
        batches.filter(b => b.atNs >= t0 && b.atNs < t1), backlog.asScala.toSeq.map(_.toDouble),
        eng.sink match { case s: TimedSink => s.receiveNs.asScala.toSeq.map(_ / 1e6)
          case _ => Nil }, pass)
      mark = phase("traced replays and curation pass", mark)
    }
    // every query the pass ran is checked; in untraced runs, the batch's
    res("curation") = pass.write(o.out.resolve("curation"))
    writeJson(o.out.resolve("result.json"), res)
  }

  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .disable(com.fasterxml.jackson.core.json.JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def writeJson(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)

  def thread(name: String)(f: => Unit): Thread = {
    val t = new Thread(() => f, name)
    t.setDaemon(true)
    t.start()
    t
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
}

/** A keep-alive HTTP/1.1 client over `HttpURLConnection`. */
final class Http(base: String) {
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  def get(path: String, params: Seq[(String, String)]): (Int, Array[Byte]) = {
    val qs = params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    val c = new java.net.URL(s"$base$path?$qs").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(30000)
    c.setReadTimeout(170000)
    read(c)
  }

  def post(path: String, body: Array[Byte]): Int = {
    val c = new java.net.URL(s"$base$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/x-protobuf")
    c.setRequestProperty("Content-Encoding", "snappy")
    c.setRequestProperty("X-Prometheus-Remote-Write-Version", "0.1.0")
    c.setFixedLengthStreamingMode(body.length)
    val os = c.getOutputStream
    try os.write(body) finally os.close()
    read(c)._1
  }

  private def read(c: java.net.HttpURLConnection): (Int, Array[Byte]) = {
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray
      else try in.readAllBytes() finally in.close()
    (code, body)
  }
}
