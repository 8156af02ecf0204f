package graft.perfbench

import graft.promql.{Api, Parser, ResultsCache}

/** The per-layer figures of a traced run, measured from outside the
  * layers: the benchmark times its own calls into their public
  * functions, after the measured window, on an otherwise idle engine, and
  * reads the listeners it registered.
  */
final class Traced(o: Main.Opts, eng: Main.Engine, http: Http,
    spans: SparkSpans, plans: PlanSpans) {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  private val settleMs = 150L

  /** Direct call through the same frontend the server uses. */
  private def directCall(r: Req): Unit = {
    val nf = Main.nativeFamilies(o.workload)
    if (r.kind == "range")
      ResultsCache.queryRangeJson(eng.spark, o.data, r.query, r.start, r.end, r.step, nf)
    else ResultsCache.queryJson(eng.spark, o.data, r.query, nf, r.time)
  }

  final case class Replay(lat: Double, direct: Double, http: Double,
      plan: Double, exec: Double, jobs: Int, tasks: Long)

  /** Replays a spread sample of the run's requests, each twice as a
    * direct call and twice over HTTP, interleaved; the faster of each pair
    * is kept, so a plan's first compilation counts on neither side. Spark
    * spans are read on the last direct call. On ad hoc runs the cache is
    * emptied before each call, so every call sees the miss path the run saw.
    */
  private def replay(reqs: Seq[Main.Done], n: Int): Seq[Replay] = {
    val ok = reqs.filter(_.status == 200)
    val m = math.min(n, ok.length)
    (0 until m).map(i => ok(i * ok.length / m)).map { d =>
      def fresh(): Unit = if (o.workload == "adhoc") ResultsCache.clear()
      def timed(f: => Unit): Long = {
        fresh()
        val a = System.nanoTime(); f; System.nanoTime() - a
      }
      val h1 = timed(http.get(d.req.path, d.req.params))
      val d1 = timed(directCall(d.req))
      val h2 = timed(http.get(d.req.path, d.req.params))
      fresh()
      Thread.sleep(settleMs)
      val tasks0 = spans.tasks.get()
      val a = System.nanoTime()
      directCall(d.req)
      val b = System.nanoTime()
      Thread.sleep(settleMs)
      val tasks1 = spans.tasks.get()
      val plan = plans.planNsIn(a, b + settleMs * 1000000L) / 1e9
      val exec = spans.coveredNs(a, b) / 1e9
      val jobs = spans.jobsIn(a, b + settleMs * 1000000L).length
      Replay((d.endNs - d.startNs) / 1e9, math.min(d1, b - a) / 1e9,
        math.min(h1, h2) / 1e9, plan, exec, jobs, tasks1 - tasks0)
    }
  }

  private val m = scala.collection.mutable.TreeMap.empty[String, Map[String, Any]]
  private def put(name: String, v: Double, unit: String): Unit =
    m(name) = Map("value" -> v, "unit" -> unit)

  def report(reqs: Seq[Main.Done], t0: Long, t1: Long,
      batches: Seq[CommitListener#Batch], backlog: Seq[Double],
      receiveMs: Seq[Double], pass: CurationPass): Map[String, Map[String, Any]] = {
    put("spark.jobs_overlap", spans.overlap(t0, t1), "count")
    val queries = reqs.map(_.req.query).distinct
    val parseMs = queries.map { q =>
      val a = System.nanoTime()
      for (_ <- 1 to 20) Parser.parse(q)
      (System.nanoTime() - a) / 1e6 / 20
    }
    put("parser.parse_ms", median(parseMs), "ms")
    val rs = replay(reqs, 4)
    put("endpoint.overhead_ms", median(rs.map(r => (r.http - r.direct) * 1e3)), "ms")
    put("endpoint.wait_s", median(rs.map(r => r.lat - r.direct)), "s")
    put("api.self_s", median(rs.map(r => math.max(0.0, r.direct - r.plan - r.exec))), "s")
    put("api.jobs_per_request", mean(rs.map(_.jobs.toDouble)), "count")
    put("api.tasks_per_request", mean(rs.map(_.tasks.toDouble)), "count")
    put("spark.plan_s", median(rs.map(_.plan)), "s")
    put("spark.exec_s", median(rs.map(_.exec)), "s")
    put("remote_write.receive_ms", median(receiveMs), "ms")
    put("stream.batch_s", median(batches.map(_.triggerMs / 1e3)), "s")
    put("stream.add_batch_s", median(batches.map(_.addBatchMs / 1e3)), "s")
    put("stream.rows_per_batch", median(batches.map(_.rows.toDouble)), "count")
    put("stream.batches", batches.length.toDouble, "count")
    put("stream.backlog_posts", mean(backlog), "count")
    // the rest of the curation pass, after the batch
    pass.runWhile(true)
    pass.ran.foreach(r => put(s"curation.${r.query}_s", r.seconds, "s"))
    put("curation.pass_s", pass.ran.map(_.seconds).sum, "s")
    Thread.sleep(settleMs)
    val c = spans.group(CurationPass.Group)
    put("curation.jobs", c.jobs.get.toDouble, "count")
    put("curation.tasks", c.tasks.get.toDouble, "count")
    put("curation.shuffle_bytes", c.shuffleBytes.get.toDouble, "B")
    m.toMap
  }
}
