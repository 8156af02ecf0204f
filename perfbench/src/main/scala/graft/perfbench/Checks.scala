package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.promql.{Api, ResultsCache}

/** Writes what the checkers compare: each distinct response, the
  * uncached answers for the same requests, and instant answers at sampled
  * grid instants. The comparisons themselves run in `checks.py`.
  */
final class Checks(o: Main.Opts, spark: SparkSession, out: Path) {
  private val respDir = Files.createDirectories(out.resolve("resp"))
  private var files = Map.empty[String, String]

  private def par[A](jobs: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, o.cpus - 1))
    try jobs.map(j => pool.submit(new Callable[A] { def call(): A = j() }))
      .map(_.get()) finally pool.shutdown()
  }

  private def write(name: String, body: Array[Byte]): String = {
    val p = respDir.resolve(name)
    Files.write(p, body)
    p.toString
  }

  /** One entry per distinct request: its parameters, the twin spec, the
    * first body served, and the hash and status of every serving of it.
    */
  def responses(reqs: Seq[Main.Done]): Seq[Map[String, Any]] = {
    val byKey = reqs.groupBy(_.req.key).toSeq.sortBy(_._2.head.startNs)
    byKey.zipWithIndex.map { case ((key, ds), i) =>
      val r = ds.head.req
      val f = write(s"served_$i.json", ds.head.body)
      files += key -> f
      Map("key" -> key, "kind" -> r.kind, "query" -> r.query,
        "family" -> r.family, "start" -> r.start, "end" -> r.end,
        "step" -> r.step, "time" -> r.time,
        "twin" -> Map("shape" -> r.twin.shape, "metric" -> r.twin.metric,
          "k" -> r.twin.k, "window_s" -> r.twin.windowS, "q" -> r.twin.q),
        "file" -> f, "served" -> ds.map(_.sha), "status" -> ds.map(_.status))
    }
  }

  private def direct(r: Req, time: Option[Long]): Array[Byte] = {
    val nf = Main.nativeFamilies(o.workload)
    (if (r.kind == "range" && time.isEmpty)
      Api.queryRangeJson(spark, o.data, r.query, r.start, r.end, r.step, nf)
    else Api.queryJson(spark, o.data, r.query, nf, time.orElse(r.time)))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Serves `reqs` directly once each, discarding the answers. */
  def warm(reqs: Seq[Req]): Unit = par(reqs.map(r => () => direct(r, None)))

  /** Serves each distinct request of `reqs` once through the server's
    * `ResultsCache` frontend, as the server does, so the cache holds what
    * earlier views of these dashboards would have stored. The servings
    * are returned as responses to be checked.
    */
  def prefill(reqs: Seq[Req]): Seq[Main.Done] = {
    val nf = Main.nativeFamilies(o.workload)
    par(reqs.groupBy(_.key).map(_._2.head).toSeq.sortBy(_.key).map { r => () =>
      val t0 = System.nanoTime()
      val body = (if (r.kind == "range")
        ResultsCache.queryRangeJson(spark, o.data, r.query, r.start, r.end, r.step, nf)
      else ResultsCache.queryJson(spark, o.data, r.query, nf, r.time))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      System.err.println(f"[perfbench] prefill ${(System.nanoTime() - t0) / 1e9}%.2f s ${r.key}")
      Main.Done(-1, r, 0L, 0L, 200, Main.sha(body), body)
    })
  }

  /** The uncached `Api` answer of each distinct request of `reqs`, the
    * reference of the cache check, as (key, file). An answer depends only
    * on the engine's sources, the corpus and the request, so answers are
    * kept in `refs`, a directory the caller names by all three.
    */
  def uncached(reqs: Seq[Req], refs: Path): Seq[Map[String, Any]] = {
    Files.createDirectories(refs)
    par(reqs.groupBy(_.key).map(_._2.head).toSeq.sortBy(_.key).map { r => () =>
      val p = refs.resolve(Main.sha(r.key.getBytes(java.nio.charset.StandardCharsets.UTF_8)) + ".json")
      if (!Files.exists(p)) {
        val tmp = Files.createTempFile(refs, "ref", ".tmp")
        Files.write(tmp, direct(r, None))
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      Map("key" -> r.key, "file" -> p.toString)
    })
  }

  /** PromQL evaluates every `query_range` instant independently, so the
    * range answer at instant t equals `/api/v1/query?time=t`. Each range
    * answer is sampled at one instant.
    */
  def rangeVsInstant(reqs: Seq[Main.Done]): Seq[Map[String, Any]] = {
    val ranges = reqs.filter(d => d.status == 200 && d.req.kind == "range")
    val jobs = ranges.flatMap { d =>
      val r = d.req
      val n = ((r.end - r.start) / r.step + 1).toInt
      val rnd = new scala.util.Random(o.seed * 31L + r.key.hashCode)
      Seq((r, r.start + rnd.nextInt(n).toLong * r.step))
    }
    par(jobs.zipWithIndex.map { case ((r, t), i) => () =>
      Map("key" -> r.key, "range_file" -> files(r.key), "t" -> t,
        "file" -> write(s"instant_$i.json", direct(r, Some(t))))
    })
  }
}
