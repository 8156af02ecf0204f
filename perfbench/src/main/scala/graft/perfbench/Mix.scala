package graft.perfbench

import scala.util.Random

/** What a panel computes, so a checker can rebuild its answer apart from
  * the engine. `shape` is one of the grid-panel twins:
  *  - `counter_sum`: `sum by (k) (<metric>)`
  *  - `rate_sum`: `sum by (k) (rate(<metric>[<windowS>]))`
  *  - `gauge`: `signup{k="<k>"}` (last write wins per full series key)
  *  - `hq`: `histogram_quantile(<q>, sum by (k) (rate(error[<windowS>])))`
  * and `none` for shapes no twin covers.
  */
final case class Twin(shape: String, metric: String = "", k: String = "",
    windowS: Long = 0L, q: Double = 0.0)

/** One request of the reader's stream. `kind` is `range` or `instant`;
  * an instant request with `time = None` evaluates at the corpus instant.
  * `family` names the shape class a request was drawn from.
  */
final case class Req(kind: String, query: String, start: Long = 0L,
    end: Long = 0L, step: Long = 0L, time: Option[Long] = None,
    family: String = "", twin: Twin = Twin("none")) {

  def params: Seq[(String, String)] = kind match {
    case "range" => Seq("query" -> query, "start" -> start.toString,
      "end" -> end.toString, "step" -> step.toString)
    case _ => ("query" -> query) +: time.map(t => "time" -> t.toString).toSeq
  }

  def path: String =
    if (kind == "range") "/api/v1/query_range" else "/api/v1/query"

  /** Identity of the request: equal keys must get equal answers. */
  def key: String = (path +: params.map { case (k, v) => s"$k=$v" }).mkString("|")
}

/** The seeded request streams of the read workloads. `tS` is the corpus
  * instant floored to whole seconds; every generated instant is at or
  * before it.
  */
object Mix {

  val Counters = Vector("click", "view", "purchase")

  /** A dashboard window: span and step ending at the corpus instant,
    * and the rate window used at that step (at least the step, as a
    * dashboard's rate interval is).
    */
  final case class Window(spanS: Long, stepS: Long, rateS: Long)

  val Day = Window(86400L, 300L, 3600L) // 1d@5m
  val Week = Window(7L * 86400L, 3600L, 4L * 3600L) // 7d@1h
  val Month = Window(30L * 86400L, 21600L, 86400L) // 30d@6h

  def dur(s: Long): String =
    if (s % 86400L == 0) s"${s / 86400L}d"
    else if (s % 3600L == 0) s"${s / 3600L}h"
    else if (s % 60L == 0) s"${s / 60L}m"
    else s"${s}s"

  private def kLabel(r: Random): String = r.nextInt(100).toString

  private def panelQuery(t: Twin): String = t.shape match {
    case "counter_sum" => s"sum by (k) (${t.metric})"
    case "rate_sum" => s"sum by (k) (rate(${t.metric}[${dur(t.windowS)}]))"
    case "gauge" => s"""signup{k="${t.k}"}"""
    case "hq" =>
      s"histogram_quantile(${t.q}, sum by (k) (rate(error[${dur(t.windowS)}])))"
  }

  /** A dashboard: four `query_range` panels over fixed windows ending at
    * the corpus instant — `sum by (k)` of its counter over 30d@6h, the
    * rate of a counter over 1d@5m, a gauge over 7d@1h and the error
    * histogram's quantile over 1d@5m — and a stat row of two instant
    * queries at the corpus instant, `sum by (k)` of its counter and of
    * that counter's 1d rate. Every view costs about the same.
    */
  final case class Dashboard(counter: String, rateMetric: String,
      gaugeK: String, q: Double) {

    def view(tS: Long): Seq[Req] = {
      def stat(t: Twin) = Req("instant", panelQuery(t), family = "stat", twin = t)
      def range(t: Twin, w: Window) =
        Req("range", panelQuery(t), tS - (w.spanS / w.stepS - 1) * w.stepS, tS,
          w.stepS, family = t.shape, twin = t)
      Seq(
        range(Twin("counter_sum", counter), Month),
        stat(Twin("counter_sum", counter)),
        range(Twin("rate_sum", rateMetric, windowS = Day.rateS), Day),
        range(Twin("gauge", "signup", k = gaugeK), Week),
        stat(Twin("rate_sum", counter, windowS = 86400L)),
        range(Twin("hq", "error", windowS = Day.rateS, q = q), Day))
    }
  }

  /** The dashboards a run can open, their metrics, k and q fixed. Runs draw from this small catalog, so over a set of
    * runs the same requests recur and their uncached reference answers can
    * be kept (see `Checks.uncached`).
    */
  val Catalog: Vector[Dashboard] = {
    val r = new Random(20240201L)
    Vector.fill(4)(Dashboard(Counters(r.nextInt(3)), Counters(r.nextInt(3)),
      kLabel(r), Vector(0.5, 0.9, 0.99)(r.nextInt(3))))
  }

  /** `n` distinct dashboards of the catalog, drawn from the seed. */
  def dashboards(seed: Long, n: Int): Vector[Dashboard] =
    new Random(seed * 7919L + 17L).shuffle(Catalog).take(n)

  /** Views of each dashboard in a round. */
  val ViewsPerRound = 2

  /** The dashboard stream as rounds of whole views: a round is
    * `ViewsPerRound` views of each of `boards`, in panel order, so every
    * round serves the same requests in the same order and costs the same.
    */
  def dashboardRounds(tS: Long, boards: Vector[Dashboard]): Iterator[Seq[Req]] = {
    val round = Seq.fill(ViewsPerRound)(boards.flatMap(_.view(tS))).flatten
    Iterator.continually(round)
  }

  /** The ad hoc shape classes: six `query_range` families (grid panels of
    * the rate shape, union-path shapes, native histograms) and instant
    * queries at a random `time=`. A round is one request of each entry, in
    * this order: eight ranges, the two cheapest union shapes twice, each
    * followed by an instant. The results cache splits a grid request into chunks of
    * `ResultsCache.SplitInstants` instants and evaluates every chunk it
    * touches whole, so a grid costs one chunk or two as it falls: `grid`
    * and `native_hq` lie inside one chunk and `grid_split` across two, and
    * every round takes both miss paths.
    */
  val AdhocFamilies = Vector("grid", "native_hq", "subquery", "group_left",
    "quantile_over_time", "subquery", "grid_split", "quantile_over_time")
    .flatMap(Vector(_, "instant"))

  /** The ad hoc stream as rounds of every family, in the order of
    * `AdhocFamilies`; every request unique — its own end (to the second, so
    * its step phase), metric, label and quantile, and for instant queries
    * `time=`, all drawn from the seed. Each family has a fixed step, number
    * of instants and number of cache chunks, and the j-th of a round's n
    * instant queries falls in the j-th n-th of the last 20 days, so a round
    * costs about the same whatever the seed.
    */
  def adhocRounds(seed: Long, tS: Long): Iterator[Seq[Req]] = {
    val r = new Random(seed * 2000003L + 5L)
    val chunk = graft.promql.ResultsCache.SplitInstants
    def grid(n: Int, step: Long, across: Boolean = false): (Long, Long, Long) = {
      // end anywhere from ten to three days before the corpus instant, off
      // the step lattice: never in the results cache's head chunk, so
      // every grid request takes the full-chunk miss path
      val end0 = tS - 3 * 86400 - r.nextInt(7 * 86400)
      // the grid's first instant at a seeded place in its chunk: where the
      // grid fits the chunk, or where it crosses into the next
      val at = Math.floorMod(end0 - (n - 1).toLong * step - end0 % step,
        chunk * step) / step
      val want = if (across) chunk - n + 1 + r.nextInt(n - 1) else r.nextInt(chunk - n + 1)
      val end = end0 + (want - at) * step
      (end - (n - 1).toLong * step, end, step)
    }
    def q3 = Vector(0.5, 0.9, 0.99)(r.nextInt(3))
    def rateGrid(across: Boolean, family: String): Req = {
      val (s, e, st) = grid(60, 300L, across)
      val m = Counters(r.nextInt(3))
      Req("range", panelQuery(Twin("rate_sum", m, windowS = 3600L)), s, e, st,
        family = family)
    }
    val slotS = 20 * 86400 / AdhocFamilies.count(_ == "instant")
    def one(family: String, slot: Int): Req = family match {
      case "grid" => rateGrid(across = false, "rate_sum")
      case "grid_split" => rateGrid(across = true, "rate_sum_split")
      case "native_hq" =>
        val (s, e, st) = grid(6, 300L)
        Req("range", s"histogram_quantile($q3, sum by (k) (rate(error[2h])))",
          s, e, st, family = family)
      case "subquery" =>
        val (s, e, st) = grid(1, 600L)
        val m = Counters(r.nextInt(3))
        Req("range", s"max_over_time(rate($m[1h])[2h:30m])", s, e, st,
          family = family)
      case "group_left" =>
        val (s, e, st) = grid(1, 600L)
        val m = Counters(r.nextInt(3))
        Req("range",
          s"sum by (k, instance) ($m) * on(k) group_left sum by (k) (signup)",
          s, e, st, family = family)
      case "quantile_over_time" =>
        val (s, e, st) = grid(2, 600L)
        val q = Vector(0.25, 0.5, 0.9)(r.nextInt(3))
        Req("range", s"""quantile_over_time($q, signup{k="${kLabel(r)}"}[2h])""",
          s, e, st, family = family)
      case "instant" =>
        val m = Counters(r.nextInt(3))
        Req("instant", s"sum by (k) (rate($m[1d]))",
          time = Some(tS - (slot * slotS + r.nextInt(slotS))), family = family)
    }
    Iterator.continually {
      var instants = 0
      AdhocFamilies.map { f =>
        val slot = instants
        if (f == "instant") instants += 1
        one(f, slot)
      }
    }
  }
}
