package graft.promql

import graft.model.MetricEvent
import graft.functions.{CounterObs, CounterTotalsAggregator, GaugeLatestAggregator, GaugeObs}
import graft.operators.Metrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Compiles a parsed PromQL [[Ast]] into a declarative Spark plan over
  * the MetricEvent view — the whole front-end is a LogicalPlan builder;
  * Catalyst plans and optimizes the result like any hand-written
  * DataFrame query (filters push into the parquet scan, aggregations
  * combine map-side, the per-series window partitions on the series
  * key).
  *
  * Batch evaluation semantics (documented, deterministic):
  *  - The evaluation instant T is the corpus' max event timestamp; a
  *    selector `offset o` evaluates at T − o.
  *  - A counter instant vector is the accumulated sum of its increments
  *    up to the instant (the reference's `Increment` semantics,
  *    `/root/reference/prometheus.cpp:212`); a gauge vector is
  *    last-write-wins at the instant (`:249`).
  *  - `increase(m[d])` sums the increments inside `(T−d, T]`; `rate` is
  *    `increase/d`; `delta(g[d])` is last−first of a gauge window. The
  *    event model stores increments, so no reset reconstruction is
  *    needed here (resets exist only for scraped cumulative samples —
  *    covered by the b3/b17 queries).
  *  - Counter sums accumulate in DECIMAL(18,2) (exact, order-safe);
  *    doubles appear only after a division/scalar function, so results
  *    are bit-reproducible under any partitioning.
  *
  * Compose-time checking (the A7 analog, `prometheus.cpp:28-29,98-99,
  * 160-167`): unknown metric names, unknown labels, kind mismatches
  * (`rate` on a gauge, `histogram_quantile` on a counter, a histogram
  * family used as a plain vector), and missing/spurious range selectors
  * all raise [[PromQLCompileException]] BEFORE any job runs.
  */
object Compiler {

  /** An instant vector: `labels` (⊆ name + the label universe) + a
    * `value` column (DECIMAL while exact, DOUBLE after division).
    *
    * `rateDiv`: when the vector came from `rate(m[d])` (directly or
    * through a linear aggregation), `value` still holds the EXACT
    * decimal increase and the division by `d` is deferred to
    * [[materialize]]. `sum by (...) (rate(m[d]))` therefore sums exact
    * decimals and divides once — no per-row double→DECIMAL(18,2)
    * quantization of tiny per-second rates (which would collapse rates
    * below 0.005 to 0), and the result is still bit-deterministic under
    * any partitioning.
    */
  private final case class Vec(df: DataFrame, labels: Seq[String],
      rateDiv: Option[Double] = None, sortDesc: Option[Boolean] = None,
      sortLabels: Seq[String] = Nil)

  /** Apply the deferred rate division (no-op for non-rate vectors). */
  private def materialize(v: Vec): Vec = v.rateDiv match {
    case Some(d) =>
      Vec(v.df.withColumn("value", col("value").cast("double") / lit(d)),
        v.labels, None, v.sortDesc, v.sortLabels)
    case None => v
  }

  private def fail(msg: String): Nothing = throw new PromQLCompileException(msg)

  /** The selector's evaluation bound (µs): the evaluation instant
    * shifted by `offset` plus the compile shift — or, under an
    * absolute `@` pin, the pin minus `offset` ONLY. A pin is
    * shift-IMMUNE: in shifted compiles (query_range slices, subquery
    * instants) upstream Prometheus holds `v @ t0` constant; it does
    * not slide with the slice (the mirror of the r11 time() fix).
    */
  private def selectorBound(sel: Selector, shiftS: Long): Column = sel.atS match {
    case Some(t0) => lit((t0 - sel.offsetS.getOrElse(0L)) * 1000000L)
    case None => col("_t_us") - lit((sel.offsetS.getOrElse(0L) + shiftS) * 1000000L)
  }

  /** Histogram families ingested as NATIVE (exponential sparse-bucket)
    * histograms for the current compilation — the scrape-config analog
    * of Prometheus 3.x's per-target sample kind. `histogram_quantile` /
    * `histogram_fraction` dispatch on membership: native families route
    * through the sparse-bucket plans (shared literal bounds +
    * [[graft.functions.DetMath.exp2]] interpolation), everything else
    * keeps the classic explicit-boundary path. Scoped per compile call
    * via [[compile]]'s `nativeFamilies` parameter.
    */
  private val nativeFams =
    new scala.util.DynamicVariable[Set[String]](Set.empty)

  /** Standing RECORDING RULES for the current compilation: name →
    * parsed rule expr. A selector naming a recorded series compiles to
    * the rule's plan at the selector's instant (VIEW semantics — the
    * batch reading of upstream's rule loop writing recorded samples to
    * the TSDB, where a later query selects them like any series).
    * Scoped via [[withRecordedRules]]; the HTTP server wraps its
    * query handlers so a standing rule file makes recorded names
    * selectable over the API, exactly like a real Prometheus.
    */
  private val recordedRules =
    new scala.util.DynamicVariable[Map[String, (Ast, Long)]](Map.empty)

  /** The record names in the CURRENT compile scope — serving layers
    * (federation, series metadata) branch on them without re-plumbing
    * the rule map itself.
    */
  private[graft] def currentRecordedNames: Set[String] =
    recordedRules.value.keySet

  /** Names currently being expanded — the cycle guard (`a: a + 1`
    * would otherwise recurse at compose time).
    */
  private val expanding =
    new scala.util.DynamicVariable[Set[String]](Set.empty)

  /** Standing ALERT rules for the current compilation: selecting the
    * synthetic `ALERTS` series (upstream's queryable
    * `ALERTS{alertname=…, alertstate="pending"/"firing"}`) evaluates
    * every rule's pending→firing ladder at the selector's effective
    * instant — the batch reading of upstream's rule loop writing the
    * ALERTS samples to its TSDB. Scoped like [[withRecordedRules]].
    */
  private val alertRulesVar =
    new scala.util.DynamicVariable[Seq[Rules.AlertRule]](Nil)
  private[graft] def withAlertRules[T](rules: Seq[Rules.AlertRule])(
      f: => T): T =
    if (rules.isEmpty) f else alertRulesVar.withValue(rules)(f)

  private[graft] def withRecordedRules[T](rules: Seq[Rules.RecordingRule])(
      f: => T): T =
    if (rules.isEmpty) f
    else {
      val universe = (MetricEvent.CounterNames ++ MetricEvent.GaugeNames ++
        MetricEvent.HistogramNames).toSet
      val m = rules.map { r =>
        if (universe.contains(r.record))
          fail(s"recording rule '${r.record}' shadows an ingested family")
        if (r.intervalS <= 0)
          fail(s"recording rule '${r.record}': evaluation interval must be positive (${r.intervalS}s)")
        r.record -> (Parser.parse(r.expr), r.intervalS)
      }.toMap
      recordedRules.withValue(m)(f)
    }

  /** The rule state a POST-inline Ast still depends on — a cache-key
    * ingredient ([[ResultsCache]]): empty when the tree references no
    * recorded name (fully inlined — the common case, letting a recorded
    * spelling share cached chunks with its hand-written expansion), the
    * standing rule map ITSELF otherwise (a non-inlinable recorded
    * selector reads the map at compile time, so two servers in one JVM
    * with different rule files must never share its chunks, and a
    * rule-file change must read as a different state). The key carries
    * the MAP, not a hash of it: Ast case classes compare structurally,
    * and a 32-bit fingerprint would let two different rule files
    * collide into each other's cached chunks.
    */
  private[graft] def residualRules(ast: Ast): Map[String, (Ast, Long)] =
    if (recordedRules.value.isEmpty) Map.empty
    else {
      var hit = false
      def walk(a: Ast): Unit = a match {
        case s: Selector =>
          if (recordedRules.value.contains(s.name)) hit = true
        case Agg(_, _, _, arg) => walk(arg)
        case Func(_, _, arg) => walk(arg)
        case b: BinOp => walk(b.left); walk(b.right)
        case _: NumLit => ()
        case Subquery(inner, _, _) => walk(inner)
        case CountValues(_, arg) => walk(arg)
        case SmoothFunc(_, _, arg) => walk(arg)
        case HistFraction(_, _, arg) => walk(arg)
        case LabelFunc(_, _, arg) => walk(arg)
      }
      walk(ast)
      if (hit) recordedRules.value else Map.empty
    }

  /** The internal marker wrapping an inlined NAME-RETAINING recording
    * rule: re-apply the RECORD's name to the inner vector at the
    * relation level (a pure column rewrite — commutes with grid
    * instants, so dense-grid panels serve these rules at full scale
    * too). Never produced by the parser (`label_…` names only), only by
    * [[inlineRecorded]].
    */
  private[promql] val RecordNameFn = "__record_name__"

  /** Inline recorded-rule selectors as their rule EXPRESSIONS — the
    * AST-level rewrite that lets the dense-grid/pyramid/sharded
    * query_range tiers serve recorded names at full scale (the
    * per-selector [[recordedVector]] path is instant-only). Only the
    * bare form inlines (no matchers/range/offset/@ — those need the
    * post-hoc semantics the instant path implements). A rule whose
    * compiled vector RETAINS the `name` column (e.g. `raw: purchase`)
    * must rename its output to the record name; the inlined tree
    * expresses that through the internal [[RecordNameFn]] wrapper, a
    * relation-level column rewrite. Cycle guard shared with the
    * instant path's semantics.
    */
  private[graft] def inlineRecorded(spark: SparkSession, dir: String,
      ast: Ast): Ast =
    if (recordedRules.value.isEmpty) ast
    else {
      val retains = scala.collection.mutable.HashMap.empty[String, Boolean]
      def retainsName(name: String, rule: Ast): Boolean =
        retains.getOrElseUpdate(name,
          expanding.withValue(expanding.value + name)(
            compileVec(spark, dir, Ast.resolveAtEdges(rule, None, None), 0L))
            .labels.contains("name"))
      def r(a: Ast, seen: Set[String]): Ast = a match {
        case s: Selector =>
          recordedRules.value.get(s.name) match {
            case Some((rule, _)) if s.matchers.isEmpty && s.rangeS.isEmpty &&
                s.offsetS.isEmpty && s.atS.isEmpty =>
              if (seen.contains(s.name))
                fail(s"recording rule '${s.name}' is (transitively) self-referential")
              if (retainsName(s.name, rule))
                LabelFunc(RecordNameFn, Seq(s.name), r(rule, seen + s.name))
              else r(rule, seen + s.name)
            case _ => s
          }
        case Agg(op, g, p, arg) => Agg(op, g, p, r(arg, seen))
        case Func(n, p, arg) => Func(n, p, r(arg, seen))
        case b: BinOp => b.copy(left = r(b.left, seen), right = r(b.right, seen))
        case n: NumLit => n
        case Subquery(inner, w, st) => Subquery(r(inner, seen), w, st)
        case CountValues(d, arg) => CountValues(d, r(arg, seen))
        case SmoothFunc(sf, tf, arg) => SmoothFunc(sf, tf, r(arg, seen))
        case HistFraction(lo, hi, arg) => HistFraction(lo, hi, r(arg, seen))
        case LabelFunc(n, args, arg) => LabelFunc(n, args, r(arg, seen))
      }
      r(ast, Set.empty)
    }

  /** The rule shapes the recorded grid machinery can serve with one
    * event pass: a bare counter/gauge selector or `sum by (…)` of one,
    * no range/@ of its own. Returns the output labels, the inner
    * selector, and the family kind (counters ride
    * [[gridCounterInstants]] running sums; gauges ride
    * [[gridGaugeInstants]] LWW reconstruction).
    */
  private def recordedFastShape(
      ruleAst: Ast): Option[(Seq[String], Selector, String)] =
    Ast.resolveAtEdges(ruleAst, None, None) match {
      case s2: Selector if s2.rangeS.isEmpty && s2.atS.isEmpty &&
          MetricEvent.CounterNames.contains(s2.name) =>
        Some((SeriesKey, s2, "counter"))
      case Agg("sum", Some(("by", ls)), None, s2: Selector)
          if s2.rangeS.isEmpty && s2.atS.isEmpty &&
            MetricEvent.CounterNames.contains(s2.name) =>
        Some((ls.map(labelCol), s2, "counter"))
      case s2: Selector if s2.rangeS.isEmpty && s2.atS.isEmpty &&
          MetricEvent.GaugeNames.contains(s2.name) =>
        Some((SeriesKey, s2, "gauge"))
      case Agg("sum", Some(("by", ls)), None, s2: Selector)
          if s2.rangeS.isEmpty && s2.atS.isEmpty &&
            MetricEvent.GaugeNames.contains(s2.name) =>
        Some((ls.map(labelCol), s2, "gauge"))
      case _ => None
    }

  /** Per-lattice-instant snapshots of a fast-shape rule, unified to
    * `(labels…, _i, value)`: counter rules keep the exact DECIMAL
    * running sums; gauge LWW values cast through DECIMAL(38,12) —
    * exactly the union fallback's cast, so union ≡ grid stays
    * bit-identical for either kind.
    */
  private def recordedFastInstants(spark: SparkSession, dir: String,
      labels: Seq[String], s2: Selector, kind: String, shiftS: Long,
      g: Long, stepS: Long): DataFrame = kind match {
    case "counter" =>
      gridCounterInstants(spark, dir, s2, labels, shiftS, g, stepS)
        .select((labels :+ "_i").map(col) :+ col("value"): _*)
    case "gauge" =>
      val (df0, _) = gridGaugeInstants(spark, dir, s2, shiftS, g, stepS,
        if (labels == SeriesKey) None else Some(labels))
      df0.select((labels :+ "_i").map(col) :+
        col("_v").cast(DecimalType(38, 12)).as("value"): _*)
  }

  /** Record-name rewrite + post-hoc matchers over a recorded grid
    * relation — the exact [[recordedVector]]/[[recordedRangeFunc]]
    * semantics (a label the rule aggregated away matches `""`), shared
    * by the recorded dense-grid arms.
    */
  private def recordedGridPostHoc(df: DataFrame, labels: Seq[String],
      sel: Selector): DataFrame = {
    val named =
      if (labels.contains("name")) df.withColumn("name", lit(sel.name))
      else df
    val flt = sel.matchers.filterNot(_.label == "__name__")
      .foldLeft(lit(true)) { (acc, m) =>
        val cn = labelCol(m.label)
        val c = if (labels.contains(cn)) col(cn) else lit("")
        acc && (m.op match {
          case "=" => c === m.value
          case "!=" => c =!= m.value
          case "=~" => c.rlike(s"^(?:${m.value})$$")
          case "!~" => !c.rlike(s"^(?:${m.value})$$")
        })
      }
    named.filter(flt)
  }

  /** The windowed subset the recorded dense-grid arm serves (the
    * sliding-lattice strategy; the rest keep the union path).
    */
  private val RecordedGridOverTimeFns: Set[String] = Set(
    "sum_over_time", "avg_over_time", "min_over_time", "max_over_time",
    "count_over_time", "last_over_time", "present_over_time", "delta")

  /** A selector over a RECORDED series: the rule's plan evaluated at
    * the selector's effective instant (offset and absolute `@` pins
    * compose onto the surrounding shift), matchers applied post-hoc on
    * whatever label columns the recorded vector retains — a label the
    * vector aggregated away matches as the empty value, upstream's
    * missing-label rule. The `name` column (when retained) takes the
    * RECORD's name, like upstream renaming the output series. Range
    * selectors over recorded names refuse loudly — recorded history
    * re-evaluation is the query_range tier's job, not a hidden
    * per-sample materialization.
    */
  private def recordedVector(spark: SparkSession, dir: String,
      sel: Selector, ruleAst: Ast, shiftS: Long): Vec = {
    if (sel.rangeS.isDefined)
      fail(s"recorded series '${sel.name}' used as a bare range vector; " +
        "wrap it in rate/increase/delta or a *_over_time function")
    if (expanding.value.contains(sel.name))
      fail(s"recording rule '${sel.name}' is (transitively) self-referential")
    val shiftEff = sel.atS match {
      case Some(t0) =>
        instantSeconds(spark, dir).toLong - (t0 - sel.offsetS.getOrElse(0L))
      case None => shiftS + sel.offsetS.getOrElse(0L)
    }
    val v = expanding.withValue(expanding.value + sel.name)(
      compileVec(spark, dir, Ast.resolveAtEdges(ruleAst, None, None), shiftEff))
    Vec(recordedGridPostHoc(v.df, v.labels, sel), v.labels)
  }

  /** Range functions a recorded series supports (the sample-grid walk
    * below); the one remaining refusal is
    * `double_exponential_smoothing` — inherently iterative (rows-only
    * even on raw series), so recorded support would only add ungateable
    * surface.
    */
  private val RecordedRangeFns: Set[String] = Set(
    "rate", "increase", "delta",
    "sum_over_time", "avg_over_time", "min_over_time", "max_over_time",
    "count_over_time", "last_over_time", "present_over_time",
    "irate", "idelta", "deriv", "predict_linear", "changes", "resets",
    "quantile_over_time", "mad_over_time",
    "stddev_over_time", "stdvar_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")

  /** Adjacent-pair counters over the rule lattice (`changes`/`resets`):
    * exact DECIMAL comparisons on the rule's own values — no cents
    * quantization, so ANY rule shape serves (the union fallback's
    * DECIMAL(38,12) values compare exactly too). Upstream counts only
    * pairs with BOTH samples inside the window.
    */
  private val RecordedPairFns: Set[String] = Set("changes", "resets")

  /** The recorded-range functions that run on exact integer CENTS of
    * the rule's sample values (the engine's 2-decimal sample
    * convention): a fast-shape rule (a bare selector or `sum by` of
    * one) sums raw 2-decimal samples, so its cents are exact and the
    * closed-form walks reproduce bit-for-bit on any engine. Arbitrary
    * rule expressions (rates, ratios) carry 12-decimal derived values a
    * cents quantization would silently coarsen — those refuse loudly.
    */
  private val RecordedCentsFns: Set[String] = Set(
    "irate", "idelta", "deriv", "predict_linear",
    "quantile_over_time", "mad_over_time",
    "stddev_over_time", "stdvar_over_time")

  /** The timestamp-recovering recorded-range functions: they only
    * COMPARE the rule's own exact DECIMAL values (no arithmetic), so
    * ANY rule shape serves them — the output is a lattice write time,
    * exact integer micros until one final double division.
    */
  private val RecordedTsFns: Set[String] = Set(
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")

  /** A RANGE selector over a RECORDED series: upstream's rule loop
    * writes a sample of `record` at every evaluation interval, and a
    * later `rate(record[d])` windows over those written samples. The
    * batch reading: re-derive the samples the loop would have written —
    * the rule expression evaluated on its own interval grid, anchored
    * at the selector's effective instant — then collapse the window.
    *
    *  - Sample grid: instants T−d, T−d+iv, …, T (`rate`/`increase`
    *    carry the T−d baseline; the left-open window (T−d, T] itself
    *    holds the g = d/iv instants after it). `d` must be a positive
    *    multiple of the rule's interval (compose-time check) so the
    *    window edge lands on a rule instant.
    *  - `rate`/`increase`: reset-aware adjacent-sample walk —
    *    each sample contributes `v − prev` (or `v` after a reset, and
    *    `v` for a series BORN inside the window: its whole mass
    *    accumulated in-window, which keeps the engine's exact-window
    *    identity `rate(sum_rule[d]) ≡ sum by (…) (rate(raw[d]))`
    *    bit-exact; upstream's first-sample-is-baseline reading loses
    *    that mass, a known counter-start artifact its
    *    created-timestamp work is removing).
    *  - `delta`: last − first over the in-window samples (gauge
    *    reading); `*_over_time`: plain aggregates over them.
    *  - Matchers apply post-hoc on the rule vector's labels with the
    *    aggregated-away-label-matches-`""` rule, offset/`@` compose
    *    onto the grid anchor — both exactly as the instant path
    *    ([[recordedVector]]).
    *
    * Physical strategies mirror [[subqueryOverTime]]: a rule of shape
    * `sum by (…) (counter)` (or a bare counter selector) rides
    * [[gridCounterInstants]] — ONE event pass + a running-sum window
    * over the series×grid, so a 4-day window at a 6-hour interval costs
    * no extra scans; any other rule shape falls to the compile-time
    * union of per-instant plans (bound 64 instants).
    */
  private def recordedRangeFunc(spark: SparkSession, dir: String, fn: String,
      param: Option[Double], sel: Selector, ruleAst: Ast, ivS: Long,
      shiftS: Long): Vec = {
    if (!RecordedRangeFns.contains(fn))
      fail(s"$fn over recorded series '${sel.name}' is not supported " +
        s"(supported: ${RecordedRangeFns.toSeq.sorted.mkString(", ")})")
    if (expanding.value.contains(sel.name))
      fail(s"recording rule '${sel.name}' is (transitively) self-referential")
    val d = sel.rangeS.getOrElse(
      fail(s"$fn requires a range selector, e.g. $fn(${sel.name}[5m])"))
    if (d < ivS || d % ivS != 0)
      fail(s"range (${d}s) over recorded series '${sel.name}' must be a " +
        s"positive multiple of its evaluation interval (${ivS}s)")
    val g = (d / ivS).toInt
    val shiftEff = sel.atS match {
      case Some(t0) =>
        instantSeconds(spark, dir).toLong - (t0 - sel.offsetS.getOrElse(0L))
      case None => shiftS + sel.offsetS.getOrElse(0L)
    }
    val withBaseline = fn == "rate" || fn == "increase"
    val resolved = Ast.resolveAtEdges(ruleAst, None, None)
    if (RecordedCentsFns.contains(fn) && recordedFastShape(resolved).isEmpty)
      fail(s"$fn over recorded series '${sel.name}' needs a selector or " +
        "sum-by rule shape (the exact-integer walk); query the rule's " +
        "expression directly for other shapes")
    val (grid0, labels) = expanding.withValue(expanding.value + sel.name)(
      recordedSampleGrid(spark, dir, resolved, shiftEff, g, ivS, withBaseline))
    // the rule loop writes samples named by the RECORD and matchers read
    // the recorded vector's labels — the shared post-hoc transform
    val grid = recordedGridPostHoc(grid0, labels, sel)
    val sk = labels.map(col)
    fn match {
      case "rate" | "increase" =>
        // grid rows 1..g+1; row 1 is the T−d baseline OUTSIDE the
        // left-open window — it seeds `lag` and is then dropped
        val w = Window.partitionBy(sk: _*).orderBy(col("_i"))
        val withPrev = grid.withColumn("_prev", lag(col("value"), 1).over(w))
        val contrib = when(col("_prev").isNull, col("value"))
          .otherwise(when(col("value") >= col("_prev"),
            col("value") - col("_prev")).otherwise(col("value")))
        val summed = withPrev.filter(col("_i") > 1)
          .withColumn("_c", contrib)
          .groupBy(sk: _*).agg(sum(col("_c")).as("value"))
        if (fn == "increase") Vec(summed, labels)
        else Vec(summed, labels, rateDiv = Some(d.toDouble))
      case "delta" =>
        // gauge reading: last − first over the in-window samples (one
        // sample → 0, mirroring the raw-range delta recipe)
        Vec(grid.groupBy(sk: _*)
          .agg((max_by(col("value"), col("_i")) -
            min_by(col("value"), col("_i"))).as("value")), labels)
      case "last_over_time" =>
        Vec(grid.groupBy(sk: _*)
          .agg(max_by(col("value"), col("_i")).as("value")), labels)
      case "present_over_time" =>
        Vec(grid.groupBy(sk: _*).agg(max(lit(1.0)).as("value")), labels)
      case "irate" | "idelta" =>
        // the LAST TWO rule instants in the window (the left-open
        // window holds g = d/iv samples; a series with only one —
        // g == 1, or born at the final instant — returns nothing,
        // upstream's two-sample requirement). Recorded series are
        // untyped float series upstream (the rule loop writes plain
        // samples), so no family-kind check applies — irate reads
        // reset-aware, idelta reads last − previous, on any rule.
        val m = grid
          .withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .filter(col("_i") >= g - 1)
          .groupBy(sk: _*)
          .agg(max(when(col("_i") === g, col("_cents"))).as("_c1"),
            max(when(col("_i") === g - 1, col("_cents"))).as("_c2"))
          .filter(col("_c1").isNotNull && col("_c2").isNotNull)
        val v =
          if (fn == "idelta") (col("_c1") - col("_c2")).cast("double") / 100.0
          else when(col("_c1") >= col("_c2"), col("_c1") - col("_c2"))
            .otherwise(col("_c1")).cast("double") / 100.0 / lit(ivS.toDouble)
        Vec(m.select(sk :+ v.as("value"): _*), labels)
      case "changes" | "resets" =>
        // adjacent in-window pairs only (the lag is window-internal:
        // each series' first in-window sample has no predecessor —
        // upstream's both-ends-in-window rule); exact DECIMAL equality
        // on the rule's own values, any rule shape; a present series
        // with no pairs reads 0 (upstream emits 0, not absent).
        // Recorded series are untyped floats upstream, so no
        // family-kind check applies to either function.
        val w = Window.partitionBy(sk: _*).orderBy(col("_i"))
        val c = grid.withColumn("_prev", lag(col("value"), 1).over(w))
        val ind =
          if (fn == "changes")
            col("_prev").isNotNull && col("value") =!= col("_prev")
          else col("_prev").isNotNull && col("value") < col("_prev")
        Vec(c.groupBy(sk: _*)
          .agg(sum(when(ind, 1L).otherwise(0L)).cast("double").as("value")),
          labels)
      case "deriv" | "predict_linear" =>
        // exact-integer least squares on the rule lattice — the b25
        // construction carried onto recorded samples: x = i·iv whole
        // seconds since the window start T−d (instant i sits at
        // T−d+i·iv), y = exact cents; five BIGINT sums in ONE
        // map-side-combinable aggregate, closed-form divisions in the
        // identical order as the oracle. A series present at a single
        // instant has zero x-variance and returns nothing (upstream's
        // degenerate-fit rule).
        // moments sum in DECIMAL(38,0): a year-long range over a
        // fine-interval rule pushes n·Σx² past Long range, where a raw
        // long sum would silently wrap (the per-term products stay
        // well inside Long; only the sums need the headroom) — and the
        // dense-grid arm + the HUGEINT-summing oracle are exact, so
        // this keeps grid ≡ union ≡ oracle in every regime
        val dec0 = DecimalType(38, 0)
        val c = grid
          .withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .withColumn("_x", col("_i") * lit(ivS))
        val a = c.groupBy(sk: _*)
          .agg(count(lit(1)).as("_n"),
            sum(col("_x").cast(dec0)).as("_sx"),
            sum(col("_cents").cast(dec0)).as("_sy"),
            sum((col("_x") * col("_cents")).cast(dec0)).as("_sxy"),
            sum((col("_x") * col("_x")).cast(dec0)).as("_sxx"))
          .filter(col("_n") * col("_sxx") - col("_sx") * col("_sx") =!=
            lit(0).cast(dec0))
        val slope = (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
        val v =
          if (fn == "deriv") slope / 100.0
          else {
            val horizon = param.getOrElse(
              fail("predict_linear needs a horizon parameter in seconds"))
            ((col("_sy").cast("double") - slope * col("_sx").cast("double")) /
              col("_n").cast("double") + slope * lit(d.toDouble + horizon)) / 100.0
          }
        Vec(a.select(sk :+ v.as("value"): _*), labels)
      case "quantile_over_time" | "mad_over_time" |
           "stddev_over_time" | "stdvar_over_time" |
           "ts_of_last_over_time" | "ts_of_max_over_time" |
           "ts_of_min_over_time" =>
        // the raw-range recipes ([[rangeWindowAgg]]) run VERBATIM on
        // the rule lattice: instant i carries the rule loop's write
        // timestamp anchor − (g−i)·iv (integer micros → one double
        // division, so ts_of_* values bit-match any engine) and `_i`
        // stands in for the event_id tiebreak — unique per (series,
        // instant) and ordered exactly like the write times it
        // represents. The rank/moment recipes read exact integer cents
        // (the RecordedCentsFns fast-shape gate above guarantees them);
        // ts_of_* only COMPARE the rule's own exact DECIMAL values, so
        // ANY rule shape serves those three.
        val anchorUs = instantDf(spark, dir).head().getLong(0) -
          shiftEff * 1000000L
        val based = grid
          .withColumn("ts", timestamp_micros(lit(anchorUs) -
            (lit(g.toLong) - col("_i")) * lit(ivS * 1000000L)))
          .withColumn("event_id", col("_i"))
        Vec(rangeWindowAgg(fn, param, based, labels, lit(0L), d,
          "recorded", sel.name), labels)
      case other =>
        Vec(overTimeCollapse(other, grid, labels), labels)
    }
  }

  /** The samples a recording rule's loop would have written, as a
    * relation: (rule-vector labels…, `_i`, `value`) over grid instants
    * `anchor − (G−i)·iv`, i = 1..G (G = g+1 when the caller needs the
    * T−d baseline row). Strategy per the rule's shape — see
    * [[recordedRangeFunc]]; the union fallback casts values through
    * DECIMAL(38,12) downstream-safe doubles exactly like the subquery
    * union path, the counter-grid path stays DECIMAL end to end.
    */
  private def recordedSampleGrid(spark: SparkSession, dir: String,
      ruleAst: Ast, shiftS: Long, g: Int, ivS: Long,
      withBaseline: Boolean): (DataFrame, Seq[String]) = {
    val G = if (withBaseline) g + 1 else g
    recordedFastShape(ruleAst) match {
      case Some((labels, s2, kind)) =>
        if (G > 4096)
          fail(s"recorded range evaluates $G rule instants; 1..4096 supported (grid strategy)")
        (recordedFastInstants(spark, dir, labels, s2, kind, shiftS,
          G.toLong, ivS), labels)
      case None =>
        if (G > 64)
          fail(s"recorded range evaluates $G rule instants; 1..64 supported for this rule shape (compose-time bound)")
        val vecs = (1 to G).map { i =>
          val v = materialize(compileVec(spark, dir, ruleAst,
            shiftS + (G - i).toLong * ivS))
          (v.df.withColumn("_i", lit(i.toLong)), v.labels)
        }
        val labels = vecs.head._2
        val unioned = vecs.map { case (df, _) =>
          df.select((labels :+ "_i").map(col) :+
            col("value").cast(DecimalType(38, 12)).as("value"): _*)
        }.reduce(_ unionAll _)
        (unioned, labels)
    }
  }

  /** Det-math compilation mode (`Engine.eval(..., detMath = true)`):
    * every libm-routed scalar function and binary op (`exp`/`ln`/
    * trig/`^`/`atan2` …) compiles through the engine's deterministic
    * transcendentals ([[graft.plans.DetMathExprs]]) instead of libm —
    * the reproducible-recipe option (stored thresholds, replayable
    * alerts, cross-engine hash parity) at ≤ ~1e-12 from libm. Default
    * off: upstream-Prometheus JVM-libm parity.
    */
  private val detMode =
    new scala.util.DynamicVariable[Boolean](false)

  /** Order-safe exact sum of RAW SAMPLES: doubles enter DECIMAL(18,2)
    * once (the engine-wide 2-decimal sample convention), already-decimal
    * values sum with Spark's automatic precision widening — never a raw
    * double sum, so results are identical on any partitioning.
    */
  private def exactSum(df: DataFrame): Column =
    if (df.schema("value").dataType.isInstanceOf[DecimalType]) sum(col("value"))
    else sum(col("value").cast(DecimalType(18, 2)))

  /** Order-safe sum of VECTOR values (post-selector): decimal vectors
    * sum exactly; genuinely-double vectors (post-arithmetic, post-scalar
    * function) sum through DECIMAL(38,12) — deterministic and
    * associative under any partitioning, with ≤ 5e-13 per-term rounding
    * instead of DECIMAL(18,2)'s 0.005 (the raw-sample convention must
    * NOT re-quantize derived values).
    */
  private def vectorSum(df: DataFrame): Column =
    if (df.schema("value").dataType.isInstanceOf[DecimalType]) sum(col("value"))
    else sum(col("value").cast(DecimalType(38, 12)))

  private def kindOf(name: String): String =
    if (MetricEvent.CounterNames.contains(name)) "counter"
    else if (MetricEvent.GaugeNames.contains(name)) "gauge"
    else if (MetricEvent.HistogramNames.contains(name)) "histogram"
    else if (recordedRules.value.contains(name))
      fail(s"recorded series '$name' cannot be used here (supported over " +
        "recorded names: instant selectors and rate/increase/delta/irate/" +
        "idelta/deriv/predict_linear/changes/resets/*_over_time range " +
        "selectors)")
    else fail(s"unknown metric family '$name' (compose-time check)")

  /** The label universe: PromQL label name → event-view column. Series
    * carry the exposition-side label `k` (`prometheus.cpp:189-192`) and
    * the scrape-side target label `instance` (see
    * [[Metrics.metricEventsOf]]); the full series identity is
    * `(name, k, instance)`.
    */
  private val LabelUniverse: Map[String, String] =
    Map("k" -> "label_k", "instance" -> "label_instance")

  /** Every label column of the series key, in canonical order. */
  private val SeriesKey: Seq[String] = Seq("name", "label_k", "label_instance")

  private[graft] def labelCol(l: String): String =
    LabelUniverse.getOrElse(l, fail(s"unknown label '$l' (series carry labels " +
      s"${LabelUniverse.keys.toSeq.sorted.mkString("'", "', '", "'")})"))

  private[graft] def matcherFilter(ms: Seq[Matcher]): Column =
    ms.filterNot(_.label == "__name__") // resolved statically, see nameFilter
      .foldLeft(lit(true)) { (acc, m) =>
      val c = col(labelCol(m.label))
      val one = m.op match {
        case "=" => c === m.value
        case "!=" => c =!= m.value
        case "=~" => c.rlike(s"^(?:${m.value})$$") // PromQL fully anchors
        case "!~" => !c.rlike(s"^(?:${m.value})$$")
      }
      acc && one
    }

  /** Resolve a selector's metric families at COMPOSE time: a literal
    * name, or `{__name__=...}` matchers evaluated against the static
    * name universe — so cross-family selectors keep the A7 checks (the
    * matched set must exist and be kind-uniform) and compile to an
    * `IN`-list scan filter, never a runtime regex over the name column.
    */
  private def resolveNames(sel: Selector): Seq[String] = {
    if (sel.name.nonEmpty) Seq(sel.name)
    else {
      val all = MetricEvent.CounterNames ++ MetricEvent.GaugeNames ++
        MetricEvent.HistogramNames
      val nameMs = sel.matchers.filter(_.label == "__name__")
      if (nameMs.isEmpty)
        fail("a selector needs a metric name or a __name__ matcher")
      val matched = all.filter(n => nameMs.forall(m => m.op match {
        case "=" => n == m.value
        case "!=" => n != m.value
        case "=~" => n.matches(s"(?:${m.value})")
        case "!~" => !n.matches(s"(?:${m.value})")
      }))
      if (matched.isEmpty)
        fail(s"no metric family matches the __name__ matchers (universe: ${all.mkString(", ")})")
      matched
    }
  }

  /** The scan predicate for a resolved name set. */
  private def nameFilter(names: Seq[String]): Column =
    if (names.lengthCompare(1) == 0) col("name") === names.head
    else col("name").isin(names: _*)

  /** The (compose-time-checked) uniform kind of a resolved name set. */
  private def kindOfAll(names: Seq[String]): String = {
    val kinds = names.map(kindOf).distinct
    if (kinds.length > 1)
      fail(s"selector matches families of mixed kinds (${names.mkString(", ")})")
    kinds.head
  }

  /** The 1-row evaluation-instant aggregate, persisted per
    * (session, sf): without this every selector in a query re-runs the
    * max-ts pass over the events relation — one full scan per selector
    * at 100 TB. Entries are dropped at application end.
    */
  private val instantCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Events with the evaluation instant `_t_us` (max ts) broadcast onto
    * every row — a broadcast of the cached 1-row aggregate, never a
    * driver round-trip.
    */
  private def instantDf(spark: SparkSession, dir: String): DataFrame =
    instantCache.computeIfAbsent((spark, dir), k => {
      graft.operators.SessionCaches.onApplicationEnd(spark)(() => instantCache.remove(k))
      Metrics.metricEvents(spark, dir)
        .select(max(unix_micros(col("ts"))).as("_t_us")).persist()
    })

  /** The 1-row corpus-START aggregate (min ts), cached like
    * [[instantCache]]: the rule lattice needs the corpus span per
    * request (remote read of recorded series, the metadata doors) —
    * without this every `recordedSeriesRelation` call re-runs the
    * min-ts pass over the events relation, one scan per rule per
    * request.
    */
  private val minInstantCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The corpus start (min ts) in epoch seconds, from the cached 1-row
    * aggregate — the rule lattice's lower bound.
    */
  private[graft] def minInstantSeconds(spark: SparkSession,
      dir: String): Double =
    minInstantCache.computeIfAbsent((spark, dir), k => {
      graft.operators.SessionCaches.onApplicationEnd(spark)(() =>
        minInstantCache.remove(k))
      Metrics.metricEvents(spark, dir)
        .select(min(unix_micros(col("ts"))).as("_t0_us")).persist()
    }).head().getLong(0) / 1e6

  /** Drop this session's cached evaluation-instant aggregates (the
    * manual analog of the application-end eviction; see
    * [[graft.Graft.releaseCaches]]). Returns the dirs released.
    */
  def unpersistInstants(spark: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    Seq(instantCache, minInstantCache).flatMap { cache =>
      cache.keySet.asScala.filter(_._1 eq spark).map { k =>
        Option(cache.remove(k)).foreach(_.unpersist())
        k._2
      }
    }.toSet
  }

  /** Silver-table swap (SURVEY §8): seed the 1-row eval-instant cache
    * (the watermark-table analog) with a materialized aggregate; every
    * selector keeps reading it through [[instantDf]] unchanged.
    */
  private[graft] def seedInstant(spark: SparkSession, dir: String,
      silver: DataFrame): Unit = {
    require(silver.columns.toSeq == Seq("_t_us"),
      s"silver eval-instant schema ${silver.columns.toSeq} != Seq(_t_us)")
    instantCache.put((spark, dir), silver)
    graft.operators.SessionCaches.onApplicationEnd(spark)(() =>
      instantCache.remove((spark, dir)))
  }

  /** The evaluator's sample relation — STALENESS MARKERS FILTERED
    * ([[graft.model.Stale]]): upstream's range functions and window
    * reads never see markers, so every range/grid path built on this
    * is marker-invisible by construction. The INSTANT-read paths
    * ([[instantVector]], [[gridGaugeInstants]]) read [[eventsAll]]
    * instead and cut a series whose latest event within lookback is a
    * marker — upstream's other half of the marker contract.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    val all = eventsAll(spark, dir)
    // marker-free corpora (the cached per-session probe) skip the
    // filter: the marker-aware predicate compiles only when the view
    // can actually contain markers, so the 99% path pays nothing
    if (!Metrics.hasMarkers(spark, dir)) all
    else all.filter(!graft.plans.StaleExprs.isStaleC(col("value")))
  }

  private def eventsAll(spark: SparkSession, dir: String): DataFrame =
    Metrics.metricEvents(spark, dir).crossJoin(broadcast(instantDf(spark, dir)))

  /** The evaluation instant T in epoch seconds (serving layer: reads the
    * cached 1-row aggregate, not a new scan).
    */
  private[graft] def instantSeconds(spark: SparkSession, dir: String): Double =
    instantDf(spark, dir).head().getLong(0) / 1e6

  /** Compile `ast` evaluated `shiftS` seconds BEFORE the corpus instant
    * T (unsorted; the query_range API unions these per grid instant).
    */
  private[promql] def compileAt(spark: SparkSession, dir: String, ast: Ast,
      shiftS: Long): DataFrame = {
    val v = materialize(compileVec(spark, dir, ast, shiftS))
    v.df.select(v.labels.map(col) :+ col("value").cast("double").as("value"): _*)
  }

  private def instantVector(spark: SparkSession, dir: String, sel: Selector,
      shiftS: Long): Vec = {
    recordedRules.value.get(sel.name) match {
      case Some((ruleAst, _)) =>
        return recordedVector(spark, dir, sel, ruleAst, shiftS)
      case None => ()
    }
    if (sel.name == "ALERTS")
      return alertsVector(spark, dir, sel, shiftS)
    if (sel.name == "ALERTS_FOR_STATE")
      return alertsForStateVector(spark, dir, sel, shiftS)
    if (sel.rangeS.isDefined)
      fail(s"range selector ${sel.name}[..] is not an instant vector; wrap it in rate/increase/delta")
    val names = resolveNames(sel)
    val kind = kindOfAll(names)
    if (kind == "histogram")
      fail(s"histogram family '${sel.name}' has no scalar instant value; use histogram_quantile")
    // `@ t` pins the instant absolutely; offset/subquery shifts then
    // apply relative to it. INSTANT reads see markers ([[eventsAll]])
    // and cut a series whose latest event at the bound is one —
    // upstream's staleness semantics (B10).
    val bound = selectorBound(sel, shiftS)
    val st = graft.plans.StaleExprs.isStaleC(col("value"))
    // the staleness machinery (latest-event flags, marker filters)
    // compiles ONLY when the corpus can hold markers — the cached
    // per-session probe keeps the common path at the plain plan
    val marked = Metrics.hasMarkers(spark, dir)
    val base = eventsAll(spark, dir)
      .filter(nameFilter(names) && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) <= bound)
    kind match {
      case "counter" if !marked =>
        val f = base.filter(col("value") >= 0)
        Vec(f.groupBy(SeriesKey.map(col): _*)
          .agg(exactSum(f).as("value")), SeriesKey)
      case "counter" =>
        // the accumulated total sums real non-negative increments only;
        // the latest-event flag (markers included) cuts vanished series
        val f = base.withColumn("_stale", st)
        val sumCol =
          if (f.schema("value").dataType.isInstanceOf[DecimalType])
            sum(when(!col("_stale") && col("value") >= 0, col("value")))
          else
            sum(when(!col("_stale") && col("value") >= 0, col("value"))
              .cast(DecimalType(18, 2)))
        Vec(f.groupBy(SeriesKey.map(col): _*)
          .agg(sumCol.as("value"),
            max(struct(unix_micros(col("ts")).as("t"),
              col("event_id").as("e"), col("_stale").as("s"))).as("_l"))
          .filter(!col("_l").getField("s") && col("value").isNotNull)
          .select((SeriesKey.map(col) :+ col("value")): _*), SeriesKey)
      case "gauge" =>
        val w = Window.partitionBy(SeriesKey.map(col): _*)
          .orderBy(col("ts").desc, col("event_id").desc)
        val lww = base.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
        Vec((if (marked) lww.filter(!st) else lww)
          .select((SeriesKey.map(col) :+ col("value")): _*), SeriesKey)
    }
  }

  /** The synthetic `ALERTS` instant vector — upstream's queryable
    * alert-state series: one row per (rule, breaching series) at the
    * selector's effective instant, labeled `alertname`/`alertstate`
    * (`pending`/`firing` from the full pending→firing ladder incl.
    * `keep_firing_for`, [[Rules.alertStates]]); `offset`/`@` shift the
    * evaluation instant like any selector. Matchers filter on
    * `alertname`/`alertstate` plus the condition's own label universe.
    * Rule outputs with different label subsets align on the union
    * (absent labels null), the [[Rules.evaluateAlerts]] convention.
    */
  private def alertsVector(spark: SparkSession, dir: String, sel: Selector,
      shiftS: Long): Vec = {
    val rules = alertRulesVar.value
    if (rules.isEmpty)
      fail("selecting ALERTS needs standing alert rules " +
        "(Engine.eval(..., alertRules = ...) or withAlertRules)")
    if (sel.rangeS.isDefined)
      fail("ALERTS[..] range selection is not supported; " +
        "use Rules.alertStatesGrid for the state timeline")
    val tS = instantSeconds(spark, dir).toLong
    val boundS = sel.atS.map(_ - sel.offsetS.getOrElse(0L))
      .getOrElse(tS - sel.offsetS.getOrElse(0L) - shiftS)
    val offS = tS - boundS
    if (offS < 0)
      fail(s"ALERTS @ ${boundS}s is after the corpus instant ${tS}s")
    val frames = rules.map(r =>
      Rules.alertStates(spark, dir, r, Seq(offS)))
    val allLabels = Seq("name", "label_k", "label_instance")
      .filter(l => frames.exists(_.columns.contains(l)))
    val aligned = frames.map { f =>
      f.select(col("alertname") +: col("alertstate") +:
        (allLabels.map(l =>
          if (f.columns.contains(l)) col(l)
          else lit(null).cast("string").as(l)) :+ col("value")): _*)
    }
    val u = aligned.reduce(_ unionAll _)
    Vec(alertsMatcherFilter(u, sel), Seq("alertname", "alertstate") ++ allLabels)
  }

  /** The synthetic `ALERTS_FOR_STATE` instant vector — upstream's
    * restoration series: one row per ACTIVE (rule, breaching series) at
    * the selector's effective instant, labeled `alertname` plus the
    * condition's labels, value = `activeAt` in epoch seconds — the
    * FIRST instant of the series' current consecutive-breach streak on
    * the rule's evaluation lattice (upstream's "how long has this been
    * pending", what `for`-timer restoration reads after a restart; the
    * streaming twin persists the same fact via
    * [[graft.streaming.MetricStream.streamingForState]]).
    *
    * Shape: ONE dense-grid ladder per rule over the full corpus
    * lattice ([[Rules.alertStatesGridAt]], step = the rule interval,
    * ≤4096 instants — longer retentions cap the streak at the lattice
    * start), then one window pass picks each breaching-at-bound
    * series' suffix streak: rows satisfying
    * `t_s = bound − (rn−1)·interval` under a t_s-descending row_number
    * are EXACTLY the maximal consecutive run ending at the bound
    * (any break makes the equality unsatisfiable for later rows), so
    * `min(t_s)` over them is activeAt. A rule held firing by
    * `keep_firing_for` stays active through its grace instants
    * (upstream's active-map reading). For-less rules with no interval
    * evaluate the condition at the bound alone (activeAt = the bound).
    */
  private def alertsForStateVector(spark: SparkSession, dir: String,
      sel: Selector, shiftS: Long): Vec = {
    val rules = alertRulesVar.value
    if (rules.isEmpty)
      fail("selecting ALERTS_FOR_STATE needs standing alert rules " +
        "(Engine.eval(..., alertRules = ...) or withAlertRules)")
    if (sel.rangeS.isDefined)
      fail("ALERTS_FOR_STATE[..] range selection is not supported")
    if (sel.matchers.exists(_.label == "alertstate"))
      fail("ALERTS_FOR_STATE carries no alertstate label " +
        "(upstream's restoration series is state-free)")
    val tS = instantSeconds(spark, dir).toLong
    val boundS = sel.atS.map(_ - sel.offsetS.getOrElse(0L))
      .getOrElse(tS - sel.offsetS.getOrElse(0L) - shiftS)
    if (tS - boundS < 0)
      fail(s"ALERTS_FOR_STATE @ ${boundS}s is after the corpus instant ${tS}s")
    val minS = minInstantSeconds(spark, dir).toLong
    val frames = rules.map { r =>
      if (r.intervalS <= 0) {
        // for-less, interval-free: active = breaching at the bound
        val ast = Parser.parse(r.expr)
        val (df, lcs) = Rules.withSeriesKey(
          compileAt(spark, dir, ast, tS - boundS))
        df.select(lit(r.alert).as("alertname") +:
          (lcs.map(col) :+
            lit(boundS).cast("double").as("value")): _*)
      } else {
        val iv = r.intervalS
        // ≥1 even when the bound rewinds past the corpus start (a deep
        // offset/@): the one-instant ladder evaluates at the bound and
        // serves empty, upstream's reading, instead of refusing
        val L = math.max(1L, math.min((boundS - minS) / iv + 1L, 4096L))
        val startS = boundS - (L - 1) * iv
        val grid = Rules.alertStatesGridAt(spark, dir, r, startS, boundS, iv)
          .getOrElse(fail(s"alert '${r.alert}': no dense-grid strategy " +
            "for the condition shape under ALERTS_FOR_STATE"))
        val lcs = grid.columns
          .filterNot(Set("alertname", "alertstate", "t_s", "value")
            .contains).toSeq
        val w = Window.partitionBy(lcs.map(col): _*).orderBy(col("t_s").desc)
        grid.withColumn("_rn", row_number().over(w))
          .filter(col("t_s") ===
            lit(boundS) - (col("_rn") - 1).cast("long") * lit(iv))
          .groupBy((col("alertname") +: lcs.map(col)): _*)
          .agg(min(col("t_s")).cast("double").as("value"))
      }
    }
    val allLabels = Seq("name", "label_k", "label_instance")
      .filter(l => frames.exists(_.columns.contains(l)))
    val aligned = frames.map { f =>
      f.select(col("alertname") +:
        (allLabels.map(l =>
          if (f.columns.contains(l)) col(l)
          else lit(null).cast("string").as(l)) :+ col("value")): _*)
    }
    val u = aligned.reduce(_ unionAll _)
    Vec(alertsMatcherFilter(u, sel), Seq("alertname") ++ allLabels)
  }

  /** Post-hoc matcher application over an `ALERTS` relation — shared by
    * the instant arm ([[alertsVector]]) and the `query_range` grid arm:
    * matchers address `alertname`/`alertstate` plus the conditions'
    * own label universe.
    */
  private def alertsMatcherFilter(u: DataFrame, sel: Selector): DataFrame =
    sel.matchers.filterNot(_.label == "__name__")
      .foldLeft(u) { (acc, m) =>
        val c = m.label match {
          case "alertname" => col("alertname")
          case "alertstate" => col("alertstate")
          case other => col(labelCol(other))
        }
        acc.filter(m.op match {
          case "=" => c === m.value
          case "!=" => c =!= m.value
          case "=~" => c.rlike(s"^(?:${m.value})$$")
          case "!~" => !c.rlike(s"^(?:${m.value})$$")
        })
      }

  /** `double_exponential_smoothing(sel[d], sf, tf)` — the PromQL
    * level+trend recurrence over each series' ordered window samples
    * (s₀=y₀, b₀=y₁−y₀; sᵢ = sf·yᵢ + (1−sf)(sᵢ₋₁+bᵢ₋₁),
    * bᵢ = tf(sᵢ−sᵢ₋₁) + (1−tf)bᵢ₋₁). A sequential recurrence has no
    * mergeable partial state, so the scalable shape is one bounded
    * ordered array per series folded by a single `aggregate` HOF —
    * the same plan as the operator-layer holt_winters (rows-only in
    * the driver gate: float recurrence, spec-pinned instead).
    */
  private def smoothFunc(spark: SparkSession, dir: String, sf: Double,
      tf: Double, sel: Selector, shiftS: Long): Vec = {
    // upstream guards: sf strictly inside (0, 1); tf may equal 1
    if (sf <= 0 || sf >= 1) fail(s"smoothing factor must be in (0, 1), got $sf")
    if (tf <= 0 || tf > 1) fail(s"trend factor must be in (0, 1], got $tf")
    val d = sel.rangeS.getOrElse(fail(
      s"double_exponential_smoothing requires a range selector, e.g. (${sel.name}[1h], 0.5, 0.3)"))
    val names = resolveNames(sel)
    val kind = kindOfAll(names)
    if (kind != "gauge")
      fail(s"double_exponential_smoothing expects a gauge family, '${sel.name}' is a $kind")
    val hi = selectorBound(sel, shiftS)
    val lo = hi - lit(d * 1000000L)
    val base = events(spark, dir)
      .filter(nameFilter(names) && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) > lo && unix_micros(col("ts")) <= hi)
    Vec(smoothCollapse(sf, tf, base, SeriesKey), SeriesKey)
  }

  /** The double-exponential-smoothing collapse (sorted window values →
    * the Holt-Winters fold), shared VERBATIM between the per-instant
    * union path (`key = SeriesKey`) and the query_range grid
    * (`key = SeriesKey :+ "_i"` over the exploded event↦instant
    * pairs) — the same [[rangeWindowAgg]] sharing argument.
    */
  private def smoothCollapse(sf: Double, tf: Double, base: DataFrame,
      key: Seq[String]): DataFrame = {
    val vals = base.groupBy(key.map(col): _*)
      .agg(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"), col("value")))),
        x => x("value")).as("_vals"))
      .filter(size(col("_vals")) >= 2) // <2 samples → no result, per PromQL
    val smoothed = vals.withColumn("value", expr(
      s"""aggregate(
         |  slice(_vals, 2, greatest(size(_vals) - 1, 0)),
         |  named_struct('s', cast(_vals[0] as double),
         |               'b', cast(_vals[1] - _vals[0] as double)),
         |  (acc, y) -> named_struct(
         |    's', ${sf}D * y + ${1 - sf}D * (acc.s + acc.b),
         |    'b', ${tf}D * ((${sf}D * y + ${1 - sf}D * (acc.s + acc.b)) - acc.s)
         |         + ${1 - tf}D * acc.b),
         |  acc -> acc.s)""".stripMargin))
    smoothed.select(key.map(col) :+ col("value"): _*)
  }

  private def rangeFunc(spark: SparkSession, dir: String, fn: String,
      param: Option[Double], sel: Selector, shiftS: Long): Vec = {
    val d = sel.rangeS.getOrElse(
      fail(s"$fn requires a range selector, e.g. $fn(${sel.name}[5m])"))
    val names = resolveNames(sel)
    val kind = kindOfAll(names)
    val hi = selectorBound(sel, shiftS)
    val lo = hi - lit(d * 1000000L)
    val base = events(spark, dir)
      .filter(nameFilter(names) && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) > lo && unix_micros(col("ts")) <= hi)
    fn match {
      case "rate" | "increase" =>
        if (kind != "counter") fail(s"$fn expects a counter family, '${sel.name}' is a $kind")
        val f = base.filter(col("value") >= 0)
        val inc = f.groupBy(SeriesKey.map(col): _*)
          .agg(exactSum(f).as("value"))
        if (fn == "increase") Vec(inc, SeriesKey)
        // rate: keep the exact decimal increase; defer /d to materialize
        // so downstream sums stay exact (see Vec.rateDiv)
        else Vec(inc, SeriesKey, rateDiv = Some(d.toDouble))
      case "sum_over_time" | "avg_over_time" | "min_over_time" |
           "max_over_time" | "count_over_time" =>
        // *_over_time aggregates the raw samples in the window — valid
        // for counters (increment events) and gauges alike
        val g = base.groupBy(SeriesKey.map(col): _*)
        val agg = fn match {
          case "sum_over_time" => g.agg(exactSum(base).as("value"))
          case "avg_over_time" => g.agg(
            (exactSum(base).cast("double") /
              count(lit(1)).cast("double")).as("value"))
          case "min_over_time" => g.agg(min(col("value")).as("value"))
          case "max_over_time" => g.agg(max(col("value")).as("value"))
          case "count_over_time" =>
            g.agg(count(lit(1)).cast("double").as("value"))
        }
        Vec(agg, SeriesKey)
      case "stddev_over_time" | "stdvar_over_time" | "delta" |
           "last_over_time" | "present_over_time" |
           "quantile_over_time" | "mad_over_time" |
           "ts_of_last_over_time" | "ts_of_max_over_time" |
           "ts_of_min_over_time" | "irate" | "idelta" |
           "changes" | "deriv" | "predict_linear" =>
        // the shared window-aggregate recipes ([[rangeWindowAgg]]) —
        // identical expressions serve the per-instant union path (here,
        // key = SeriesKey) and the dense query_range grid (key with
        // "_i" appended over the exploded events)
        Vec(rangeWindowAgg(fn, param, base, SeriesKey, lo, d, kind, sel.name),
          SeriesKey)
      case "resets" =>
        if (kind != "counter")
          fail(s"resets expects a counter family, '${sel.name}' is a $kind")
        // the windowed front-end form of b17's wrapped-cumulative
        // reconstruction: the increment log has no real resets, so the
        // scrape-counter reading wraps the running cents sum at 100.00
        // per series (the per-(k, instance) series are ~4× smaller than
        // b17's per-k families, which wrap at 1000.00); a reset = the
        // wrapped value decreasing between two consecutive samples BOTH
        // inside the window (upstream counts only in-window pairs).
        // Exact integers end to end; the running sum needs the full
        // history up to T, so the window filter applies after the lag.
        val hist = events(spark, dir)
          .filter(nameFilter(names) && matcherFilter(sel.matchers) &&
            col("value") >= 0 && unix_micros(col("ts")) <= hi)
        val wAsc2 = Window.partitionBy(SeriesKey.map(col): _*)
          .orderBy(col("ts"), col("event_id"))
        val wrapped = hist
          .withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .withColumn("_wrapped", sum(col("_cents"))
            .over(wAsc2.rowsBetween(Window.unboundedPreceding, 0)) % 10000L)
          .withColumn("_prev", lag(col("_wrapped"), 1).over(wAsc2))
          .withColumn("_prevUs", lag(unix_micros(col("ts")), 1).over(wAsc2))
        Vec(wrapped.filter(unix_micros(col("ts")) > lo)
          .groupBy(SeriesKey.map(col): _*)
          .agg(sum(when(col("_prev").isNotNull && col("_prevUs") > lo &&
            col("_wrapped") < col("_prev"), 1L).otherwise(0L))
            .cast("double").as("value")), SeriesKey)
    }
  }

  /** The per-window aggregate recipes for the long tail of range
    * functions, shared VERBATIM between the per-instant union path
    * (`key = SeriesKey`, `base` = one window's events, `lo` that
    * window's exclusive lower bound) and the dense `query_range` grid
    * (`key = SeriesKey :+ "_i"`, `base` = events exploded to every grid
    * instant whose window contains them, `lo` the per-instant bound
    * column). Identical expressions over identical per-key event
    * multisets is what makes union ≡ grid bit-exact for these
    * functions (`QueryRangeSpec`). `kind`/`selName` carry the
    * compose-time family checks' context.
    */
  private def rangeWindowAgg(fn: String, param: Option[Double],
      base: DataFrame, key: Seq[String], lo: Column, d: Long,
      kind: String, selName: String): DataFrame = {
    val sk = key.map(col)
    fn match {
      case "stddev_over_time" | "stdvar_over_time" =>
        // exact integer-cents moments (the engine-wide 2-decimal sample
        // convention): variance from (Σx, Σx², n) in the IDENTICAL
        // expression order as the oracle, so doubles bit-match. The
        // moments accumulate in DECIMAL(38,0) — identical values where
        // a long sufficed, but recorded-lattice callers feed CUMULATIVE
        // cents whose squares would wrap a raw long sum at scale (the
        // same headroom rule as the recorded least-squares moments)
        val dec0 = DecimalType(38, 0)
        val c = base.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
        val m = c.groupBy(sk: _*)
          .agg(sum(col("_cents").cast(dec0)).as("_s1"),
            sum(col("_cents").cast(dec0) * col("_cents")).as("_s2"),
            count(lit(1)).as("_n"))
        val mean = col("_s1").cast("double") / col("_n").cast("double")
        val varCents = col("_s2").cast("double") / col("_n").cast("double") - mean * mean
        val v = if (fn == "stddev_over_time") sqrt(varCents) / 100.0
          else varCents / 10000.0
        m.select(sk :+ v.as("value"): _*)
      case "delta" =>
        if (kind != "gauge") fail(s"delta expects a gauge family, '$selName' is a $kind")
        val wAsc = Window.partitionBy(sk: _*)
          .orderBy(col("ts"), col("event_id"))
        val wDesc = Window.partitionBy(sk: _*)
          .orderBy(col("ts").desc, col("event_id").desc)
        base
          .withColumn("_rf", row_number().over(wAsc))
          .withColumn("_rl", row_number().over(wDesc))
          .groupBy(sk: _*)
          .agg((max(when(col("_rl") === 1, col("value")))
            - max(when(col("_rf") === 1, col("value")))).as("value"))
      case "last_over_time" =>
        // freshest sample in the window, deterministic (ts, event_id)
        // tiebreak — the range twin of the gauge instant vector
        base.groupBy(sk: _*)
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("value"))
      case "present_over_time" =>
        base.groupBy(sk: _*).agg(max(lit(1.0)).as("value"))
      case "quantile_over_time" =>
        val phi = param.getOrElse(fail("quantile_over_time needs a quantile parameter"))
        // PromQL linear interpolation at rank (n−1)·φ, run on exact
        // integer cents ranks in the identical expression order as the
        // oracle so the output doubles bit-match
        val c = base.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
        val w = Window.partitionBy(sk: _*).orderBy(col("_cents"), col("event_id"))
        val ranked = c
          .withColumn("_rn", row_number().over(w))
          .withColumn("_n", count(lit(1)).over(Window.partitionBy(sk: _*)))
          .withColumn("_pos", (col("_n") - 1).cast("double") * lit(phi))
        def atRank(r: Column): Column =
          max(when(col("_rn") === r, col("_cents"))).cast("double")
        val lo9 = atRank(floor(col("_pos")).cast("long") + 1)
        val hi9 = atRank(ceil(col("_pos")).cast("long") + 1)
        ranked.groupBy(sk: _*)
          .agg(((lo9 + (hi9 - lo9) * (max(col("_pos")) - floor(max(col("_pos")))))
            / 100.0).as("value"))
      case "ts_of_last_over_time" | "ts_of_max_over_time" | "ts_of_min_over_time" =>
        // timestamp (seconds) of the window's last / max / min sample.
        // Prometheus replaces the running extremum on >= / <= (its scan
        // keeps updating on equal values), so the LATEST sample attaining
        // the extremum wins: ties break on latest (ts, event_id).
        if (fn == "ts_of_last_over_time")
          base.groupBy(sk: _*)
            .agg((max(unix_micros(col("ts"))).cast("double") / 1e6).as("value"))
        else {
          val ord =
            if (fn == "ts_of_max_over_time")
              Seq(col("value").desc, col("ts").desc, col("event_id").desc)
            else Seq(col("value").asc, col("ts").desc, col("event_id").desc)
          val w = Window.partitionBy(sk: _*).orderBy(ord: _*)
          base.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1)
            .select(sk :+ (unix_micros(col("ts")).cast("double") / 1e6).as("value"): _*)
        }
      case "mad_over_time" =>
        // median absolute deviation about the median (PromQL
        // experimental fn): two interpolated medians — the first on
        // exact integer cents, the second on the |cents − median|
        // doubles (identical IEEE values in both engines, so the
        // (value, event_id) rank order is reproducible). Both medians
        // share the (n−1)·0.5 interpolation of quantile_over_time.
        val c = base.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
        val wp = Window.partitionBy(sk: _*)
        val w1 = Window.partitionBy(sk: _*).orderBy(col("_cents"), col("event_id"))
        val r1 = c
          .withColumn("_rn", row_number().over(w1))
          .withColumn("_n", count(lit(1)).over(wp))
          .withColumn("_pos", (col("_n") - 1).cast("double") * lit(0.5))
        val loM = max(when(col("_rn") === (floor(col("_pos")).cast("long") + 1),
          col("_cents"))).over(wp).cast("double")
        val hiM = max(when(col("_rn") === (ceil(col("_pos")).cast("long") + 1),
          col("_cents"))).over(wp).cast("double")
        val med = loM + (hiM - loM) * (col("_pos") - floor(col("_pos")))
        val dev = r1.withColumn("_dev", abs(col("_cents").cast("double") - med))
        val w2 = Window.partitionBy(sk: _*).orderBy(col("_dev"), col("event_id"))
        val r2 = dev.withColumn("_rn2", row_number().over(w2))
        def atRank2(r: Column): Column = max(when(col("_rn2") === r, col("_dev")))
        val lo2 = atRank2(floor(col("_pos")).cast("long") + 1)
        val hi2 = atRank2(ceil(col("_pos")).cast("long") + 1)
        r2.groupBy(sk: _*)
          .agg(((lo2 + (hi2 - lo2) * (max(col("_pos")) - floor(max(col("_pos")))))
            / 100.0).as("value"))
      case "changes" =>
        if (kind != "gauge")
          fail(s"changes expects a gauge family, '$selName' is a $kind")
        // the lag is WINDOW-INTERNAL (the first window sample has no
        // predecessor), so the recipe shares cleanly: on the grid each
        // instant's exploded partition holds exactly its window events
        val w = Window.partitionBy(sk: _*)
          .orderBy(col("ts"), col("event_id"))
        val c = base.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .withColumn("_prev", lag(col("_cents"), 1).over(w))
        c.groupBy(sk: _*)
          .agg(sum(when(col("_prev").isNotNull && col("_cents") =!= col("_prev"), 1L)
            .otherwise(0L)).cast("double").as("value"))
      case "irate" | "idelta" =>
        val wantCounter = fn == "irate"
        if (wantCounter && kind != "counter")
          fail(s"irate expects a counter family, '$selName' is a $kind")
        if (!wantCounter && kind != "gauge")
          fail(s"idelta expects a gauge family, '$selName' is a $kind")
        // the LAST TWO samples in the window; in the increment event
        // model the cumulative counter's last step IS the last increment,
        // so irate = last_increment / gap — exact integer cents & micros
        // until the final division
        val f = if (wantCounter) base.filter(col("value") >= 0) else base
        val wDesc = Window.partitionBy(sk: _*)
          .orderBy(col("ts").desc, col("event_id").desc)
        val two = f.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .withColumn("_rn", row_number().over(wDesc))
          .filter(col("_rn") <= 2)
        val m = two.groupBy(sk: _*)
          .agg(max(when(col("_rn") === 1, col("_cents"))).as("_c1"),
            max(when(col("_rn") === 2, col("_cents"))).as("_c2"),
            max(when(col("_rn") === 1, unix_micros(col("ts")))).as("_t1"),
            max(when(col("_rn") === 2, unix_micros(col("ts")))).as("_t2"),
            count(lit(1)).as("_n"))
        val paired =
          if (wantCounter) m.filter(col("_n") >= 2 && col("_t1") > col("_t2"))
          else m.filter(col("_n") >= 2)
        val v =
          if (wantCounter)
            (col("_c1").cast("double") / 100.0) /
              ((col("_t1") - col("_t2")).cast("double") / 1000000.0)
          else (col("_c1") - col("_c2")).cast("double") / 100.0
        paired.select(sk :+ v.as("value"): _*)
      case "deriv" | "predict_linear" =>
        if (kind != "gauge")
          fail(s"$fn expects a gauge family, '$selName' is a $kind")
        // exact-integer least squares (the b25 construction): x = whole
        // seconds since window start, y = cents; five BIGINT sums in ONE
        // map-side-combinable aggregate, closed-form slope/intercept
        // divisions in the identical order as the oracle
        val c = base.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .withColumn("_x",
            floor((unix_micros(col("ts")) - lo) / lit(1000000L)).cast("long"))
        val a = c.groupBy(sk: _*)
          .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_sx"),
            sum(col("_cents")).as("_sy"),
            sum(col("_x") * col("_cents")).as("_sxy"),
            sum(col("_x") * col("_x")).as("_sxx"))
          .filter(col("_n") * col("_sxx") - col("_sx") * col("_sx") =!= 0L)
        val slope = (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
        val v =
          if (fn == "deriv") slope / 100.0
          else {
            val horizon = param.getOrElse(
              fail("predict_linear needs a horizon parameter in seconds"))
            ((col("_sy").cast("double") - slope * col("_sx").cast("double")) /
              col("_n").cast("double") + slope * lit(d.toDouble + horizon)) / 100.0
          }
        a.select(sk :+ v.as("value"): _*)
    }
  }

  /** `histogram_quantile(φ, sel)` (instant: every observation up to the
    * evaluation instant) and `histogram_quantile(φ, rate(sel[d]))`
    * (windowed: observations in `(T−d, T]` — the canonical alerting
    * idiom). The quantile is SCALE-INVARIANT, so `rate` and `increase`
    * feed it identically (dividing every bucket count by `d` moves the
    * rank by the same factor); the plan builds the cumulative bucket
    * counts from the raw observations — one broadcast cross-join with
    * the 7 boundaries + one hash aggregate per series — then runs the
    * standard PromQL linear interpolation.
    */
  /** The histogram family's raw observations visible to `sel` at the
    * evaluation instant — everything up to T (instant form) or the
    * trailing `windowD` seconds (the windowed rate/increase form) —
    * with the family-kind compose-time check. Shared by
    * `histogram_quantile`, `histogram_count/sum/avg`, and
    * `histogram_fraction`.
    */
  private def histogramObs(spark: SparkSession, dir: String, fn: String,
      sel: Selector, windowD: Option[Long], shiftS: Long): DataFrame = {
    // upstream parity: recording rules store FLOAT samples, so a
    // histogram function can never read a recorded name — the refusal
    // teaches the rule idiom upstream's docs do (record the bucket
    // series with their `le` labels and quantile the raw family)
    if (recordedRules.value.contains(sel.name))
      fail(s"$fn over recorded series '${sel.name}' is not supported: " +
        "recording rules store float samples, not histograms. Record " +
        "the bucket series instead — `record: job:latency_bucket:rate5m` " +
        "with `expr: sum by (le) (rate(<family>_bucket[5m]))` — and " +
        s"apply $fn to that family, keeping the `le` label")
    if (kindOf(sel.name) != "histogram")
      fail(s"$fn expects a histogram family, '${sel.name}' is a ${kindOf(sel.name)}")
    val hi = selectorBound(sel, shiftS)
    val inWindow = windowD match {
      case Some(d) => unix_micros(col("ts")) > hi - lit(d * 1000000L) &&
        unix_micros(col("ts")) <= hi
      case None => unix_micros(col("ts")) <= hi
    }
    events(spark, dir)
      .filter(col("name") === sel.name && matcherFilter(sel.matchers) && inWindow)
  }

  private def histogramQuantile(spark: SparkSession, dir: String,
      phi: Double, sel: Selector, windowD: Option[Long], shiftS: Long,
      outLabels: Seq[String] = SeriesKey): Vec = {
    // sample-kind dispatch (Prometheus 3.x): a native-ingested family
    // answers through the exponential sparse-bucket plan
    if (resolveNames(sel).forall(nativeFams.value.contains))
      return nativeHistogramQuantile(spark, dir, phi, sel, windowD, shiftS, outLabels)
    val obs = histogramObs(spark, dir, "histogram_quantile", sel, windowD, shiftS)
    import spark.implicits._
    val bounds = MetricEvent.Buckets.toDF("le")
    // `sum by (...)` over the bucket series before the quantile (the
    // aggregated-histogram idiom) IS a coarser grouping of the same
    // observation counts, so it collapses into this one aggregate —
    // no per-series pre-aggregation pass
    val snap = obs.crossJoin(broadcast(bounds))
      .groupBy((outLabels :+ "le").map(col): _*)
      .agg(
        sum(when(col("value") <= col("le"), 1L).otherwise(0L)).as("cum_count"),
        count(lit(1)).as("count"))
    val series = outLabels.map(col)
    val w = Window.partitionBy(series: _*).orderBy(col("le"))
    val ranked = snap
      .withColumn("rank", lit(phi) * col("count").cast("double"))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(w), lit(0.0)))
      .withColumn("prev_cum", coalesce(lag(col("cum_count"), 1).over(w), lit(0L)))
      .withColumn("max_le", max(col("le")).over(Window.partitionBy(series: _*)))
      .withColumn("max_cum", max(col("cum_count")).over(Window.partitionBy(series: _*)))
    // ONE pass: each group emits exactly one row — the in-bucket row
    // (interpolated) or, when φ·count exceeds the max bucket, the
    // max-le row (overflow rule). A fused filter+CASE instead of a
    // union of two branches, which would recompute the whole
    // scan+aggregate subtree twice.
    val overflowRow = col("le") === col("max_le") &&
      col("rank") > col("max_cum").cast("double")
    val inBucketRow = col("cum_count") >= col("rank") &&
      col("prev_cum") < col("rank")
    val out = ranked
      .filter(inBucketRow || overflowRow)
      .select(series :+
        when(overflowRow, col("max_le"))
          .otherwise(col("prev_le") + (col("le") - col("prev_le"))
            * (col("rank") - col("prev_cum").cast("double"))
            / (col("cum_count") - col("prev_cum")).cast("double")).as("value"): _*)
    Vec(out, outLabels)
  }

  /** `histogram_quantile(φ, native_family)`: the sparse exponential-
    * bucket path — observations bucket through the shared literal
    * bounds relation (one broadcast range join, Catalyst prunes it to a
    * bucket lookup), per-series cumulative counts run over the tiny
    * series×buckets relation, and the in-bucket interpolation is the
    * aggregator's exact walk evaluated through
    * [[graft.functions.DetMath.exp2Col]] — `2^((i−1+f)/2^s)` with every
    * step a pinned correctly-rounded IEEE op, so the value hash-gates
    * against the DuckDB twin ([[Oracle.NativeHistogramQuantileSql]])
    * and is bit-identical to
    * [[graft.functions.NativeHistogramAggregator.quantile]] on the same
    * observations (spec-pinned). Zero-bucket ranks return 0; a rank
    * past the last bucket returns its upper bound (the aggregator's
    * overflow rule). Scale: one observation scan + one map-side
    * combinable aggregate; windows touch only series×buckets rows.
    */
  private def nativeHistogramQuantile(spark: SparkSession, dir: String,
      phi: Double, sel: Selector, windowD: Option[Long], shiftS: Long,
      outLabels: Seq[String] = SeriesKey): Vec = {
    val obs = histogramObs(spark, dir, "histogram_quantile", sel, windowD, shiftS)
    val series = outLabels.map(col)
    val tot = obs.groupBy(series: _*).agg(count(lit(1)).as("cnt"),
      sum(when(col("value") === 0.0, 1L).otherwise(0L)).as("zero"))
    // scalar bucketization (codegen) instead of a nested-loop range
    // join: ~200× less compare work per observation; the bounds
    // relation equi-joins AFTER aggregation, series×buckets rows only.
    // The (lo_min, hi_max] pre-filter mirrors the oracle's range join,
    // which drops out-of-range values rather than clamping.
    val bk = obs
      .filter(col("value") > Metrics.NhLoMin && col("value") <= Metrics.NhHiMax)
      .withColumn("bucket", Metrics.nhBucketCol(col("value")))
      .groupBy(series :+ col("bucket"): _*)
      .agg(count(lit(1)).as("c"))
      .join(broadcast(Metrics.nhBoundsDf(spark).select(col("bucket"), col("hi"))),
        Seq("bucket"))
    val w = Window.partitionBy(series: _*).orderBy(col("bucket"))
    val bw = bk.withColumn("cumc", sum(col("c")).over(w))
    val bstats = bw.groupBy(series: _*).agg(max(col("hi")).as("last_hi"))
    val picked = bw.join(tot, outLabels)
      .withColumn("rank", lit(phi) * col("cnt").cast("double"))
      .filter(col("rank") > col("zero").cast("double") &&
        col("rank") <= (col("zero") + col("cumc")).cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("f",
        (col("rank") - (col("zero") + col("cumc") - col("c")).cast("double"))
          / col("c").cast("double"))
      .withColumn("xq",
        ((col("bucket") - lit(1)).cast("double") + col("f")) / lit(8.0))
      .select(series :+
        graft.plans.DetMathExprs.detExp2(spark, "xq").as("_qv"): _*)
    val out = tot.join(picked, outLabels, "left")
      .join(bstats, outLabels, "left")
      .select(series :+
        when(lit(phi) * col("cnt").cast("double") <= col("zero").cast("double"),
          lit(0.0))
          .when(col("_qv").isNotNull, col("_qv"))
          .otherwise(col("last_hi")).as("value"): _*)
    Vec(out, outLabels)
  }

  /** `histogram_fraction(lo, hi, native_family)`: the boundary
    * constants' libm math (bucket index + log-interpolated in-bucket
    * fraction) runs ONCE at compose time
    * ([[graft.functions.NativeHistogramAggregator.fractionPieces]]) and
    * ships to both engines as literals; the runtime plan is one
    * aggregate over the sparse bucket counts — F(x) = zero + full
    * buckets below x + (count at x's bucket)·fx — entirely
    * correctly-rounded arithmetic, so it hash-gates. Clamps follow the
    * classic form: F is monotone and the denominator stays the full
    * observation count.
    */
  private def nativeHistogramFraction(spark: SparkSession, dir: String,
      lo: Double, hi: Double, sel: Selector, windowD: Option[Long],
      shiftS: Long): Vec = {
    val obs = histogramObs(spark, dir, "histogram_fraction", sel, windowD, shiftS)
    val series = SeriesKey.map(col)
    val (bLo, fLo, zLo) = graft.functions.NativeHistogramAggregator
      .fractionPieces(lo, graft.operators.Metrics.NhSchema)
    val (bHi, fHi, zHi) = graft.functions.NativeHistogramAggregator
      .fractionPieces(hi, graft.operators.Metrics.NhSchema)
    val tot = obs.groupBy(series: _*).agg(count(lit(1)).as("cnt"),
      sum(when(col("value") === 0.0, 1L).otherwise(0L)).as("zero"))
    // scalar bucketization, no bounds join at all — the fraction only
    // compares bucket indices against compile-time constants
    val bk = obs
      .filter(col("value") > Metrics.NhLoMin && col("value") <= Metrics.NhHiMax)
      .withColumn("bucket", Metrics.nhBucketCol(col("value")))
      .groupBy(series :+ col("bucket"): _*)
      .agg(count(lit(1)).as("c"))
    val sums = bk.groupBy(series: _*).agg(
      sum(when(col("bucket") < bHi, col("c")).otherwise(0L)).as("below_hi"),
      sum(when(col("bucket") === bHi, col("c")).otherwise(0L)).as("at_hi"),
      sum(when(col("bucket") < bLo, col("c")).otherwise(0L)).as("below_lo"),
      sum(when(col("bucket") === bLo, col("c")).otherwise(0L)).as("at_lo"))
    def F(zInc: Boolean, below: String, at: String, fx: Double): Column =
      ((if (zInc) col("zero") else lit(0L)) + col(below)).cast("double") +
        col(at).cast("double") * lit(fx)
    val out = tot.join(sums, SeriesKey, "left")
      .na.fill(0L, Seq("below_hi", "at_hi", "below_lo", "at_lo"))
      .select(series :+
        ((F(zHi, "below_hi", "at_hi", fHi) - F(zLo, "below_lo", "at_lo", fLo))
          / col("cnt").cast("double")).as("value"): _*)
    Vec(out, SeriesKey)
  }

  /** `histogram_count/sum/avg(hist)` over classic buckets — in this
    * engine's model the family keeps its raw observations, so the
    * derived scalars are exact aggregates (no bucket estimation):
    * count = #observations, sum = exact-decimal value sum (the same
    * `decSum` the exposition's `_sum` series uses — B11), avg =
    * sum/count. The rate forms divide count and sum by the window
    * seconds (avg is scale-invariant: the divisions cancel, exactly as
    * in Prometheus where `histogram_avg(rate(h[d]))` is the mean
    * observed value over the window). One hash aggregate per series —
    * map-side combinable, no window functions.
    */
  private def histogramAgg(spark: SparkSession, dir: String, fn: String,
      sel: Selector, windowD: Option[Long], rateD: Option[Long],
      shiftS: Long): Vec = {
    val obs = histogramObs(spark, dir, fn, sel, windowD, shiftS)
    if (fn == "histogram_stddev" || fn == "histogram_stdvar") {
      // exact integer-cents moments, the stddev_over_time pattern —
      // scale-invariant like avg, so rate/increase forms are the
      // window's observation spread (the Prometheus semantics)
      val c = obs.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
      val m = c.groupBy(SeriesKey.map(col): _*)
        .agg(sum(col("_cents")).as("_s1"),
          sum(col("_cents") * col("_cents")).as("_s2"),
          count(lit(1)).as("_n"))
      val mean = col("_s1").cast("double") / col("_n").cast("double")
      val varCents = col("_s2").cast("double") / col("_n").cast("double") - mean * mean
      val v = if (fn == "histogram_stddev") sqrt(varCents) / 100.0
        else varCents / 10000.0
      return Vec(m.select(SeriesKey.map(col) :+ v.as("value"): _*), SeriesKey)
    }
    val cnt = count(lit(1)).cast("double")
    val dsum = graft.operators.Metrics.decSum(col("value"))
    val v = fn match {
      case "histogram_count" =>
        rateD.map(d => cnt / lit(d.toDouble)).getOrElse(cnt)
      case "histogram_sum" =>
        rateD.map(d => dsum / lit(d.toDouble)).getOrElse(dsum)
      case "histogram_avg" => dsum / cnt
    }
    Vec(obs.groupBy(SeriesKey.map(col): _*).agg(v.as("value")), SeriesKey)
  }

  /** `histogram_fraction(lo, hi, hist)` — the estimated fraction of
    * observations in `(lo, hi]`, classic-bucket form: the inverse of
    * `histogram_quantile`'s interpolation. F(x) — the interpolated
    * cumulative count at value x — is a single bucket row's
    * expression, because the full buckets below x telescope into that
    * row's `prev_cum`: F(x) = prev_cum + (cum−prev_cum)·(x−prev_le)/
    * (le−prev_le) on the row with prev_le < x ≤ le, cum at or above
    * the top boundary, 0 at or below zero. MAX over the bucket rows
    * picks that row without a second pass (cumulative counts are
    * monotone in le), and stays order-independent — every F is one
    * per-row identical-IEEE expression, so the DuckDB twin bit-matches.
    * The window form is scale-invariant (numerator and denominator
    * scale by the same 1/d), so rate/increase feed it identically,
    * exactly like histogram_quantile. Beyond the top boundary the
    * classic buckets carry no information: F clamps to the top
    * bucket's count (the fraction-form analog of the quantile's
    * max-le overflow rule), while the denominator stays the full
    * observation count.
    */
  private def histogramFraction(spark: SparkSession, dir: String,
      lo: Double, hi: Double, sel: Selector, windowD: Option[Long],
      shiftS: Long): Vec = {
    if (lo >= hi) fail(s"histogram_fraction needs lo < hi, got ($lo, $hi)")
    // sample-kind dispatch, exactly like histogram_quantile
    if (resolveNames(sel).forall(nativeFams.value.contains))
      return nativeHistogramFraction(spark, dir, lo, hi, sel, windowD, shiftS)
    val obs = histogramObs(spark, dir, "histogram_fraction", sel, windowD, shiftS)
    import spark.implicits._
    val bounds = MetricEvent.Buckets.toDF("le")
    val snap = obs.crossJoin(broadcast(bounds))
      .groupBy((SeriesKey :+ "le").map(col): _*)
      .agg(
        sum(when(col("value") <= col("le"), 1L).otherwise(0L)).as("cum_count"),
        count(lit(1)).as("count"))
    val series = SeriesKey.map(col)
    val w = Window.partitionBy(series: _*).orderBy(col("le"))
    val frame = snap
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(w), lit(0.0)))
      .withColumn("prev_cum", coalesce(lag(col("cum_count"), 1).over(w), lit(0L)))
    def F(x: Double): Column = max(
      when(lit(x) >= col("le"), col("cum_count").cast("double"))
        .when(lit(x) > col("prev_le"),
          col("prev_cum").cast("double") +
            (col("cum_count") - col("prev_cum")).cast("double") *
            (lit(x) - col("prev_le")) / (col("le") - col("prev_le")))
        .otherwise(lit(0.0)))
    val out = frame.groupBy(series: _*)
      .agg(((F(hi) - F(lo)) / max(col("count")).cast("double")).as("value"))
    Vec(out, SeriesKey)
  }

  private def aggregate(a: Agg, v: Vec): Vec = {
    // grouping accepts CREATED labels too (label_replace/label_join
    // dst, count_values dst, info()'s copied data labels) — anything
    // outside the stored universe maps by the `label_<name>` output
    // convention and the presence check below rejects the rest
    def gcol(l: String): String = LabelUniverse.getOrElse(l, "label_" + l)
    val groupCols: Seq[String] = a.grouping match {
      case Some(("by", ls)) => ls.map(gcol)
      case Some(("without", ls)) =>
        val dropped = ls.map(gcol).toSet
        v.labels.filterNot(l => l == "name" || dropped.contains(l))
      case None => Nil
      case Some((kw, _)) => fail(s"unknown grouping '$kw'")
    }
    groupCols.foreach(g => if (!v.labels.contains(g))
      fail(s"grouping label '$g' is not present in the vector (${v.labels.mkString(", ")})"))
    val grouped = v.df.groupBy(groupCols.map(col): _*)
    // Linear/order-preserving aggregations COMMUTE with the deferred
    // rate division (d > 0), so the rateDiv tag rides through them and
    // decimal increases stay exact until the single final division.
    a.op match {
      case "sum" => Vec(grouped.agg(vectorSum(v.df).as("value")), groupCols, v.rateDiv)
      case "min" => Vec(grouped.agg(min(col("value")).as("value")), groupCols, v.rateDiv)
      case "max" => Vec(grouped.agg(max(col("value")).as("value")), groupCols, v.rateDiv)
      case "count" =>
        // a count of series is NOT rate-scaled — drop the tag
        Vec(grouped.agg(count(lit(1)).cast("double").as("value")), groupCols)
      case "avg" => Vec(grouped.agg(
        (vectorSum(v.df).cast("double") / count(lit(1)).cast("double"))
          .as("value")), groupCols, v.rateDiv)
      case "quantile" =>
        val phi = a.param.getOrElse(fail("quantile needs a parameter"))
        Vec(grouped.agg(expr(s"percentile(cast(value as double), $phi)")
          .as("value")), groupCols, v.rateDiv)
      case "stddev" | "stdvar" =>
        // across-series population moments on exact integer cents (the
        // engine-wide 2-decimal sample convention) — the same (Σx, Σx²,
        // n) construction as stddev_over_time, identical expression
        // order as the oracle so the doubles bit-match
        val mv = materialize(v)
        val c = mv.df.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
        val m = c.groupBy(groupCols.map(col): _*)
          .agg(sum(col("_cents")).as("_s1"),
            sum(col("_cents") * col("_cents")).as("_s2"),
            count(lit(1)).as("_n"))
        val mean = col("_s1").cast("double") / col("_n").cast("double")
        val varCents = col("_s2").cast("double") / col("_n").cast("double") - mean * mean
        val out = if (a.op == "stddev") sqrt(varCents) / 100.0 else varCents / 10000.0
        Vec(m.select(groupCols.map(col) :+ out.as("value"): _*), groupCols)
      case "group" =>
        // the degenerate aggregator: 1 per populated group
        Vec(grouped.agg(max(lit(1.0)).as("value")), groupCols)
      case "topk" | "bottomk" =>
        val n = a.param.getOrElse(fail(s"${a.op} needs a parameter"))
        if (n != n.floor || n < 1) fail(s"${a.op} parameter must be a positive integer, got $n")
        val ord =
          if (a.op == "topk") col("value").desc +: v.labels.map(col)
          else col("value").asc +: v.labels.map(col)
        if (groupCols.isEmpty)
          Vec(v.df.orderBy(ord: _*).limit(n.toInt), v.labels, v.rateDiv)
        else {
          // `topk by (k) (n, v)`: per-group ranking window, series rows kept
          val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ord: _*)
          Vec(v.df.withColumn("_rk", row_number().over(w))
            .filter(col("_rk") <= n.toInt).drop("_rk"), v.labels, v.rateDiv)
        }
      case "limitk" =>
        // up to n series per group, chosen by the series' label hash —
        // Prometheus documents the pick as arbitrary; this engine makes
        // it DETERMINISTIC (md5 of the label identity), so samples are
        // reproducible across runs/partitionings and oracle-checkable
        val n = a.param.getOrElse(fail("limitk needs a parameter"))
        if (n != n.floor || n < 1) fail(s"limitk parameter must be a positive integer, got $n")
        val sig = md5(concat_ws("|", v.labels.map(col): _*))
        val ord = sig.asc +: v.labels.map(col)
        if (groupCols.isEmpty)
          Vec(v.df.orderBy(ord: _*).limit(n.toInt), v.labels, v.rateDiv)
        else {
          val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ord: _*)
          Vec(v.df.withColumn("_rk", row_number().over(w))
            .filter(col("_rk") <= n.toInt).drop("_rk"), v.labels, v.rateDiv)
        }
      case "limit_ratio" =>
        // deterministic hash sampling of series: keep u(series) < r for
        // r ≥ 0, and the COMPLEMENT u ≥ 1+r for r < 0, so
        // limit_ratio(r, v) ∪ limit_ratio(r−1, v) = v exactly (the
        // documented Prometheus pairing). u = first 8 md5 hex chars —
        // the x31 sampling scheme lifted to the vector level; no
        // grouping interaction (the decision is per series)
        val r = a.param.getOrElse(fail("limit_ratio needs a parameter"))
        if (r < -1.0 || r > 1.0) fail(s"limit_ratio parameter must be in [-1, 1], got $r")
        if (r == 1.0 || r == -1.0) v
        else {
          val u = substring(md5(concat_ws("|", v.labels.map(col): _*)), 1, 8)
          val keep = if (r >= 0) {
            val thr = f"${math.floor(r * 4294967296.0).toLong}%08x"
            u < lit(thr)
          } else {
            val thr = f"${math.floor((1.0 + r) * 4294967296.0).toLong}%08x"
            u >= lit(thr)
          }
          Vec(v.df.filter(keep), v.labels, v.rateDiv)
        }
      case other => fail(s"unsupported aggregation '$other'")
    }
  }

  private def scalarFunc(name: String, param: Option[Double], v0: Vec): Vec = {
    val v = materialize(v0) // scalar functions are non-linear: rates first
    val x = col("value").cast("double")
    // PromQL log-family edge semantics: ln(0) = -Inf, ln(x<0) = NaN
    // (Spark's builtins return null on domain errors)
    def lnLike(f: Column => Column): Column =
      when(x > 0, f(x))
        .when(x === 0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    val out = if (detMode.value && DetScalarFns(name)) detScalarCol(name, x)
    else name match {
      case "abs" => abs(x)
      case "ceil" => ceil(x).cast("double")
      case "floor" => floor(x).cast("double")
      case "round" =>
        // round(v[, to_nearest]): nearest multiple of to_nearest, ties
        // rounded UP (toward +Inf) — PromQL's floor(x/to + 0.5)·to
        val to = param.getOrElse(1.0)
        (floor(x / lit(to) + lit(0.5)) * lit(to)).cast("double")
      case "sqrt" => sqrt(x)
      case "sgn" => signum(x)
      case "exp" => exp(x)
      case "ln" => lnLike(log(_))
      case "log2" => lnLike(log2(_))
      case "log10" => lnLike(log10(_))
      case "clamp_min" => greatest(x, lit(param.get))
      case "clamp_max" => least(x, lit(param.get))
      case "sin" => sin(x)
      case "cos" => cos(x)
      case "tan" => tan(x)
      case "asin" => asin(x)
      case "acos" => acos(x)
      case "atan" => atan(x)
      case "sinh" => sinh(x)
      case "cosh" => cosh(x)
      case "tanh" => tanh(x)
      // inverse hyperbolics via the explicit log formulas: every step
      // but ln is correctly-rounded IEEE, and ln itself makes these
      // rows-only (Math.log vs DuckDB ln diverge by 1 ulp on some
      // inputs — the ^/atan2 libm bucket; exact values are spec-pinned
      // instead). Domain edges per Go's math package: acosh(x<1) = NaN;
      // atanh(±1) = ±Inf, atanh(|x|>1) = NaN.
      case "asinh" => log(x + sqrt(x * x + lit(1.0)))
      case "acosh" => when(x >= 1, log(x + sqrt(x * x - lit(1.0))))
        .otherwise(lit(Double.NaN))
      case "atanh" =>
        when(x === -1, lit(Double.NegativeInfinity))
          .when(x === 1, lit(Double.PositiveInfinity))
          .when(abs(x) < 1, log((lit(1.0) + x) / (lit(1.0) - x)) * lit(0.5))
          .otherwise(lit(Double.NaN))
      case "deg" => degrees(x)
      case "rad" => radians(x)
      // calendar components of an epoch-second vector (UTC, PromQL
      // truncates fractional seconds). hour/minute/day_of_week are pure
      // integer arithmetic — exact in any engine; the month-shaped ones
      // go through the (session-UTC) calendar functions.
      case "hour" => (floor(x / 3600.0) % 24).cast("double")
      case "minute" => (floor(x / 60.0) % 60).cast("double")
      case "day_of_week" => ((floor(x / 86400.0) + 4) % 7).cast("double")
      case "day_of_month" =>
        dayofmonth(timestamp_seconds(floor(x).cast("long"))).cast("double")
      case "month" =>
        month(timestamp_seconds(floor(x).cast("long"))).cast("double")
      case "year" =>
        year(timestamp_seconds(floor(x).cast("long"))).cast("double")
      case "day_of_year" =>
        dayofyear(timestamp_seconds(floor(x).cast("long"))).cast("double")
      case "days_in_month" =>
        dayofmonth(last_day(timestamp_seconds(floor(x).cast("long"))))
          .cast("double")
    }
    Vec(v.df.withColumn("value", out), v.labels)
  }

  /** The libm-routed subset [[detMode]] recompiles through DetMath. */
  private val DetScalarFns: Set[String] = Set(
    "exp", "ln", "log2", "log10",
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh")

  /** [[detMode]] compilations of the [[DetScalarFns]] — the SAME
    * pinned step sequences as b33b/b34b/b38's operator-level twins
    * (one DetMath native call + literal-constant arithmetic each),
    * with identical PromQL edge semantics (`ln 0 = −Inf`, domain
    * NaNs, `atanh(±1) = ±Inf`).
    */
  private def detScalarCol(name: String, x: Column): Column = {
    import graft.plans.DetMathExprs._
    val DM = graft.functions.DetMath
    import graft.operators.PromQL.{Ln2, Log2E, Log10_2}
    def lnLikeDet(f: Column): Column =
      when(x > 0, f)
        .when(x === 0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    lazy val e = detExp2C(x * lit(Log2E))
    name match {
      case "exp" => detExp2C(x * lit(Log2E))
      case "ln" => lnLikeDet(detLog2C(x) * lit(Ln2))
      case "log2" => lnLikeDet(detLog2C(x))
      case "log10" => lnLikeDet(detLog2C(x) * lit(Log10_2))
      case "sin" => detSinC(x)
      case "cos" => detCosC(x)
      case "tan" => detSinC(x) / detCosC(x)
      case "asin" =>
        when(abs(x) < 1, detAtanC(x / sqrt(lit(1.0) - x * x)))
          .when(x === 1, lit(DM.HalfPi))
          .when(x === -1, lit(-DM.HalfPi))
          .otherwise(lit(Double.NaN))
      case "acos" => lit(DM.HalfPi) - detScalarCol("asin", x)
      case "atan" => detAtanC(x)
      case "sinh" => (e - lit(1.0) / e) * lit(0.5)
      case "cosh" => (e + lit(1.0) / e) * lit(0.5)
      case "tanh" =>
        when(abs(x) > 700.0, signum(x))
          .otherwise((e - lit(1.0) / e) / (e + lit(1.0) / e))
      case "asinh" => detLog2C(x + sqrt(x * x + lit(1.0))) * lit(Ln2)
      case "acosh" =>
        when(x >= 1, detLog2C(x + sqrt(x * x - lit(1.0))) * lit(Ln2))
          .otherwise(lit(Double.NaN))
      case "atanh" =>
        when(x === -1, lit(Double.NegativeInfinity))
          .when(x === 1, lit(Double.PositiveInfinity))
          .when(abs(x) < 1,
            lit(0.5) * (detLog2C((lit(1.0) + x) / (lit(1.0) - x)) * lit(Ln2)))
          .otherwise(lit(Double.NaN))
    }
  }

  /** Per-row value functions dispatched through [[scalarFunc]]. */
  private val ScalarFnNames: Set[String] = Set(
    "abs", "ceil", "floor", "round", "sqrt", "sgn",
    "exp", "ln", "log2", "log10", "clamp_min", "clamp_max",
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh", "deg", "rad",
    "hour", "minute", "day_of_week", "day_of_month",
    "month", "year", "day_of_year", "days_in_month")

  private def binOp(spark: SparkSession, dir: String, b: BinOp, shiftS: Long): Vec = {
    def arith(op: String, l: Column, r: Column): Column = op match {
      case "+" => l.cast("double") + r.cast("double")
      case "-" => l.cast("double") - r.cast("double")
      case "*" => l.cast("double") * r.cast("double")
      case "/" => l.cast("double") / r.cast("double")
      // PromQL % is truncated fmod (sign of the dividend) — exactly the
      // JVM/SQL remainder, and fmod is exact (no rounding), so it stays
      // oracle-comparable; ^ and atan2 route through libm (rows-only)
      case "%" => l.cast("double") % r.cast("double")
      case "^" =>
        if (detMode.value)
          graft.plans.DetMathExprs.detPowC(l.cast("double"), r.cast("double"))
        else pow(l.cast("double"), r.cast("double"))
      case "atan2" =>
        if (detMode.value)
          graft.plans.DetMathExprs.detAtan2C(l.cast("double"), r.cast("double"))
        else atan2(l.cast("double"), r.cast("double"))
    }
    def cmp(op: String, l: Column, r: Column): Column = op match {
      case ">" => l > r
      case "<" => l < r
      case ">=" => l >= r
      case "<=" => l <= r
      case "==" => l === r
      case "!=" => l =!= r
    }
    val isCmp = Set(">", "<", ">=", "<=", "==", "!=").contains(b.op)
    if ((b.groupLeft || b.groupRight) && (Set("and", "unless", "or").contains(b.op) ||
        b.left.isInstanceOf[NumLit] || b.right.isInstanceOf[NumLit]))
      fail("group_left/group_right apply to vector-vector arithmetic/comparison only")
    if (b.boolMod && !isCmp)
      fail("the bool modifier applies to comparison operators only")
    if (b.on.isDefined && b.ignoring.isDefined)
      fail("on(...) and ignoring(...) are mutually exclusive")
    // matching labels: explicit on(...), or all shared labels minus the
    // metric name, minus any ignoring(...) set
    def matchLabels(lv: Vec, rv: Vec): Seq[String] =
      b.on.map(_.map(labelCol)).getOrElse {
        val shared = lv.labels.intersect(rv.labels).filterNot(_ == "name")
        b.ignoring match {
          case Some(ig) =>
            val dropped = ig.map(labelCol).toSet
            shared.filterNot(dropped)
          case None => shared
        }
      }
    if (Set("and", "unless", "or").contains(b.op)) {
      // vector set ops: left-semi / left-anti / left-priority union —
      // the dedicated join types, never a distinct over a concatenation
      val lv = materialize(compileVec(spark, dir, b.left, shiftS))
      val rv = materialize(compileVec(spark, dir, b.right, shiftS))
      val joinLabels = matchLabels(lv, rv)
      if (joinLabels.isEmpty) fail(s"'${b.op}' has no labels to match on")
      val rightKeys = rv.df.select(joinLabels.map(col): _*)
      return b.op match {
        case "and" => Vec(lv.df.join(rightKeys, joinLabels, "left_semi"), lv.labels)
        case "unless" => Vec(lv.df.join(rightKeys, joinLabels, "left_anti"), lv.labels)
        case "or" =>
          if (lv.labels != rv.labels)
            fail(s"'or' requires identical label sets " +
              s"(left: ${lv.labels.mkString(",")}; right: ${rv.labels.mkString(",")})")
          val cols = lv.labels.map(col) :+ col("value").cast("double").as("value")
          val leftOut = lv.df.select(cols: _*)
          val fromRight = rv.df
            .join(lv.df.select(joinLabels.map(col): _*), joinLabels, "left_anti")
            .select(cols: _*)
          Vec(leftOut.unionAll(fromRight), lv.labels)
      }
    }
    // scalar(v) / time() operands: a 1-row relation broadcast onto the
    // vector side — never a driver-side collect
    def scalarOperand(ast: Ast): Option[DataFrame] = ast match {
      case Func("scalar", _, inner) =>
        val sv = materialize(compileVec(spark, dir, inner, shiftS))
        Some(sv.df.agg(
          when(count(lit(1)) === 1, max(col("value").cast("double")))
            .otherwise(lit(Double.NaN)).as("_sc")))
      case Func("time", _, _) =>
        // the EVALUATION instant, not the corpus instant: a shifted
        // compile (query_range slice, subquery step) evaluates at
        // T − shiftS, and Prometheus's time() is that step's timestamp
        // (selector offsets, by contrast, never move it)
        Some(instantDf(spark, dir).select(
          (col("_t_us").cast("double") / 1e6 - lit(shiftS.toDouble)).as("_sc")))
      case _ => None
    }
    val lScalar = scalarOperand(b.left)
    val rScalar = scalarOperand(b.right)
    if (lScalar.isDefined && rScalar.isDefined)
      fail("scalar-only expressions are not vectors")
    def withScalar(v0: Vec, sdf: DataFrame, scalarLeft: Boolean): Vec = {
      val v = materialize(v0)
      val joined = v.df.crossJoin(broadcast(sdf))
      val (lc, rc) =
        if (scalarLeft) (col("_sc"), col("value").cast("double"))
        else (col("value").cast("double"), col("_sc"))
      val out =
        if (!isCmp) joined.withColumn("value", arith(b.op, lc, rc))
        else if (b.boolMod)
          joined.withColumn("value", when(cmp(b.op, lc, rc), 1.0).otherwise(0.0))
        else joined.filter(cmp(b.op, lc, rc))
      Vec(out.drop("_sc"), v.labels)
    }
    (b.left, b.right) match {
      case (NumLit(_), NumLit(_)) => fail("scalar-only expressions are not vectors")
      case (l, r) if rScalar.isDefined =>
        withScalar(compileVec(spark, dir, l, shiftS), rScalar.get, scalarLeft = false)
      case (l, r) if lScalar.isDefined =>
        withScalar(compileVec(spark, dir, r, shiftS), lScalar.get, scalarLeft = true)
      case (l, NumLit(s)) =>
        val v = materialize(compileVec(spark, dir, l, shiftS))
        if (!isCmp)
          Vec(v.df.withColumn("value", arith(b.op, col("value"), lit(s))), v.labels)
        else if (b.boolMod)
          Vec(v.df.withColumn("value",
            when(cmp(b.op, col("value").cast("double"), lit(s)), 1.0).otherwise(0.0)),
            v.labels)
        else Vec(v.df.filter(cmp(b.op, col("value").cast("double"), lit(s))), v.labels)
      case (NumLit(s), r) =>
        val v = materialize(compileVec(spark, dir, r, shiftS))
        if (!isCmp)
          Vec(v.df.withColumn("value", arith(b.op, lit(s), col("value"))), v.labels)
        else if (b.boolMod)
          Vec(v.df.withColumn("value",
            when(cmp(b.op, lit(s), col("value").cast("double")), 1.0).otherwise(0.0)),
            v.labels)
        else Vec(v.df.filter(cmp(b.op, lit(s), col("value").cast("double"))), v.labels)
      case (l, r) =>
        val lv = materialize(compileVec(spark, dir, l, shiftS))
        val rv = materialize(compileVec(spark, dir, r, shiftS))
        // default vector matching: all shared labels except the metric
        // name (PromQL drops __name__ on binary ops)
        val joinLabels = matchLabels(lv, rv)
        joinLabels.foreach { jl =>
          if (!lv.labels.contains(jl) || !rv.labels.contains(jl))
            fail(s"matching label '$jl' missing from one side " +
              s"(left: ${lv.labels.mkString(",")}; right: ${rv.labels.mkString(",")})")
        }
        if (joinLabels.isEmpty) fail("binary op has no labels to match on")
        if (b.groupLeft || b.groupRight) {
          if (b.on.isEmpty && b.ignoring.isEmpty)
            fail("group_left/group_right require an explicit on(...) or ignoring(...) clause")
        }
        // group_left/group_right: many-to-one matching where the MANY
        // side keeps its full label set and each of its series joins the
        // single opposite series sharing the matching labels. The "one"
        // side is typically an aggregation over the dropped labels — a
        // small relation, broadcast-friendly.
        //
        // A plain (non-bool) comparison keeps the LEFT side's series
        // UNCHANGED — full label set and value — it only filters them
        // (Prometheus: "vector elements for which the expression is not
        // true are dropped"), so it projects lv.labels, never down to
        // the matching labels.
        val filterCmp = isCmp && !b.boolMod && !b.groupLeft && !b.groupRight
        // group_left(lbls)/group_right(lbls): labels COPIED onto the
        // output from the "one" side; they must exist there and must
        // not collide with the many side's label set
        val carry = b.groupCarry.map(labelCol)
        if (carry.nonEmpty && !b.groupLeft && !b.groupRight)
          fail("carried labels require group_left/group_right")
        carry.foreach { c =>
          val one = if (b.groupLeft) rv else lv
          val many = if (b.groupLeft) lv else rv
          if (!one.labels.contains(c))
            fail(s"carried label is not on the one side (${one.labels.mkString(", ")})")
          if (many.labels.contains(c))
            fail(s"carried label already exists on the many side (${many.labels.mkString(", ")})")
        }
        val (keepLabels, manyValue) =
          if (b.groupLeft) (lv.labels ++ carry, col("_lv"))
          else if (b.groupRight) (rv.labels ++ carry, col("_rv"))
          else if (filterCmp) (lv.labels, col("_lv"))
          else (joinLabels, col("_lv"))
        // Cardinality enforcement (runtime — uniqueness is a property of
        // the data, not the plan): the "one" side of a group_left /
        // group_right must hold at most ONE series per match group, and
        // a modifier-less match must be one-to-one (both sides unique).
        // Prometheus raises "found duplicate series for the match group"
        // in both cases; silently emitting the join's cross-product per
        // group would multiply rows. The guard is a count over the match
        // key — the window's hash partitioning on joinLabels is the same
        // partitioning the join itself needs, so no extra shuffle.
        def dupGuard(df: DataFrame, vcol: String, side: String): DataFrame = {
          val w = Window.partitionBy(joinLabels.map(col): _*)
          val msg = concat(
            lit("found duplicate series for the match group ("),
            concat_ws(", ", joinLabels.map(jl =>
              concat(lit(jl + "=\""), col(jl), lit("\""))): _*),
            lit(s") on the $side-hand side of the operation"))
          df.withColumn(vcol,
            when(count(lit(1)).over(w) > 1,
              raise_error(msg).cast(df.schema(vcol).dataType))
              .otherwise(col(vcol)))
        }
        val lt0 =
          if (b.groupLeft || filterCmp)
            lv.df.select(lv.labels.map(col) :+ col("value").as("_lv"): _*)
          else if (b.groupRight)
            lv.df.select((joinLabels ++ carry).map(col) :+ col("value").as("_lv"): _*)
          else lv.df.select(joinLabels.map(col) :+ col("value").as("_lv"): _*)
        val rt0 =
          if (b.groupRight) rv.df.select(rv.labels.map(col) :+ col("value").as("_rv"): _*)
          else if (b.groupLeft)
            rv.df.select((joinLabels ++ carry).map(col) :+ col("value").as("_rv"): _*)
          else rv.df.select(joinLabels.map(col) :+ col("value").as("_rv"): _*)
        val lt = if (b.groupLeft) lt0 else dupGuard(lt0, "_lv", "left")
        val rt = if (b.groupRight) rt0 else dupGuard(rt0, "_rv", "right")
        val joined = lt.join(rt, joinLabels)
        if (!isCmp)
          Vec(joined.select(keepLabels.map(col) :+
            arith(b.op, col("_lv"), col("_rv")).as("value"): _*), keepLabels)
        else if (b.boolMod)
          Vec(joined.select(keepLabels.map(col) :+
            when(cmp(b.op, col("_lv").cast("double"), col("_rv").cast("double")), 1.0)
              .otherwise(0.0).as("value"): _*), keepLabels)
        else
          // a plain comparison FILTERS the surviving (many-side) series
          // and keeps their values
          Vec(joined.filter(cmp(b.op, col("_lv").cast("double"), col("_rv").cast("double")))
            .select(keepLabels.map(col) :+ manyValue.as("value"): _*), keepLabels)
    }
  }

  private val OverTimeFns = Set("sum_over_time", "avg_over_time",
    "min_over_time", "max_over_time", "count_over_time",
    "stddev_over_time", "stdvar_over_time")

  /** Subquery `(inner)[d:step]` under a `*_over_time` function: the
    * inner expression is evaluated at each step-spaced instant
    * T−d+step, …, T (how the Prometheus engine itself loops subquery
    * instants). Two physical strategies:
    *
    *  - **Cumulative grid** (counter snapshots, optionally under
    *    `sum by (...)`): ONE pass assigns each event its first
    *    contributing instant index, one hash aggregate builds
    *    per-(series, index) partials, and a running-sum window over the
    *    tiny series×instants grid reconstructs every instant's snapshot
    *    — O(events) + O(series × instants), so thousands of instants
    *    cost no extra event passes (bound 4096).
    *  - **Compile-time union** (any other inner shape): the inner plan
    *    at shifted offsets, N filtered passes over the cached adapter
    *    relation (bound 64).
    */
  private def subqueryOverTime(spark: SparkSession, dir: String, fn: String,
      sq: Subquery, shiftS: Long): Vec = {
    if (fn == "stddev_over_time" || fn == "stdvar_over_time")
      fail(s"$fn over a subquery is not supported (apply it to a range selector)")
    if (sq.stepS <= 0) fail("subquery step must be positive")
    if (sq.rangeS % sq.stepS != 0)
      fail(s"subquery range (${sq.rangeS}s) must be a multiple of its step (${sq.stepS}s)")
    val g = sq.rangeS / sq.stepS
    if (g < 1) fail("subquery needs at least one instant")
    // the grid strategies: counter snapshot (bare or sum-by) and bare
    // gauge selectors compile to one event pass + a series×instants
    // running window instead of a per-instant plan union
    // `sel.atS.isEmpty` on every strategy: an absolute @ pin is
    // shift-immune ([[selectorBound]]), so a pinned inner is CONSTANT
    // across the subquery instants — the per-instant union fallback
    // evaluates that correctly; the grid strategies' bucket spread
    // would slide the pin
    val gridCounter: Option[(Seq[String], Selector)] = sq.inner match {
      case sel: Selector if sel.rangeS.isEmpty && sel.atS.isEmpty &&
          MetricEvent.CounterNames.contains(sel.name) =>
        Some((SeriesKey, sel))
      case Agg("sum", Some(("by", ls)), None, sel: Selector)
          if sel.rangeS.isEmpty && sel.atS.isEmpty &&
            MetricEvent.CounterNames.contains(sel.name) =>
        Some((ls.map(labelCol), sel))
      case _ => None
    }
    val gridGauge: Option[(Option[Seq[String]], Selector)] = sq.inner match {
      case sel: Selector if sel.rangeS.isEmpty && sel.atS.isEmpty &&
          MetricEvent.GaugeNames.contains(sel.name) => Some((None, sel))
      case Agg("sum", Some(("by", ls)), None, sel: Selector)
          if sel.rangeS.isEmpty && sel.atS.isEmpty &&
            MetricEvent.GaugeNames.contains(sel.name) =>
        Some((Some(ls.map(labelCol)), sel))
      case _ => None
    }
    // rate/increase inner (bare or under `sum by`) whose window is a
    // step multiple: increase at instant i = cum(i) − cum(i−k), one
    // lag(k) over the same series×grid running sums
    val gridRate: Option[(Seq[String], Selector, String)] = sq.inner match {
      case Func(f2, _, sel: Selector)
          if (f2 == "rate" || f2 == "increase") && sel.atS.isEmpty &&
            sel.rangeS.exists(_ % sq.stepS == 0) &&
            MetricEvent.CounterNames.contains(sel.name) =>
        Some((SeriesKey, sel, f2))
      case Agg("sum", Some(("by", ls)), None, Func(f2, _, sel: Selector))
          if (f2 == "rate" || f2 == "increase") && sel.atS.isEmpty &&
            sel.rangeS.exists(_ % sq.stepS == 0) &&
            MetricEvent.CounterNames.contains(sel.name) =>
        Some((ls.map(labelCol), sel, f2))
      case _ => None
    }
    // nested *_over_time inner whose window is a step multiple: the
    // instant-i window (t_i − w, t_i] is exactly k = w/step consecutive
    // step buckets, so per-(series, bucket) partial aggregates + ONE
    // sliding window over the dense series×grid replace per-instant
    // window re-scans (any family — over_time reads raw samples)
    val bucketDecomposable = Set("sum_over_time", "avg_over_time",
      "min_over_time", "max_over_time", "count_over_time",
      // the variance pair decomposes through exact integer-cents
      // (Σx, Σx², n) bucket partials — see [[gridOverTimeInstants]]
      "stddev_over_time", "stdvar_over_time")
    val gridOverTime: Option[(Selector, String)] = sq.inner match {
      case Func(f2, None, sel: Selector)
          if bucketDecomposable.contains(f2) && sel.atS.isEmpty &&
            sel.rangeS.exists(w => w > 0 && w % sq.stepS == 0) =>
        Some((sel, f2))
      case _ => None
    }
    if (gridCounter.isDefined || gridGauge.isDefined || gridRate.isDefined ||
        gridOverTime.isDefined) {
      if (g > 4096) fail(s"subquery evaluates $g instants; 1..4096 supported (grid strategy)")
      gridCounter match {
        case Some((labels, sel)) =>
          return subqueryGridCounter(spark, dir, fn, sel, labels, shiftS, g, sq.stepS)
        case None => gridRate match {
          case Some((labels, sel, f2)) =>
            return subqueryGridRate(spark, dir, fn, sel, labels, shiftS, g, sq.stepS, f2)
          case None => gridOverTime match {
            case Some((sel, f2)) =>
              return subqueryGridOverTime(spark, dir, fn, sel, shiftS, g, sq.stepS, f2)
            case None =>
              val (sumBy, sel) = gridGauge.get
              return subqueryGridGauge(spark, dir, fn, sel, shiftS, g, sq.stepS, sumBy)
          }
        }
      }
    }
    if (g > 64)
      fail(s"subquery evaluates $g instants; 1..64 supported for this inner shape (compose-time bound)")
    val vecs = (1L to g).map { i =>
      materialize(compileVec(spark, dir, sq.inner, shiftS + sq.rangeS - i * sq.stepS))
    }
    val labels = vecs.head.labels
    val unioned = vecs.map(_.df.select(labels.map(col) :+ col("value"): _*))
      .reduce(_ unionAll _)
    val grouped = unioned.groupBy(labels.map(col): _*)
    val agg = fn match {
      case "sum_over_time" => grouped.agg(vectorSum(unioned).as("value"))
      case "avg_over_time" => grouped.agg(
        (vectorSum(unioned).cast("double") / count(lit(1)).cast("double")).as("value"))
      case "min_over_time" => grouped.agg(min(col("value")).as("value"))
      case "max_over_time" => grouped.agg(max(col("value")).as("value"))
      case "count_over_time" => grouped.agg(count(lit(1)).cast("double").as("value"))
    }
    Vec(agg, labels)
  }

  /** The cumulative-grid subquery strategy (see [[subqueryOverTime]]):
    * instant_i = hi − (g−i)·step for i in 1..g; an event at ts first
    * contributes at index i0 = max(1, g − (hi−ts) div step) and at every
    * later instant, so per-instant snapshots are the RUNNING sums of the
    * per-(labels, i0) partials over the series×grid relation. Instants
    * where a series has no events yet (running count 0) are absent,
    * exactly as in the per-instant evaluation. All sums stay DECIMAL
    * until the final cast — bit-deterministic and oracle-exact.
    */
  private def subqueryGridCounter(spark: SparkSession, dir: String, fn: String,
      sel: Selector, labels: Seq[String], shiftS: Long, g: Long, stepS: Long): Vec =
    Vec(overTimeCollapse(fn,
      gridCounterInstants(spark, dir, sel, labels, shiftS, g, stepS), labels), labels)

  /** Per-instant counter snapshots on the dense grid — the shared core
    * of [[subqueryGridCounter]] and the `query_range` grid path: one
    * event pass → per-(labels, i0) decimal partials → running sums over
    * the series×grid. `value` stays DECIMAL (exact, associative);
    * instants where the series has no events yet are absent.
    */
  private def gridCounterInstants(spark: SparkSession, dir: String,
      sel: Selector, labels: Seq[String], shiftS: Long, g: Long,
      stepS: Long): DataFrame = {
    val stepUs = stepS * 1000000L
    val hi = selectorBound(sel, shiftS)
    if (!Metrics.hasMarkers(spark, dir)) {
      val base = events(spark, dir)
        .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
          col("value") >= 0 && unix_micros(col("ts")) <= hi)
        .withColumn("_age_us", hi - unix_micros(col("ts")))
        .withColumn("_i", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
      val partial = base.groupBy((labels :+ "_i").map(col): _*)
        .agg(exactSum(base).as("_dv"), count(lit(1)).as("_n"))
      import spark.implicits._
      // labels = Nil is the GLOBAL aggregation (`sum(m)`): the grid is
      // the bare instant range and the running window is global over its
      // ≤4096 rows
      val range = spark.range(1L, g + 1L).toDF("_i")
      val grid =
        if (labels.isEmpty) range
        else partial.select(labels.map(col): _*).distinct()
          .crossJoin(broadcast(range))
      val w = Window.partitionBy(labels.map(col): _*).orderBy(col("_i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return grid.join(partial, labels :+ "_i", "left")
        .withColumn("value", sum(col("_dv")).over(w))
        .withColumn("_cum_n", sum(col("_n")).over(w))
        .filter(col("_cum_n") > 0)
    }
    // MARKER-AWARE grid (the instant-vector counter arm's semantics on
    // the dense grid): PER-SERIES partials carry each bucket's latest-
    // event flag (markers and negatives included, mirroring the union
    // path's `_l` struct), the running max over the series×grid
    // reconstructs the latest event at every instant, and an instant
    // whose carried latest is a marker emits nothing until a real
    // sample revives it. The staleness cut is a per-series fact, so
    // aggregated shapes (`sum by` / global) compose ONE extra hash
    // aggregate over the tiny cut series×grid relation — exactly how
    // the union path's Agg composes over the staleness-cut instant
    // vector, so grid ≡ union holds under markers too.
    val st = graft.plans.StaleExprs.isStaleC(col("value"))
    val base = eventsAll(spark, dir)
      .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) <= hi)
      .withColumn("_age_us", hi - unix_micros(col("ts")))
      .withColumn("_i", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
      .withColumn("_stale", st)
    val dv =
      if (base.schema("value").dataType.isInstanceOf[DecimalType])
        sum(when(!col("_stale") && col("value") >= 0, col("value")))
      else
        sum(when(!col("_stale") && col("value") >= 0, col("value"))
          .cast(DecimalType(18, 2)))
    val partial = base.groupBy((SeriesKey :+ "_i").map(col): _*)
      .agg(dv.as("_dv"),
        count(when(!col("_stale") && col("value") >= 0, lit(1))).as("_n"),
        max(struct(unix_micros(col("ts")).as("t"),
          col("event_id").as("e"), col("_stale").as("s"))).as("_l"))
    import spark.implicits._
    val range = spark.range(1L, g + 1L).toDF("_i")
    val grid = partial.select(SeriesKey.map(col): _*).distinct()
      .crossJoin(broadcast(range))
    val w = Window.partitionBy(SeriesKey.map(col): _*).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perSeries = grid.join(partial, SeriesKey :+ "_i", "left")
      .withColumn("value", sum(col("_dv")).over(w))
      .withColumn("_cum_n", sum(col("_n")).over(w))
      .withColumn("_cum_l", max(col("_l")).over(w))
      .filter(col("_cum_n") > 0 && !col("_cum_l").getField("s"))
    if (labels == SeriesKey) perSeries
    else perSeries.groupBy((labels :+ "_i").map(col): _*)
      .agg(sum(col("value")).as("value"))
  }

  /** The `*_over_time` collapse over a per-instant grid relation (the
    * last step of every grid strategy): plain aggregates over `value`,
    * which the instant builders keep DECIMAL where exactness matters —
    * sums stay exact, min/max/count are type-agnostic.
    */
  private def overTimeCollapse(fn: String, instants: DataFrame,
      labels: Seq[String]): DataFrame = {
    val grouped = instants.groupBy(labels.map(col): _*)
    fn match {
      case "sum_over_time" => grouped.agg(sum(col("value")).as("value"))
      case "avg_over_time" => grouped.agg(
        (sum(col("value")).cast("double") / count(lit(1)).cast("double")).as("value"))
      case "min_over_time" => grouped.agg(min(col("value")).as("value"))
      case "max_over_time" => grouped.agg(max(col("value")).as("value"))
      case "count_over_time" => grouped.agg(count(lit(1)).cast("double").as("value"))
    }
  }

  /** Rate/increase twin of [[subqueryGridCounter]]:
    * `fn((rate(m[w]))[d:step])` with `w = k·step` evaluates the inner
    * window at every instant as a running-sum DIFFERENCE —
    * `increase_i = cum(i) − cum(i−k)` — so ONE event pass + one lag(k)
    * over the series×grid replaces per-instant window re-scans. The
    * grid extends k indexes below 1 to carry the lag baseline; events
    * at or before instant_{1−k} are pruned entirely (they cancel in
    * every difference — the PromQL window `(t−w, t]` excludes its left
    * edge). Instants with an empty window (win_n = 0) are absent,
    * exactly as per-instant evaluation. Increases stay DECIMAL through
    * the over_time aggregate; `rate`'s ÷w defers through the linear
    * aggregates to the single final division ([[Vec.rateDiv]]).
    */
  private def subqueryGridRate(spark: SparkSession, dir: String, fn: String,
      sel: Selector, labels: Seq[String], shiftS: Long, g: Long, stepS: Long,
      innerFn: String): Vec = {
    val instants = gridRateInstants(spark, dir, sel, labels, shiftS, g, stepS)
    // the ÷w commutes with sum/avg/min/max (positive scale), not count
    val div = if (innerFn == "rate" && fn != "count_over_time")
      Some(sel.rangeS.get.toDouble) else None
    Vec(overTimeCollapse(fn, instants, labels), labels, rateDiv = div)
  }

  /** Per-instant window increases on the dense grid — the shared core of
    * [[subqueryGridRate]] and the `query_range` grid path: `value` at
    * instant i is the DECIMAL running-sum difference cum(i) − cum(i−k)
    * (`increase`; `rate`'s ÷w is the caller's). Instants with an empty
    * window are absent, exactly as per-instant evaluation.
    */
  private def gridRateInstants(spark: SparkSession, dir: String,
      sel: Selector, labels: Seq[String], shiftS: Long, g: Long,
      stepS: Long): DataFrame = {
    val stepUs = stepS * 1000000L
    val w = sel.rangeS.get
    val k = (w / stepS).toInt
    if (g + k > 4096)
      fail(s"subquery grid spans ${g + k} indexes (instants + lag baseline); 4096 supported")
    val hi = selectorBound(sel, shiftS)
    val base = events(spark, dir)
      .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
        col("value") >= 0 && unix_micros(col("ts")) <= hi &&
        (hi - unix_micros(col("ts"))) < lit((g - 1 + k) * stepUs))
      .withColumn("_age_us", hi - unix_micros(col("ts")))
      .withColumn("_i", lit(g) - expr(s"_age_us div $stepUs"))
    val partial = base.groupBy((labels :+ "_i").map(col): _*)
      .agg(exactSum(base).as("_dv"), count(lit(1)).as("_n"))
    import spark.implicits._
    // labels = Nil: global `sum(rate(m[w]))` — bare index range grid
    val range = spark.range(1L - k, g + 1L).toDF("_i")
    val grid =
      if (labels.isEmpty) range
      else partial.select(labels.map(col): _*).distinct()
        .crossJoin(broadcast(range))
    val ord = Window.partitionBy(labels.map(col): _*).orderBy(col("_i"))
    val wcum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(partial, labels :+ "_i", "left")
      .withColumn("_cum_dv", coalesce(sum(col("_dv")).over(wcum), lit(0)))
      .withColumn("_cum_n", coalesce(sum(col("_n")).over(wcum), lit(0L)))
      .withColumn("value", col("_cum_dv") - coalesce(lag(col("_cum_dv"), k).over(ord), lit(0)))
      .withColumn("_win_n", col("_cum_n") - coalesce(lag(col("_cum_n"), k).over(ord), lit(0L)))
      .filter(col("_i") >= 1 && col("_win_n") > 0)
  }

  /** Nested-subquery grid: `fn((g2(m[w]))[d:step])` with `g2` any
    * `*_over_time` aggregate and `w = k·step`. The instant-i window
    * `(t_i − w, t_i]` is exactly the k consecutive step buckets
    * `i−k+1 .. i` (bucket b = g − age div step), so ONE event pass
    * builds per-(series, bucket) partials (decimal sum, count, min,
    * max — every over_time aggregate decomposes over a bucket
    * partition) and ONE sliding `rowsBetween(−(k−1), 0)` window over
    * the dense series×grid reconstructs every instant's inner value —
    * O(events) + O(series × (g+k) × k) grid work instead of k·g
    * re-scans, the same scaling argument as the rate grid. Buckets
    * older than instant 1's window are pruned at the scan. Instants
    * whose window holds no samples (win count 0) are absent, exactly
    * as per-instant evaluation. Decimal sums stay exact through the
    * sliding window; min/max compose losslessly; avg divides once per
    * instant in the same expression order as the per-instant path, so
    * doubles bit-match the oracle.
    */
  private def subqueryGridOverTime(spark: SparkSession, dir: String, fn: String,
      sel: Selector, shiftS: Long, g: Long, stepS: Long,
      innerFn: String): Vec = {
    val vals = gridOverTimeInstants(spark, dir, sel, shiftS, g, stepS, innerFn)
    val grouped = vals.groupBy(SeriesKey.map(col): _*)
    val agg = fn match {
      case "sum_over_time" => grouped.agg(vectorSum(vals).as("value"))
      case "avg_over_time" => grouped.agg((vectorSum(vals).cast("double") /
        count(lit(1)).cast("double")).as("value"))
      case "min_over_time" => grouped.agg(min(col("value")).as("value"))
      case "max_over_time" => grouped.agg(max(col("value")).as("value"))
      case "count_over_time" => grouped.agg(count(lit(1)).cast("double").as("value"))
    }
    Vec(agg, SeriesKey)
  }

  /** Per-instant `*_over_time` window values on the dense grid — the
    * shared core of [[subqueryGridOverTime]] and the `query_range` grid
    * path: per-(series, step-bucket) partials + ONE sliding
    * `rowsBetween(−(k−1), 0)` window reconstruct every instant's inner
    * value (`value` — DECIMAL for sum, double for avg/count, raw for
    * min/max). Instants whose window holds no samples are absent.
    */
  private def gridOverTimeInstants(spark: SparkSession, dir: String,
      sel: Selector, shiftS: Long, g: Long, stepS: Long,
      innerFn: String): DataFrame = {
    val stepUs = stepS * 1000000L
    val w = sel.rangeS.get
    val k = (w / stepS).toInt
    if (g + k > 4096)
      fail(s"subquery grid spans ${g + k} indexes (instants + window span); 4096 supported")
    val names = resolveNames(sel)
    kindOfAll(names) // family-consistency compose-time check, as in rangeFunc
    val hi = selectorBound(sel, shiftS)
    val base = events(spark, dir)
      .filter(nameFilter(names) && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) <= hi &&
        (hi - unix_micros(col("ts"))) < lit((g - 1 + k) * stepUs))
      .withColumn("_age_us", hi - unix_micros(col("ts")))
      .withColumn("_b", lit(g) - expr(s"_age_us div $stepUs"))
      // integer-cents moments for the variance family (the engine-wide
      // 2-decimal sample convention; exact, associative partials)
      .withColumn("_cents", round(col("value") * 100, 0).cast("long"))
    val partial = base.groupBy((SeriesKey :+ "_b").map(col): _*)
      .agg(exactSum(base).as("_s"), count(lit(1)).as("_n"),
        min(col("value")).as("_mn"), max(col("value")).as("_mx"),
        sum(col("_cents")).as("_c1"),
        sum(col("_cents") * col("_cents")).as("_c2"))
    import spark.implicits._
    val grid = partial.select(SeriesKey.map(col): _*).distinct()
      .crossJoin(broadcast(spark.range(2L - k, g + 1L).toDF("_b")))
    val sw = Window.partitionBy(SeriesKey.map(col): _*).orderBy(col("_b"))
      .rowsBetween(-(k - 1), Window.currentRow)
    val instants = grid.join(partial, SeriesKey :+ "_b", "left")
      .withColumn("_wn", sum(col("_n")).over(sw))
      .withColumn("_ws", sum(col("_s")).over(sw))
      .withColumn("_wmn", min(col("_mn")).over(sw))
      .withColumn("_wmx", max(col("_mx")).over(sw))
      .withColumn("_wc1", sum(col("_c1")).over(sw))
      .withColumn("_wc2", sum(col("_c2")).over(sw))
      .filter(col("_b") >= 1 && col("_wn") > 0)
    // variance from windowed (Σx, Σx², n) in the IDENTICAL expression
    // order as the union path's rangeWindowAgg, so union ≡ grid bit-match
    val mean = col("_wc1").cast("double") / col("_wn").cast("double")
    val varCents = col("_wc2").cast("double") / col("_wn").cast("double") -
      mean * mean
    val innerValue = innerFn match {
      case "sum_over_time" => col("_ws")
      case "avg_over_time" => col("_ws").cast("double") / col("_wn").cast("double")
      case "min_over_time" => col("_wmn")
      case "max_over_time" => col("_wmx")
      case "count_over_time" => col("_wn").cast("double")
      case "stddev_over_time" => sqrt(varCents) / 100.0
      case "stdvar_over_time" => varCents / 10000.0
      case other => fail(s"$other inside a grid subquery is not supported")
    }
    instants.withColumn("value", innerValue).withColumnRenamed("_b", "_i")
  }

  /** Per-instant CLASSIC `histogram_quantile` on the dense grid — the
    * alerting dashboard's p99 panel (`histogram_quantile(φ,
    * sum by (k) (rate(h[w])))` at every grid step) as ONE plan:
    * per-(series, le, step-bucket) integer bucket partials from one
    * event pass + one broadcast cross-join with the 7 literal
    * boundaries, a sliding (windowed form) or running (instant form)
    * sum over the (series, le)×grid, then the standard fused
    * interpolation per (series, instant). The quantile inputs are the
    * SAME integers the per-instant snapshot path aggregates directly
    * (bucket counts decompose exactly over step buckets) and the
    * interpolation expressions are identical, so grid ≡ union is
    * bit-exact. `rate` vs `increase` agree (the quantile is
    * scale-invariant); `sum by`/global forms are coarser groupings of
    * the same counts, fused into the one aggregate.
    */
  private def gridHistogramQuantileInstants(spark: SparkSession, dir: String,
      phi: Double, sel: Selector, outLabels: Seq[String], shiftS: Long,
      g: Long, stepS: Long, windowD: Option[Long]): DataFrame = {
    if (kindOf(sel.name) != "histogram")
      fail(s"histogram_quantile expects a histogram family, '${sel.name}' is a ${kindOf(sel.name)}")
    val stepUs = stepS * 1000000L
    val k = windowD.map(w => (w / stepS).toInt).getOrElse(0)
    if (g + k > 4096)
      fail(s"query_range grid spans ${g + k} indexes (instants + window span); 4096 supported")
    val hi = selectorBound(sel, shiftS)
    val base0 = events(spark, dir)
      .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) <= hi)
      .withColumn("_age_us", hi - unix_micros(col("ts")))
    val base = windowD match {
      case Some(_) => base0
        .filter(col("_age_us") < lit((g - 1 + k) * stepUs))
        .withColumn("_b", lit(g) - expr(s"_age_us div $stepUs"))
      case None => base0
        .withColumn("_b", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
    }
    import spark.implicits._
    val bounds = MetricEvent.Buckets.toDF("le")
    // r19: the per-(series, le, step) integer partials are checkpointed
    // (aggregate-bounded) — the lattice-distinct arm and the instant
    // join each replayed the |buckets|×-fanout event aggregation
    // (the p82-path finding; same fix, guide §2.4).
    val partial = graft.operators.Checkpoints.cut(
      base.crossJoin(broadcast(bounds))
        .groupBy((outLabels ++ Seq("le", "_b")).map(col): _*)
        .agg(sum(when(col("value") <= col("le"), 1L).otherwise(0L)).as("_c"),
          count(lit(1)).as("_n")))
    val range = windowD match {
      case Some(_) => spark.range(2L - k, g + 1L).toDF("_b")
      case None => spark.range(1L, g + 1L).toDF("_b")
    }
    val grid = partial.select((outLabels :+ "le").map(col): _*).distinct()
      .crossJoin(broadcast(range))
    val swBase = Window.partitionBy((outLabels :+ "le").map(col): _*)
      .orderBy(col("_b"))
    val sw = windowD match {
      case Some(_) => swBase.rowsBetween(-(k - 1), Window.currentRow)
      case None => swBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    }
    val inst = grid.join(partial, outLabels ++ Seq("le", "_b"), "left")
      .withColumn("cum_count", sum(col("_c")).over(sw))
      .withColumn("count", sum(col("_n")).over(sw))
      .filter(col("_b") >= 1 && col("count") > 0)
    // the same fused filter+CASE interpolation as the snapshot path,
    // partitioned by (series, instant)
    val series = (outLabels :+ "_b").map(col)
    val w2 = Window.partitionBy(series: _*).orderBy(col("le"))
    val ranked = inst
      .withColumn("rank", lit(phi) * col("count").cast("double"))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(w2), lit(0.0)))
      .withColumn("prev_cum", coalesce(lag(col("cum_count"), 1).over(w2), lit(0L)))
      .withColumn("max_le", max(col("le")).over(Window.partitionBy(series: _*)))
      .withColumn("max_cum", max(col("cum_count")).over(Window.partitionBy(series: _*)))
    val overflowRow = col("le") === col("max_le") &&
      col("rank") > col("max_cum").cast("double")
    val inBucketRow = col("cum_count") >= col("rank") &&
      col("prev_cum") < col("rank")
    ranked.filter(inBucketRow || overflowRow)
      .select(outLabels.map(col) :+ col("_b").as("_i") :+
        when(overflowRow, col("max_le"))
          .otherwise(col("prev_le") + (col("le") - col("prev_le"))
            * (col("rank") - col("prev_cum").cast("double"))
            / (col("cum_count") - col("prev_cum")).cast("double")).as("value"): _*)
  }

  /** Per-instant NATIVE `histogram_quantile` on the dense grid — the
    * sparse exponential-bucket twin of [[gridHistogramQuantileInstants]]:
    * scalar codegen bucketization once per observation, per-(series,
    * bucket, step-bucket) integer partials, sliding (windowed form) or
    * running (instant form) sums reconstruct every instant's totals and
    * bucket counts, then [[nativeHistogramQuantile]]'s exact walk —
    * rank vs zero bucket, first covering bucket, in-bucket fraction,
    * `2^((i−1+f)/2^s)` through the codegen'd det_exp2 — per (series,
    * instant). Identical integer inputs + identical pinned IEEE steps
    * ⇒ grid ≡ union bit-exact and DuckDB-gateable.
    */
  private def gridNativeHqInstants(spark: SparkSession, dir: String,
      phi: Double, sel: Selector, outLabels: Seq[String], shiftS: Long,
      g: Long, stepS: Long, windowD: Option[Long]): DataFrame = {
    val stepUs = stepS * 1000000L
    val k = windowD.map(w => (w / stepS).toInt).getOrElse(0)
    if (g + k > 4096)
      fail(s"query_range grid spans ${g + k} indexes (instants + window span); 4096 supported")
    val hi = selectorBound(sel, shiftS)
    // the shared session-cached nh-bucketized observation relation
    // (one scalar bucketization pass per session, shared with the
    // pyramid's native faces) instead of a fresh event pass per panel
    val base0 = graft.operators.Downsample.nhObsCached(spark, dir)
      .crossJoin(broadcast(instantDf(spark, dir)))
      .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) <= hi)
      .withColumn("_age_us", hi - unix_micros(col("ts")))
    val base = windowD match {
      case Some(_) => base0
        .filter(col("_age_us") < lit((g - 1 + k) * stepUs))
        .withColumn("_b", lit(g) - expr(s"_age_us div $stepUs"))
      case None => base0
        .withColumn("_b", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
    }
    import spark.implicits._
    val range = (windowD match {
      case Some(_) => spark.range(2L - k, g + 1L)
      case None => spark.range(1L, g + 1L)
    }).toDF("_b")
    def sw(parts: Seq[String]) = {
      val base = Window.partitionBy(parts.map(col): _*).orderBy(col("_b"))
      windowD match {
        case Some(_) => base.rowsBetween(-(k - 1), Window.currentRow)
        case None => base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      }
    }
    // NOTE(r18 opt): checkpointing totPart/tot/bkPart/bw here (the p91
    // panel recipe) was tried and measured NO better to WORSE at the
    // 240-instant grid — `bw` is (cells × buckets × instants)-sized
    // (~1.4M rows for a 240-instant panel), so its materialization
    // dominated. r19 cuts ONE level lower: a single obs pass produces
    // the per-(series, bucket-incl-null, step) integer partials; that
    // checkpoint (aggregate-bounded, two orders smaller than bw) feeds
    // BOTH the totals and the bucket lattice — the probe showed ~8
    // concurrent obs-scan subtrees (totPart, bkPart, and the lattice
    // distinct arms each replayed the filtered obs scan, ~1.1 s
    // apiece); now the obs relation is scanned once. The partials are
    // exact integer sums, so every downstream value is bit-identical.
    val g0 = graft.operators.Checkpoints.cut(
      base.groupBy((outLabels ++ Seq("bucket", "_b")).map(col): _*)
        .agg(count(lit(1)).as("_c"),
          sum(when(col("iszero"), 1L).otherwise(0L)).as("_z")))
    val totPart = g0.groupBy((outLabels :+ "_b").map(col): _*)
      .agg(sum(col("_c")).as("_n"), sum(col("_z")).as("_z"))
    val tot = totPart.select(outLabels.map(col): _*).distinct()
      .crossJoin(broadcast(range))
      .join(totPart, outLabels :+ "_b", "left")
      .withColumn("cnt", sum(col("_n")).over(sw(outLabels)))
      .withColumn("zero", coalesce(sum(col("_z")).over(sw(outLabels)), lit(0L)))
      .filter(col("_b") >= 1 && col("cnt") > 0)
      .select((outLabels :+ "_b").map(col) :+ col("cnt") :+ col("zero"): _*)
    val bkPart = g0
      .filter(col("bucket").isNotNull)
      .select((outLabels ++ Seq("bucket", "_b")).map(col) :+ col("_c"): _*)
    val bk = bkPart.select((outLabels :+ "bucket").map(col): _*).distinct()
      .crossJoin(broadcast(range))
      .join(bkPart, outLabels ++ Seq("bucket", "_b"), "left")
      .withColumn("c", sum(col("_c")).over(sw(outLabels :+ "bucket")))
      .filter(col("_b") >= 1 && col("c") > 0)
      .join(broadcast(Metrics.nhBoundsDf(spark).select(col("bucket"), col("hi"))),
        Seq("bucket"))
    val instKey = outLabels :+ "_b"
    val w = Window.partitionBy(instKey.map(col): _*).orderBy(col("bucket"))
    // bw stays lazy: it is (cells × grid instants)-sized — the one
    // relation here a checkpoint would materialize at ~1.4M rows for a
    // 240-instant panel (measured SLOWER when checkpointed); its two
    // consumers share the window's shuffle via ReuseExchange instead
    // r19b: last_hi rides the SAME window pass as cumc (full-frame max
    // over the identical partition key — one extra Window node on the
    // shared sort, no second pass), and the overflow fallback keeps the
    // LAST bucket row instead of joining a separate bstats aggregate —
    // the old shape consumed the (cells × instants) bw lattice twice
    // (the probe showed two concurrent ~2 s lattice jobs). Semantics
    // unchanged: a covering bucket row wins (rn orders covering-first,
    // then bucket — the first covering bucket, as before); an instant
    // whose rank overflows every bucket keeps its last bucket row with
    // _qv null, so the final CASE falls through to last_hi exactly as
    // the bstats join did; rank ≤ zero instants have no picked row and
    // hit the 0.0 branch first, as before.
    val bw = bk.withColumn("cumc", sum(col("c")).over(w))
      .withColumn("last_hi",
        max(col("hi")).over(Window.partitionBy(instKey.map(col): _*)))
    val covering = col("rank") <= (col("zero") + col("cumc")).cast("double")
    val pickOrder = Window.partitionBy(instKey.map(col): _*)
      .orderBy(when(covering, lit(0)).otherwise(lit(1)), col("bucket"))
    val picked = bw.join(tot, instKey)
      .withColumn("rank", lit(phi) * col("cnt").cast("double"))
      .filter(col("rank") > col("zero").cast("double") &&
        (covering || col("hi") === col("last_hi")))
      .withColumn("rn", row_number().over(pickOrder))
      .filter(col("rn") === 1)
      .withColumn("f",
        (col("rank") - (col("zero") + col("cumc") - col("c")).cast("double"))
          / col("c").cast("double"))
      .withColumn("xq",
        ((col("bucket") - lit(1)).cast("double") + col("f")) / lit(8.0))
      .select(instKey.map(col) :+
        when(covering, graft.plans.DetMathExprs.detExp2(spark, "xq")).as("_qv") :+
        col("last_hi"): _*)
    tot.join(picked, instKey, "left")
      .select(outLabels.map(col) :+ col("_b").as("_i") :+
        when(lit(phi) * col("cnt").cast("double") <= col("zero").cast("double"),
          lit(0.0))
          .when(col("_qv").isNotNull, col("_qv"))
          .otherwise(col("last_hi")).as("value"): _*)
  }

  /** Gauge twin of [[subqueryGridCounter]]: the per-instant value is
    * last-write-wins, reconstructed as a RUNNING max over the
    * `(ts, event_id, value)` struct (lexicographic struct ordering —
    * `value` never decides because `(ts, event_id)` is unique), so one
    * event pass + one window over the series×grid replaces per-instant
    * re-evaluation. sum/avg over the double instant values go through
    * DECIMAL(38,12) like [[vectorSum]].
    */
  private def subqueryGridGauge(spark: SparkSession, dir: String, fn: String,
      sel: Selector, shiftS: Long, g: Long, stepS: Long,
      sumBy: Option[Seq[String]] = None): Vec = {
    val (valued, outLabels) = gridGaugeInstants(spark, dir, sel, shiftS, g, stepS, sumBy)
    val grouped = valued.groupBy(outLabels.map(col): _*)
    val agg = fn match {
      case "sum_over_time" =>
        grouped.agg(sum(col("_v").cast(DecimalType(38, 12))).as("value"))
      case "avg_over_time" => grouped.agg(
        (sum(col("_v").cast(DecimalType(38, 12))).cast("double") /
          count(lit(1)).cast("double")).as("value"))
      case "min_over_time" => grouped.agg(min(col("_v")).as("value"))
      case "max_over_time" => grouped.agg(max(col("_v")).as("value"))
      case "count_over_time" => grouped.agg(count(lit(1)).cast("double").as("value"))
    }
    Vec(agg, outLabels)
  }

  /** Per-instant gauge (LWW) values on the dense grid — the shared core
    * of [[subqueryGridGauge]] and the `query_range` grid path. Returns
    * the instants relation (`outLabels :+ "_i" :+ "_v"`) and its label
    * set; `_v` is the raw LWW double (bare) or the DECIMAL(38,12)
    * per-group sum (`sum by`).
    */
  private def gridGaugeInstants(spark: SparkSession, dir: String,
      sel: Selector, shiftS: Long, g: Long, stepS: Long,
      sumBy: Option[Seq[String]]): (DataFrame, Seq[String]) = {
    val stepUs = stepS * 1000000L
    val hi = selectorBound(sel, shiftS)
    // markers ride the partials (INSTANT read, [[eventsAll]]): the
    // running LWW struct carries the latest event's stale flag, and a
    // grid instant whose carried latest is a marker emits nothing
    // until a newer real sample revives the series (B10 staleness).
    // Marker-free corpora (the cached probe) compile the plain struct.
    val st = graft.plans.StaleExprs.isStaleC(col("value"))
    val marked = Metrics.hasMarkers(spark, dir)
    val base = eventsAll(spark, dir)
      .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
        unix_micros(col("ts")) <= hi)
      .withColumn("_age_us", hi - unix_micros(col("ts")))
      .withColumn("_i", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
    val lwwStruct =
      if (marked) struct(unix_micros(col("ts")).as("t"),
        col("event_id").as("e"), st.as("s"), col("value").as("v"))
      else struct(unix_micros(col("ts")).as("t"),
        col("event_id").as("e"), col("value").as("v"))
    val partial = base.groupBy((SeriesKey :+ "_i").map(col): _*)
      .agg(max(lwwStruct).as("_m"), count(lit(1)).as("_n"))
    import spark.implicits._
    val grid = partial.select(SeriesKey.map(col): _*).distinct()
      .crossJoin(broadcast(spark.range(1L, g + 1L).toDF("_i")))
    val w = Window.partitionBy(SeriesKey.map(col): _*).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val instants = grid.join(partial, SeriesKey :+ "_i", "left")
      .withColumn("_cum", max(col("_m")).over(w))
      .withColumn("_cum_n", sum(col("_n")).over(w))
      .filter(col("_cum_n") > 0 &&
        (if (marked) !col("_cum").getField("s") else lit(true)))
      .withColumn("_v", col("_cum").getField("v"))
    // `sum by (...)` inner shape: the per-instant group value is the
    // sum of the present series' LWW values — one extra hash aggregate
    // on the tiny series×instants grid, then the over_time collapse
    sumBy match {
      case Some(labels) =>
        (instants.groupBy((labels :+ "_i").map(col): _*)
          .agg(sum(col("_v").cast(DecimalType(38, 12))).as("_v")), labels)
      case None => (instants, SeriesKey)
    }
  }

  /** Dense-grid `query_range` evaluation (SURVEY §2.2 serving surface):
    * `ast` evaluated at every instant of the grid `startS, startS+stepS,
    * …, last ≤ endS` as ONE plan — per-(series, step-bucket) partials +
    * one running/sliding window over the series×grid — instead of one
    * unioned plan per instant. This is what makes a real dashboard's
    * 250–1,000-step range request viable: the per-instant union is a
    * planner-killer past a few dozen instants, while the grid costs one
    * event pass + O(series × instants) window work regardless of step
    * count (compose-time bound 4096).
    *
    * Returns `Some(df)` with columns `labels :+ t_s :+ value` (epoch
    * seconds, double) when `ast` matches a grid-able shape — bare or
    * `sum by` counter/gauge selectors, bare or `sum by` rate/increase
    * whose window is a step multiple, and decomposable `*_over_time`
    * over a range selector — or `None` (caller unions, bound 64). The
    * per-instant anchor reproduces the union path's exactly: instant i's
    * bound is `_t_us − (T − t_i)·1e6` with integer-second shifts, so the
    * two paths are bit-identical on any common grid (pinned in
    * `QueryRangeSpec`).
    */
  private[graft] def rangeGridEval(spark: SparkSession, dir: String, ast: Ast,
      startS: Long, endS: Long, stepS: Long): Option[DataFrame] = {
    require(stepS > 0, "step must be positive")
    require(endS >= startS, "end must be >= start")
    val g = (endS - startS) / stepS + 1
    val last = startS + (g - 1) * stepS
    val built = rangeGridVector(spark, dir, ast, startS, endS, stepS)
    built.map { case (inst, labels, valueCol, rdiv) =>
      if (g > 4096)
        fail(s"query_range grid evaluates $g instants; 1..4096 supported")
      // the same division expression as [[materialize]]'s deferred rate
      val v = rdiv.map(d => col(valueCol).cast("double") / lit(d))
        .getOrElse(col(valueCol).cast("double"))
      inst.select(labels.map(col) :+
        (lit(last) - (lit(g) - col("_i")) * lit(stepS)).cast("long").as("t_s") :+
        v.as("value"): _*)
    }
  }

  /** The pre-materialization grid vector: the per-instant relation
    * (`labels :+ "_i" :+ valueCol`), its labels, the value column name,
    * and the deferred rate divisor — or `None` when no grid strategy
    * matches `ast`. Parameterized by the grid bounds so grid arms can
    * RECURSE onto finer lattices (the subquery composition evaluates
    * its inner on the step-`s` lattice spanning every outer window with
    * one recursive call, then slides over lattice indexes).
    */
  private def rangeGridVector(spark: SparkSession, dir: String, ast: Ast,
      startS: Long, endS: Long, stepS: Long)
      : Option[(DataFrame, Seq[String], String, Option[Double])] = {
    require(stepS > 0, "step must be positive")
    require(endS >= startS, "end must be >= start")
    val g = (endS - startS) / stepS + 1
    val last = startS + (g - 1) * stepS
    val t = instantSeconds(spark, dir)
    if (last > t)
      fail(s"grid instant $last is after the corpus instant ${t.toLong}")
    val shiftS = (t - last).toLong
    def counter(sel: Selector) =
      sel.rangeS.isEmpty && MetricEvent.CounterNames.contains(sel.name)
    def gauge(sel: Selector) =
      sel.rangeS.isEmpty && MetricEvent.GaugeNames.contains(sel.name)
    def rateable(sel: Selector) = sel.rangeS.exists(_ % stepS == 0) &&
      MetricEvent.CounterNames.contains(sel.name)
    val bucketDecomposable = Set("sum_over_time", "avg_over_time",
      "min_over_time", "max_over_time", "count_over_time")
    // `sum by (ls)` → the label columns; bare `sum(...)` → the GLOBAL
    // aggregation (empty label set); `without` takes the generic
    // per-series composition below
    def sumLabels(grp: Option[(String, Seq[String])]): Option[Seq[String]] =
      grp match {
        case None => Some(Nil)
        case Some(("by", ls)) => Some(ls.map(labelCol))
        case _ => None
      }
    // the union path's grouping-column resolution, verbatim
    def gcol(l: String): String = LabelUniverse.getOrElse(l, "label_" + l)
    def groupColsOf(grp: Option[(String, Seq[String])],
        labels: Seq[String]): Option[Seq[String]] = grp match {
      case Some(("by", ls)) => Some(ls.map(gcol))
      case Some(("without", ls)) =>
        val dropped = ls.map(gcol).toSet
        Some(labels.filterNot(l => l == "name" || dropped.contains(l)))
      case None => Some(Nil)
      case _ => None
    }
    // the selector's upper bound at the LAST grid instant (instant i's
    // bound is hi − (g−i)·step, uniform because the shift is the same
    // integer-second quantity at every instant)
    def selectorHi(sel: Selector): Column = selectorBound(sel, shiftS)
    // instant _i's exclusive window lower bound (µs), as a column
    def instantLo(hi: Column, w2: Long): Column =
      hi - (lit(g) - col("_i")) * lit(stepS * 1000000L) - lit(w2 * 1000000L)
    // each event exploded to the ≤k instants whose trailing window of
    // `w2` seconds contains it (step bucket b covers instants
    // b..b+k−1). The age prune guarantees greatest(b, 1) ≤
    // least(b+k−1, g) on every surviving row, so the sequence never
    // descends (Spark's sequence DESCENDS on inverted bounds — the
    // b37c zero-length-span lesson).
    def explodeToInstants(df: DataFrame, hi: Column, w2: Long): DataFrame = {
      val kq = (w2 / stepS).toInt
      if (g + kq > 4096)
        fail(s"query_range grid spans ${g + kq} indexes (instants + window span); 4096 supported")
      val stepUs = stepS * 1000000L
      df.filter((hi - unix_micros(col("ts"))) < lit((g - 1 + kq) * stepUs))
        .withColumn("_age_us", hi - unix_micros(col("ts")))
        .withColumn("_b", lit(g) - expr(s"_age_us div $stepUs"))
        .withColumn("_i", explode(sequence(greatest(col("_b"), lit(1L)),
          least(col("_b") + lit((kq - 1).toLong), lit(g)))))
    }
    // Recursive grid-vector builder mirroring compileVec + vectorAgg:
    // returns the per-instant relation (`labels :+ "_i" :+ valueCol`),
    // its labels, the value column name, and the deferred rate divisor.
    // FUSED arms (sum over counter/gauge/rate) come first — they
    // pre-aggregate inside the partials; every other aggregation
    // composes generically over the per-series grid vector, exactly as
    // vectorAgg composes over instant vectors.
    // a sub-expression whose selectors ALL carry absolute @ pins (and
    // which never references time()) evaluates to the SAME vector at
    // every grid instant: pins are shift-immune ([[selectorBound]]),
    // so compile it ONCE and broadcast across the instant range —
    // exactly the union path's per-slice result, de-duplicated
    def pinClosed(a: Ast): Boolean = {
      var sels = 0
      var pinned = true
      var timeless = true
      def walk(x: Ast): Unit = x match {
        case s: Selector => sels += 1; if (s.atS.isEmpty) pinned = false
        case Func("time", _, _) => timeless = false
        case Func(_, _, arg) => walk(arg)
        case Agg(_, _, _, arg) => walk(arg)
        case b: BinOp => walk(b.left); walk(b.right)
        case Subquery(inner, _, _) => walk(inner)
        case CountValues(_, arg) => walk(arg)
        case SmoothFunc(_, _, arg) => walk(arg)
        case HistFraction(_, _, arg) => walk(arg)
        case LabelFunc(_, _, arg) => walk(arg)
        case _: NumLit => ()
      }
      walk(a)
      sels > 0 && pinned && timeless
    }
    def gridVector(a: Ast): Option[(DataFrame, Seq[String], String, Option[Double])] = a match {
      case a0 if pinClosed(a0) =>
        val v = materialize(compileVec(spark, dir, a0, shiftS))
        import spark.implicits._
        Some((v.df.select(v.labels.map(col) :+ col("value"): _*)
          .crossJoin(broadcast(spark.range(1L, g + 1L).toDF("_i"))),
          v.labels, "value", None))
      // the `ALERTS` synthetic series at DASHBOARD resolution — the
      // alert-timeline panel a real Grafana draws: each standing rule's
      // pending→firing ladder rides [[Rules.alertStatesGridAt]] (ONE
      // dense-grid condition pass + a residue-class sliding window per
      // rule), matchers apply post-hoc exactly like the instant arm,
      // and a rule whose shape can't grid (non-grid condition, interval
      // off the step lattice) falls the WHOLE selector back to the
      // per-instant union path so grid ≡ union stays a refinement, not
      // a semantic fork.
      case sel: Selector if sel.name == "ALERTS" =>
        val rules = alertRulesVar.value
        if (rules.isEmpty)
          fail("selecting ALERTS needs standing alert rules " +
            "(Engine.eval(..., alertRules = ...) or withAlertRules)")
        if (sel.rangeS.isDefined)
          fail("ALERTS[..] range selection is not supported; " +
            "query_range over ALERTS serves the state timeline")
        val off = sel.offsetS.getOrElse(0L)
        val s0 = startS - off
        val e0 = endS - off
        val frames = rules.map(r =>
          Rules.alertStatesGridAt(spark, dir, r, s0, e0, stepS))
        if (frames.exists(_.isEmpty)) None
        else {
          val fs = frames.map(_.get)
          val allLabels = Seq("name", "label_k", "label_instance")
            .filter(l => fs.exists(_.columns.contains(l)))
          val aligned = fs.map { f =>
            f.select(col("alertname") +: col("alertstate") +: col("t_s") +:
              (allLabels.map(l =>
                if (f.columns.contains(l)) col(l)
                else lit(null).cast("string").as(l)) :+ col("value")): _*)
          }
          val u = alertsMatcherFilter(aligned.reduce(_ unionAll _), sel)
          // grid index off the (offset-shifted) ladder instant; the
          // caller's t_s reconstruction inverts this exactly
          val inst = u
            .withColumn("_i",
              expr(s"(t_s - ${s0}L) div ${stepS}L") + lit(1L))
            .drop("t_s")
          Some((inst, Seq("alertname", "alertstate") ++ allLabels,
            "value", None))
        }
      case sel: Selector if counter(sel) =>
        Some((gridCounterInstants(spark, dir, sel, SeriesKey, shiftS, g, stepS),
          SeriesKey, "value", None))
      case Agg("sum", grp, None, sel: Selector)
          if counter(sel) && sumLabels(grp).isDefined =>
        val labels = sumLabels(grp).get
        Some((gridCounterInstants(spark, dir, sel, labels, shiftS, g, stepS),
          labels, "value", None))
      case sel: Selector if gauge(sel) =>
        val (df, labels) = gridGaugeInstants(spark, dir, sel, shiftS, g, stepS, None)
        Some((df, labels, "_v", None))
      case Agg("sum", grp, None, sel: Selector)
          if gauge(sel) && sumLabels(grp).isDefined =>
        val (df, labels) = gridGaugeInstants(spark, dir, sel, shiftS, g, stepS,
          Some(sumLabels(grp).get))
        Some((df, labels, "_v", None))
      case Func(f2, _, sel: Selector)
          if (f2 == "rate" || f2 == "increase") && rateable(sel) =>
        Some((gridRateInstants(spark, dir, sel, SeriesKey, shiftS, g, stepS),
          SeriesKey, "value",
          if (f2 == "rate") Some(sel.rangeS.get.toDouble) else None))
      case Agg("sum", grp, None, Func(f2, _, sel: Selector))
          if (f2 == "rate" || f2 == "increase") && rateable(sel) &&
            sumLabels(grp).isDefined =>
        val labels = sumLabels(grp).get
        Some((gridRateInstants(spark, dir, sel, labels, shiftS, g, stepS),
          labels, "value",
          if (f2 == "rate") Some(sel.rangeS.get.toDouble) else None))
      // rate/increase over a RECORDED series on the dense grid — the
      // Grafana dashboard shape for recording rules. The rule loop's
      // samples exist at EVERY rule instant, so at grid instant T_j the
      // window (T_j−d, T_j] holds increase = cum(T_j) − cum(T_j−d):
      // the recorded samples of a (sum-by-of-)counter rule are MONOTONE
      // running sums, so the instant path's reset-aware adjacent walk
      // telescopes to this endpoint difference exactly. One lag(d/step)
      // over the same series×grid running sums the raw-rate arm rides —
      // with TWO view-semantics differences from raw rate, matching
      // [[recordedRangeFunc]]: a series born inside the window counts
      // its whole mass (missing baseline → 0), and a series quiet
      // across the window is PRESENT with 0 (its samples exist).
      case Func(f2, _, sel: Selector)
          if (f2 == "rate" || f2 == "increase") && sel.atS.isEmpty &&
            sel.rangeS.exists(w => w > 0 && w % stepS == 0) &&
            recordedRules.value.contains(sel.name) =>
        val (ruleAst, ivS) = recordedRules.value(sel.name)
        val d = sel.rangeS.get
        if (d < ivS || d % ivS != 0)
          fail(s"range (${d}s) over recorded series '${sel.name}' must be a " +
            s"positive multiple of its evaluation interval (${ivS}s)")
        // counter rules ONLY: the endpoint-difference telescoping needs
        // MONOTONE snapshots; a gauge rule's recorded samples can move
        // both ways, so those keep the union path's reset-aware walk
        recordedFastShape(ruleAst).collect { case (labels, s2, "counter") =>
          val k = (d / stepS).toInt
          if (g + k > 4096)
            fail(s"query_range grid spans ${g + k} indexes (instants + lag baseline); 4096 supported")
          val shiftEff = shiftS + sel.offsetS.getOrElse(0L)
          val cum = recordedGridPostHoc(
            gridCounterInstants(spark, dir, s2, labels, shiftEff,
              g + k, stepS), labels, sel)
          val w = Window.partitionBy(labels.map(col): _*).orderBy(col("_i"))
          // rows are contiguous from each series' birth instant, so
          // lag(k) IS the T_j−d snapshot; NULL = born inside the window
          val inc = cum
            .withColumn("_base", lag(col("value"), k).over(w))
            .filter(col("_i") > k)
            .withColumn("_inc",
              col("value") - coalesce(col("_base"), lit(0)))
            .select((labels.map(col) :+ (col("_i") - k).as("_i") :+
              col("_inc").as("value")): _*)
          (inc, labels, "value",
            if (f2 == "rate") Some(d.toDouble) else None)
        }
      // *_over_time over a RECORDED series on the dense grid — the
      // smoothing-panel shape (avg_over_time(recorded[1d])). The rule
      // loop's samples live on its own interval lattice; when the grid
      // step is a lattice multiple, every output instant's left-open
      // window is exactly k = d/iv consecutive lattice points ending ON
      // it — so ONE event pass builds the lattice snapshots and ONE
      // row-frame sliding window serves every panel instant, output
      // rows being the lattice points that are grid instants. Presence
      // is contiguous from each series' birth, so the row frame equals
      // the lattice frame (partial windows at birth carry exactly the
      // per-instant walk's sample set). Shapes off the lattice
      // (step % iv ≠ 0), non-fast rules, or over-budget lattices fall
      // to the union path's per-instant recordedRangeFunc.
      case Func(f2, _, sel: Selector)
          if RecordedGridOverTimeFns.contains(f2) && sel.atS.isEmpty &&
            sel.rangeS.exists(_ > 0) &&
            recordedRules.value.contains(sel.name) =>
        val (ruleAst, ivS) = recordedRules.value(sel.name)
        val d = sel.rangeS.get
        if (d < ivS || d % ivS != 0)
          fail(s"range (${d}s) over recorded series '${sel.name}' must be a " +
            s"positive multiple of its evaluation interval (${ivS}s)")
        if (stepS % ivS != 0) None
        else recordedFastShape(ruleAst).flatMap { case (labels, s2, kind) =>
          val k = (d / ivS).toInt
          val m = (stepS / ivS).toInt
          val L = (g - 1) * m + k
          if (L > 4096) None // over budget: union path (its own gates)
          else {
            val shiftEff = shiftS + sel.offsetS.getOrElse(0L)
            val lattice = recordedGridPostHoc(
              recordedFastInstants(spark, dir, labels, s2, kind, shiftEff,
                L.toLong, ivS),
              labels, sel)
            val w = Window.partitionBy(labels.map(col): _*).orderBy(col("_i"))
              .rowsBetween(-(k - 1).toLong, 0L)
            val v = f2 match {
              case "sum_over_time" => sum(col("value")).over(w)
              case "avg_over_time" =>
                sum(col("value")).over(w).cast("double") /
                  count(lit(1)).over(w).cast("double")
              case "min_over_time" => min(col("value")).over(w)
              case "max_over_time" => max(col("value")).over(w)
              case "count_over_time" =>
                count(lit(1)).over(w).cast("double")
              case "last_over_time" => col("value") // the T_j snapshot
              case "present_over_time" => lit(1.0)
              case "delta" =>
                // last − first by lattice index over the in-window
                // samples (the instant walk's max_by/min_by pair); one
                // sample → 0, the single-sample rule
                col("value") - first(col("value")).over(w)
            }
            // output rows: lattice points that ARE grid instants; the
            // `_i >= k` bound drops early lattice rows (they exist from
            // each series' birth and would alias to instants before the
            // requested range)
            val out = lattice.withColumn("_v", v)
              .filter(((lit(L) - col("_i")) % m) === 0 &&
                col("_i") >= lit(k.toLong))
              .select((labels.map(col) :+
                (lit(g) - (lit(L) - col("_i")) / m).as("_i") :+
                col("_v").as("value")): _*)
            Some((out, labels, "value", None))
          }
        }
      // deriv/predict_linear/irate/idelta over a RECORDED series on the
      // dense grid — the Grafana capacity panel over a recording rule
      // as ONE plan (the union path caps at 64 instants; a 240-instant
      // panel needs this arm). Same lattice as the *_over_time arm; the
      // least-squares sums come from FIVE row-frame window aggregates
      // with the window-relative x recovered by shift algebra:
      // x_j = (j − b)·iv with b = i − k, so Σx / Σx² / Σxy derive from
      // the frame's Σj / Σj² / Σ(j·y) and the per-row b — all exact
      // (DECIMAL(38,0) moments over exact cents), so grid ≡ union stays
      // bit-identical, partial windows at a series' birth included.
      // Degenerate fits (single-sample windows) drop, the per-instant
      // rule; irate/idelta read the frame's last two lattice points
      // (a k == 1 window holds one sample → empty, the two-sample rule).
      case Func(f2, param, sel: Selector)
          if (RecordedCentsFns.contains(f2) ||
            RecordedPairFns.contains(f2) ||
            RecordedTsFns.contains(f2)) && sel.atS.isEmpty &&
            sel.rangeS.exists(_ > 0) &&
            recordedRules.value.contains(sel.name) =>
        val (ruleAst, ivS) = recordedRules.value(sel.name)
        val d = sel.rangeS.get
        if (d < ivS || d % ivS != 0)
          fail(s"range (${d}s) over recorded series '${sel.name}' must be a " +
            s"positive multiple of its evaluation interval (${ivS}s)")
        if (stepS % ivS != 0) None
        else recordedFastShape(ruleAst).flatMap { case (labels, s2, kind) =>
          val k = (d / ivS).toInt
          val m = (stepS / ivS).toInt
          val L = (g - 1) * m + k
          if (L > 4096) None // over budget: union path (its own gates)
          else {
            val shiftEff = shiftS + sel.offsetS.getOrElse(0L)
            val lattice = recordedGridPostHoc(
              recordedFastInstants(spark, dir, labels, s2, kind, shiftEff,
                L.toLong, ivS),
              labels, sel)
              .withColumn("_cents",
                round(col("value") * 100, 0).cast("long"))
            val sk = labels.map(col)
            val onGrid = ((lit(L) - col("_i")) % m) === 0 &&
              col("_i") >= lit(k.toLong)
            val remapped = (lit(g) - (lit(L) - col("_i")) / m).as("_i")
            // the k-row frame ending on the current lattice row = the
            // instant walk's in-window sample set (presence is
            // contiguous from each series' birth, partials included)
            val wf = Window.partitionBy(sk: _*).orderBy(col("_i"))
              .rowsBetween(-(k - 1).toLong, 0L)
            if (RecordedTsFns.contains(f2)) {
              // ts_of_*: recover the rule loop's write timestamp of the
              // frame's extremal row — exact integer micro arithmetic
              // off the lattice index, the per-instant case's formula,
              // then ONE double division. Ties break LATEST (two frame
              // aggregates: the extremum, then the max index attaining
              // it — upstream's >=/<= running replacement).
              val anchorUs = instantDf(spark, dir).head().getLong(0) -
                shiftEff * 1000000L
              val argI = f2 match {
                case "ts_of_last_over_time" => col("_i")
                case "ts_of_max_over_time" =>
                  max(when(col("value") === max(col("value")).over(wf),
                    col("_i"))).over(wf)
                case _ =>
                  max(when(col("value") === min(col("value")).over(wf),
                    col("_i"))).over(wf)
              }
              val v = (lit(anchorUs) - (lit(L.toLong) - argI) *
                lit(ivS * 1000000L)).cast("double") / 1e6
              val out = lattice.withColumn("_v", v)
                .filter(onGrid)
                .select(sk :+ remapped :+ col("_v").as("value"): _*)
              Some((out, labels, "value", None))
            } else if (f2 == "stddev_over_time" || f2 == "stdvar_over_time") {
              // frame moments in DECIMAL(38,0) — the identical (Σx, Σx²,
              // n) double walk as [[rangeWindowAgg]], so union ≡ grid
              // stays bit-identical
              val dec = DecimalType(38, 0)
              val s1 = sum(col("_cents").cast(dec)).over(wf)
              val s2m = sum(col("_cents").cast(dec) * col("_cents")).over(wf)
              val n = count(lit(1)).over(wf)
              val mean = s1.cast("double") / n.cast("double")
              val varCents = s2m.cast("double") / n.cast("double") - mean * mean
              val v = if (f2 == "stddev_over_time") sqrt(varCents) / 100.0
                else varCents / 10000.0
              val out = lattice.withColumn("_v", v)
                .filter(onGrid)
                .select(sk :+ remapped :+ col("_v").as("value"): _*)
              Some((out, labels, "value", None))
            } else if (f2 == "quantile_over_time" || f2 == "mad_over_time") {
              // rank walks per frame: the frame's cents as a SORTED
              // array (collect_list over the row frame, array_sort —
              // the same multiset the per-instant rank recipe orders),
              // then the identical (n−1)·φ interpolation doubles. mad
              // re-sorts the |cents − median| doubles. O(k log k) per
              // output row over the bounded window — no self-join.
              val phi =
                if (f2 == "mad_over_time") 0.5
                else param.getOrElse(
                  fail("quantile_over_time needs a quantile parameter"))
              val arr = array_sort(collect_list(col("_cents")).over(wf))
              val n = size(arr)
              val pos = (n - lit(1)).cast("double") * lit(phi)
              def at(a: Column, r: Column): Column =
                element_at(a, r.cast("int")).cast("double")
              val lo = at(arr, floor(pos).cast("long") + 1)
              val hi = at(arr, ceil(pos).cast("long") + 1)
              val med = lo + (hi - lo) * (pos - floor(pos))
              val v =
                if (f2 == "quantile_over_time") med / 100.0
                else {
                  val devs = array_sort(transform(arr,
                    c => abs(c.cast("double") - med)))
                  val p2 = (n - lit(1)).cast("double") * lit(0.5)
                  val lo2 = at(devs, floor(p2).cast("long") + 1)
                  val hi2 = at(devs, ceil(p2).cast("long") + 1)
                  (lo2 + (hi2 - lo2) * (p2 - floor(p2))) / 100.0
                }
              val out = lattice.withColumn("_v", v)
                .filter(onGrid)
                .select(sk :+ remapped :+ col("_v").as("value"): _*)
              Some((out, labels, "value", None))
            } else if (RecordedPairFns.contains(f2)) {
              // changes/resets over a k-point window: the indicator at
              // lattice row j covers pair (j−1, j) via a GLOBAL lag
              // (null at each series' birth row), and a frame of the
              // last k−1 rows covers exactly the pairs with both ends
              // in the window — partial windows at birth included
              // (earlier physical rows simply don't exist). k == 1
              // windows hold no pairs: every present series reads 0.
              val wl = Window.partitionBy(sk: _*).orderBy(col("_i"))
              val cond =
                if (f2 == "changes") col("value") =!= col("_prev")
                else col("value") < col("_prev")
              val flagged = lattice
                .withColumn("_prev", lag(col("value"), 1).over(wl))
                .withColumn("_chg",
                  when(col("_prev").isNotNull && cond, 1L).otherwise(0L))
              val v =
                if (k == 1) lit(0.0)
                else sum(col("_chg")).over(
                  Window.partitionBy(sk: _*).orderBy(col("_i"))
                    .rowsBetween(-(k - 2).toLong, 0L)).cast("double")
              val out = flagged.withColumn("_v", v)
                .filter(onGrid)
                .select(sk :+ remapped :+ col("_v").as("value"): _*)
              Some((out, labels, "value", None))
            } else if (f2 == "irate" || f2 == "idelta") {
              val wl = Window.partitionBy(sk: _*).orderBy(col("_i"))
              val v =
                if (f2 == "idelta")
                  (col("_cents") - col("_prev")).cast("double") / 100.0
                else when(col("_cents") >= col("_prev"),
                  col("_cents") - col("_prev")).otherwise(col("_cents"))
                  .cast("double") / 100.0 / lit(ivS.toDouble)
              val out = lattice
                .withColumn("_prev", lag(col("_cents"), 1).over(wl))
                .filter(onGrid && col("_prev").isNotNull && lit(k) >= 2)
                .select(sk :+ remapped :+ v.as("value"): _*)
              Some((out, labels, "value", None))
            } else { // deriv | predict_linear
              val dec = DecimalType(38, 0)
              val wf = Window.partitionBy(sk: _*).orderBy(col("_i"))
                .rowsBetween(-(k - 1).toLong, 0L)
              val e = lattice
                .withColumn("_n", count(lit(1)).over(wf))
                .withColumn("_sj", sum(col("_i").cast(dec)).over(wf))
                .withColumn("_sjj",
                  sum((col("_i") * col("_i")).cast(dec)).over(wf))
                .withColumn("_sy", sum(col("_cents").cast(dec)).over(wf))
                .withColumn("_sjy",
                  sum((col("_i") * col("_cents")).cast(dec)).over(wf))
              val b = (col("_i") - lit(k.toLong)).cast(dec)
              val iv = lit(ivS).cast(dec)
              val sx = (col("_sj") - b * col("_n")) * iv
              val sxx = (col("_sjj") - lit(2).cast(dec) * b * col("_sj") +
                b * b * col("_n")) * iv * iv
              val sxy = (col("_sjy") - b * col("_sy")) * iv
              val num = col("_n") * sxy - sx * col("_sy")
              val den = col("_n") * sxx - sx * sx
              val slope = num.cast("double") / den.cast("double")
              val v =
                if (f2 == "deriv") slope / 100.0
                else {
                  val horizon = param.getOrElse(
                    fail("predict_linear needs a horizon parameter in seconds"))
                  ((col("_sy").cast("double") - slope * sx.cast("double")) /
                    col("_n").cast("double") +
                    slope * lit(d.toDouble + horizon)) / 100.0
                }
              val out = e.filter(onGrid && den =!= lit(0).cast(dec))
                .select(sk :+ remapped :+ v.as("value"): _*)
              Some((out, labels, "value", None))
            }
          }
        }
      case Func(f2, None, sel: Selector)
          if (bucketDecomposable.contains(f2) ||
            f2 == "stddev_over_time" || f2 == "stdvar_over_time") &&
            !recordedRules.value.contains(sel.name) &&
            sel.rangeS.exists(w => w > 0 && w % stepS == 0) =>
        // the variance pair rides the same bucket-partial builder via
        // exact integer-cents (Σx, Σx², n) moments
        Some((gridOverTimeInstants(spark, dir, sel, shiftS, g, stepS, f2),
          SeriesKey, "value", None))
      case Func("histogram_quantile", Some(phi), inner) =>
        // classic explicit-boundary families take the literal-bounds
        // bucket grid; fully native-ingested families the sparse
        // exponential-bucket grid (the Prometheus 3.x sample-kind
        // dispatch, per instant); mixed membership keeps the union path
        def hq(sel: Selector): Boolean = kindOf(sel.name) == "histogram" && {
          val names = resolveNames(sel)
          names.forall(nativeFams.value.contains) ||
            !names.exists(nativeFams.value.contains)
        }
        val shaped: Option[(Selector, Option[Long], Seq[String])] = inner match {
          case sel: Selector if sel.rangeS.isEmpty && hq(sel) =>
            Some((sel, None, SeriesKey))
          case Func(f2, _, sel: Selector)
              if (f2 == "rate" || f2 == "increase") && hq(sel) &&
                sel.rangeS.exists(w => w > 0 && w % stepS == 0) =>
            Some((sel, sel.rangeS, SeriesKey))
          case Agg("sum", grp, None, Func(f2, _, sel: Selector))
              if (f2 == "rate" || f2 == "increase") && hq(sel) &&
                sel.rangeS.exists(w => w > 0 && w % stepS == 0) &&
                sumLabels(grp).isDefined =>
            Some((sel, sel.rangeS, sumLabels(grp).get))
          case Agg("sum", grp, None, sel: Selector)
              if sel.rangeS.isEmpty && hq(sel) && sumLabels(grp).isDefined =>
            Some((sel, None, sumLabels(grp).get))
          case _ => None
        }
        shaped.map { case (sel, wd, outLabels) =>
          val inst =
            if (resolveNames(sel).forall(nativeFams.value.contains))
              gridNativeHqInstants(spark, dir, phi, sel, outLabels,
                shiftS, g, stepS, wd)
            else gridHistogramQuantileInstants(spark, dir, phi, sel, outLabels,
              shiftS, g, stepS, wd)
          (inst, outLabels, "value", None)
        }
      // the long tail of range functions on the grid: ONE event pass,
      // each event EXPLODED to the ≤k instants whose trailing window
      // contains it (step bucket b covers instants b..b+k−1), then the
      // union path's OWN window-aggregate recipe ([[rangeWindowAgg]])
      // keyed with "_i" — identical expressions over identical
      // per-instant event multisets, so union ≡ grid is bit-exact. The
      // amplification is k = window/step, NOT the instant count: a
      // 240-step quantile panel stays one plan at O(events × k).
      case Func(fn2, param2, sel: Selector)
          if GridWindowFns.contains(fn2) &&
            !recordedRules.value.contains(sel.name) &&
            sel.rangeS.exists(w2 => w2 > 0 && w2 % stepS == 0) =>
        val w2 = sel.rangeS.get
        val names = resolveNames(sel)
        val kind = kindOfAll(names)
        val hi = selectorHi(sel)
        val exploded = explodeToInstants(
          events(spark, dir).filter(nameFilter(names) &&
            matcherFilter(sel.matchers) && unix_micros(col("ts")) <= hi),
          hi, w2)
        Some((rangeWindowAgg(fn2, param2, exploded, SeriesKey :+ "_i",
          instantLo(hi, w2), w2, kind, sel.name), SeriesKey, "value", None))
      // double_exponential_smoothing per instant: the Holt-Winters
      // fold over each instant's sorted window values — the union
      // arm's own collapse ([[smoothCollapse]]) keyed with "_i" over
      // the exploded pairs
      case SmoothFunc(sf2, tf2, sel: Selector)
          if sel.rangeS.exists(w2 => w2 > 0 && w2 % stepS == 0) =>
        if (sf2 <= 0 || sf2 >= 1) fail(s"smoothing factor must be in (0, 1), got $sf2")
        if (tf2 <= 0 || tf2 > 1) fail(s"trend factor must be in (0, 1], got $tf2")
        val w2 = sel.rangeS.get
        val names = resolveNames(sel)
        if (kindOfAll(names) != "gauge")
          fail(s"double_exponential_smoothing expects a gauge family, '${sel.name}' is a ${kindOfAll(names)}")
        val hi = selectorHi(sel)
        val exploded = explodeToInstants(
          events(spark, dir).filter(nameFilter(names) &&
            matcherFilter(sel.matchers) && unix_micros(col("ts")) <= hi),
          hi, w2)
        Some((smoothCollapse(sf2, tf2, exploded, SeriesKey :+ "_i"),
          SeriesKey, "value", None))
      // info() enrichment per instant: the derived info relation is
      // instant-independent (distinct instances over the whole
      // corpus), so the union arm's broadcast join commutes with the
      // grid — values and the deferred divisor ride through
      case Func("info", _, arg) =>
        gridVector(arg).map { case (df0, labels, vc, rdiv) =>
          if (!labels.contains("label_instance"))
            fail("info() needs the identifying label 'instance' on its argument " +
              s"(got labels ${labels.mkString(", ")}); aggregate AFTER info(), not before")
          if (labels.contains("label_version"))
            fail("info() would collide with an existing 'version' label")
          val inf = Metrics.metricEvents(spark, dir)
            .select(col("label_instance")).distinct()
            .withColumn("label_version",
              concat(lit("v"), expr("substr(label_instance, 2)")))
          val joined = df0.join(broadcast(inf), Seq("label_instance"), "left")
            .withColumn("label_version", coalesce(col("label_version"), lit("")))
          (joined, labels :+ "label_version", vc, rdiv)
        }
      // timestamp(sel) per instant: the last contributing event's
      // epoch seconds — per-(series, step-bucket) max-ts partials +
      // one RUNNING max over the series×grid (the gauge-LWW shape;
      // counters keep the snapshot's non-negative guard so the sample
      // set matches the union arm exactly)
      case Func("timestamp", _, sel: Selector) if sel.rangeS.isEmpty =>
        val kind = kindOf(sel.name)
        if (kind == "histogram")
          fail(s"histogram family '${sel.name}' has no scalar instant sample")
        val stepUs = stepS * 1000000L
        val hi = selectorHi(sel)
        val base0 = events(spark, dir)
          .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
            unix_micros(col("ts")) <= hi)
        val base = if (kind == "counter") base0.filter(col("value") >= 0) else base0
        val bucketed = base
          .withColumn("_age_us", hi - unix_micros(col("ts")))
          .withColumn("_b", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
        val partial = bucketed.groupBy((SeriesKey :+ "_b").map(col): _*)
          .agg(max(unix_micros(col("ts"))).as("_mt"), count(lit(1)).as("_n"))
        import spark.implicits._
        val grid = partial.select(SeriesKey.map(col): _*).distinct()
          .crossJoin(broadcast(spark.range(1L, g + 1L).toDF("_b")))
        val wrun = Window.partitionBy(SeriesKey.map(col): _*).orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Some((grid.join(partial, SeriesKey :+ "_b", "left")
          .withColumn("_cmt", max(col("_mt")).over(wrun))
          .withColumn("_cn", sum(col("_n")).over(wrun))
          .filter(col("_cn") > 0)
          .select(SeriesKey.map(col) :+ col("_b").as("_i") :+
            (col("_cmt").cast("double") / 1e6).as("value"): _*),
          SeriesKey, "value", None))
      // resets on the grid: the wrapped running sum and its lag depend
      // only on PRECEDING events, so they compute ONCE over the full
      // history ≤ the last bound — identical values at every instant —
      // then the explode applies each instant's window and the
      // per-instant `_prevUs > lo_i` pair condition (the union arm's
      // post-lag window filter)
      case Func("resets", None, sel: Selector)
          if sel.rangeS.exists(w2 => w2 > 0 && w2 % stepS == 0) =>
        val w2 = sel.rangeS.get
        val names = resolveNames(sel)
        val kind = kindOfAll(names)
        if (kind != "counter")
          fail(s"resets expects a counter family, '${sel.name}' is a $kind")
        val hi = selectorHi(sel)
        val hist = events(spark, dir)
          .filter(nameFilter(names) && matcherFilter(sel.matchers) &&
            col("value") >= 0 && unix_micros(col("ts")) <= hi)
        val wAsc = Window.partitionBy(SeriesKey.map(col): _*)
          .orderBy(col("ts"), col("event_id"))
        val wrapped = hist
          .withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          .withColumn("_wrapped", sum(col("_cents"))
            .over(wAsc.rowsBetween(Window.unboundedPreceding, 0)) % 10000L)
          .withColumn("_prev", lag(col("_wrapped"), 1).over(wAsc))
          .withColumn("_prevUs", lag(unix_micros(col("ts")), 1).over(wAsc))
        val exploded = explodeToInstants(wrapped, hi, w2)
        val loI = instantLo(hi, w2)
        Some((exploded.groupBy((SeriesKey :+ "_i").map(col): _*)
          .agg(sum(when(col("_prev").isNotNull && col("_prevUs") > loI &&
            col("_wrapped") < col("_prev"), 1L).otherwise(0L))
            .cast("double").as("value")), SeriesKey, "value", None))
      // absent / absent_over_time per instant — the alerting "no data"
      // panel: one event pass counts samples per step bucket, a
      // running (absent) or sliding (absent_over_time) sum gives each
      // instant's visible-sample count, and instants with count 0 emit
      // the equality-matcher-labeled 1.0 row
      case Func(fn2, _, sel: Selector)
          if (fn2 == "absent" && sel.rangeS.isEmpty) ||
            (fn2 == "absent_over_time" &&
              sel.rangeS.exists(w => w > 0 && w % stepS == 0)) =>
        kindOf(sel.name) // compose-time family check, as the union path
        val windowD = if (fn2 == "absent") None else sel.rangeS
        val stepUs = stepS * 1000000L
        val kk = windowD.map(w => (w / stepS).toInt).getOrElse(0)
        if (g + kk > 4096)
          fail(s"query_range grid spans ${g + kk} indexes (instants + window span); 4096 supported")
        val hi = selectorHi(sel)
        val base0 = events(spark, dir)
          .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
            unix_micros(col("ts")) <= hi)
          .withColumn("_age_us", hi - unix_micros(col("ts")))
        val base = windowD match {
          case Some(_) => base0
            .filter(col("_age_us") < lit((g - 1 + kk) * stepUs))
            .withColumn("_b", lit(g) - expr(s"_age_us div $stepUs"))
          case None => base0
            .withColumn("_b", greatest(lit(1L), lit(g) - expr(s"_age_us div $stepUs")))
        }
        val partial = base.groupBy(col("_b")).agg(count(lit(1)).as("_n"))
        val range = {
          import spark.implicits._
          (windowD match {
            case Some(_) => spark.range(2L - kk, g + 1L)
            case None => spark.range(1L, g + 1L)
          }).toDF("_b")
        }
        val swA = {
          val b0 = Window.orderBy(col("_b"))
          windowD match {
            case Some(_) => b0.rowsBetween(-(kk - 1), Window.currentRow)
            case None => b0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          }
        }
        val eqLabels = sel.matchers.filter(_.op == "=")
          .map(m => labelCol(m.label) -> m.value)
        val outCols = eqLabels.map { case (c, v) => lit(v).as(c) } ++
          Seq(col("_b").as("_i"), lit(1.0).as("value"))
        Some((range.join(partial, Seq("_b"), "left")
          .withColumn("_cum", coalesce(sum(col("_n")).over(swA), lit(0L)))
          .filter(col("_b") >= 1 && col("_cum") === 0)
          .select(outCols: _*), eqLabels.map(_._1), "value", None))
      // vector set ops per instant: semi / anti / left-priority-union
      // joins with the instant index appended to the match key
      case b: BinOp if Set("and", "unless", "or").contains(b.op) &&
          !(b.on.isDefined && b.ignoring.isDefined) &&
          !b.groupLeft && !b.groupRight =>
        def mat(df: DataFrame, vc: String, rdiv: Option[Double]): DataFrame = {
          val v = if (vc == "value") df else df.withColumnRenamed(vc, "value")
          rdiv.map(d => v.withColumn("value", col("value").cast("double") / lit(d)))
            .getOrElse(v)
        }
        for {
          (ldf0, ll, lvc, lrd) <- gridVector(b.left)
          (rdf0, rl, rvc, rrd) <- gridVector(b.right)
          joinLabels = b.on.map(_.map(labelCol)).getOrElse {
            val shared = ll.intersect(rl).filterNot(_ == "name")
            b.ignoring match {
              case Some(ig) =>
                val dropped = ig.map(labelCol).toSet
                shared.filterNot(dropped)
              case None => shared
            }
          }
          if joinLabels.nonEmpty && (b.op != "or" || ll == rl)
        } yield {
          val key = joinLabels :+ "_i"
          val lv = mat(ldf0, lvc, lrd)
          val rv = mat(rdf0, rvc, rrd)
          b.op match {
            case "and" =>
              (lv.join(rv.select(key.map(col): _*), key, "left_semi"), ll, "value", None)
            case "unless" =>
              (lv.join(rv.select(key.map(col): _*), key, "left_anti"), ll, "value", None)
            case "or" =>
              val cols = (ll :+ "_i").map(col) :+ col("value").cast("double").as("value")
              val leftOut = lv.select(cols: _*)
              val fromRight = rv.join(lv.select(key.map(col): _*), key, "left_anti")
                .select(cols: _*)
              (leftOut.unionAll(fromRight), ll, "value", None)
          }
        }
      // scalar functions over grid vectors: per-row value transforms
      // commute with the instant index, so [[scalarFunc]] applies
      // verbatim (rates are divided first inside it, matching the
      // union path's rounding order)
      case Func(fn, param, inner) if ScalarFnNames.contains(fn) =>
        gridVector(inner).map { case (df0, labels, vc, rdiv) =>
          val v = if (vc == "value") df0 else df0.withColumnRenamed(vc, "value")
          val out = scalarFunc(fn, param, Vec(v, labels, rdiv))
          (out.df, labels, "value", out.rateDiv)
        }
      // binary ops over grid vectors — the error-ratio / threshold
      // panels (`sum by (k)(rate(a[w])) / sum by (k)(rate(b[w]))`,
      // `... > 0.05`): [[binOp]]'s default-matching semantics with
      // "_i" appended to the match key. Set ops, group_left/right,
      // and scalar()/time() operands keep the union path.
      case b: BinOp
          if !Set("and", "unless", "or").contains(b.op) &&
            !(b.on.isDefined && b.ignoring.isDefined) =>
        val isCmp = Set(">", "<", ">=", "<=", "==", "!=").contains(b.op)
        val isArith = Set("+", "-", "*", "/", "%", "^", "atan2").contains(b.op)
        def arith(l: Column, r: Column): Column = b.op match {
          case "+" => l.cast("double") + r.cast("double")
          case "-" => l.cast("double") - r.cast("double")
          case "*" => l.cast("double") * r.cast("double")
          case "/" => l.cast("double") / r.cast("double")
          case "%" => l.cast("double") % r.cast("double")
          case "^" =>
            if (detMode.value)
              graft.plans.DetMathExprs.detPowC(l.cast("double"), r.cast("double"))
            else pow(l.cast("double"), r.cast("double"))
          case "atan2" =>
            if (detMode.value)
              graft.plans.DetMathExprs.detAtan2C(l.cast("double"), r.cast("double"))
            else atan2(l.cast("double"), r.cast("double"))
        }
        def cmp(l: Column, r: Column): Column = b.op match {
          case ">" => l > r
          case "<" => l < r
          case ">=" => l >= r
          case "<=" => l <= r
          case "==" => l === r
          case "!=" => l =!= r
        }
        // [[materialize]]'s deferred division, applied per side BEFORE
        // the op so double rounding order matches the union path
        def mat(df: DataFrame, vc: String, rdiv: Option[Double]): DataFrame = {
          val v = if (vc == "value") df else df.withColumnRenamed(vc, "value")
          rdiv.map(d => v.withColumn("value", col("value").cast("double") / lit(d)))
            .getOrElse(v)
        }
        def matG(df: DataFrame, vc: String, rdiv: Option[Double]): DataFrame =
          mat(df, vc, rdiv)
        // scalar(v) operand per instant: the inner grid vector
        // collapsed to a per-instant 1-row relation — value when
        // exactly one series exists at that instant, else NaN (the
        // union path's semantics; instants where the inner is EMPTY
        // surface as NaN via the left join in withScalarGrid, matching
        // the union path's empty-agg row). time() stays union-only.
        def scalarGridOperand(ast: Ast): Option[DataFrame] = ast match {
          case Func("scalar", _, inner) =>
            gridVector(inner).map { case (df0, _, vc2, rd2) =>
              matG(df0, vc2, rd2).groupBy(col("_i")).agg(
                when(count(lit(1)) === 1, max(col("value").cast("double")))
                  .otherwise(lit(Double.NaN)).as("_sc"))
            }
          case Func("time", _, _) =>
            // per-instant evaluation timestamp: instant _i's epoch plus
            // the corpus instant's sub-second fraction — exactly the
            // union path's T − (T − t_i).toLong per slice
            import spark.implicits._
            Some(spark.range(1L, g + 1L).toDF("_i").select(col("_i"),
              ((lit(last) - (lit(g) - col("_i")) * lit(stepS)).cast("double") +
                lit(t - math.floor(t))).as("_sc")))
          case _ => None
        }
        def withScalarGrid(vec: (DataFrame, Seq[String], String, Option[Double]),
            sc: DataFrame, scalarLeft: Boolean)
            : (DataFrame, Seq[String], String, Option[Double]) = {
          val (df0, labels, vc2, rd2) = vec
          val joined = matG(df0, vc2, rd2)
            .join(broadcast(sc), Seq("_i"), "left")
            .withColumn("_sc", coalesce(col("_sc"), lit(Double.NaN)))
          val (lc, rc) =
            if (scalarLeft) (col("_sc"), col("value").cast("double"))
            else (col("value").cast("double"), col("_sc"))
          val out =
            if (!isCmp) joined.withColumn("value", arith(lc, rc))
            else if (b.boolMod)
              joined.withColumn("value", when(cmp(lc, rc), 1.0).otherwise(0.0))
            else joined.filter(cmp(lc, rc))
          (out.drop("_sc"), labels, "value", None)
        }
        lazy val lSc = scalarGridOperand(b.left)
        lazy val rSc = scalarGridOperand(b.right)
        if (b.boolMod && !isCmp) None
        else if (!isCmp && !isArith) None
        else if ((b.groupLeft || b.groupRight) &&
          (b.on.isEmpty && b.ignoring.isEmpty)) None // union path raises
        else if ((b.groupLeft || b.groupRight) &&
          (b.left.isInstanceOf[NumLit] || b.right.isInstanceOf[NumLit] ||
            lSc.isDefined || rSc.isDefined)) None // union path raises
        else if (lSc.isDefined && rSc.isDefined) None // union path raises
        else if (rSc.isDefined)
          gridVector(b.left).map(withScalarGrid(_, rSc.get, scalarLeft = false))
        else if (lSc.isDefined)
          gridVector(b.right).map(withScalarGrid(_, lSc.get, scalarLeft = true))
        else (b.left, b.right) match {
          case (NumLit(_), NumLit(_)) => None // union path raises
          case (l, NumLit(s)) => gridVector(l).map { case (df0, labels, vc, rdiv) =>
            val v = mat(df0, vc, rdiv)
            val out =
              if (!isCmp) v.withColumn("value", arith(col("value"), lit(s)))
              else if (b.boolMod) v.withColumn("value",
                when(cmp(col("value").cast("double"), lit(s)), 1.0).otherwise(0.0))
              else v.filter(cmp(col("value").cast("double"), lit(s)))
            (out, labels, "value", None)
          }
          case (NumLit(s), r) => gridVector(r).map { case (df0, labels, vc, rdiv) =>
            val v = mat(df0, vc, rdiv)
            val out =
              if (!isCmp) v.withColumn("value", arith(lit(s), col("value")))
              else if (b.boolMod) v.withColumn("value",
                when(cmp(lit(s), col("value").cast("double")), 1.0).otherwise(0.0))
              else v.filter(cmp(lit(s), col("value").cast("double")))
            (out, labels, "value", None)
          }
          case (l, r) =>
            for {
              (ldf0, ll, lvc, lrd) <- gridVector(l)
              (rdf0, rl, rvc, rrd) <- gridVector(r)
              joinLabels = b.on.map(_.map(labelCol)).getOrElse {
                val shared = ll.intersect(rl).filterNot(_ == "name")
                b.ignoring match {
                  case Some(ig) =>
                    val dropped = ig.map(labelCol).toSet
                    shared.filterNot(dropped)
                  case None => shared
                }
              }
              if joinLabels.nonEmpty &&
                joinLabels.forall(jl => ll.contains(jl) && rl.contains(jl))
              // group_left(lbls)/group_right(lbls) carried labels: must
              // exist on the one side, not collide with the many side
              carry = b.groupCarry.map(labelCol)
              if carry.isEmpty || b.groupLeft || b.groupRight
              if carry.forall { c =>
                val (one, many) = if (b.groupLeft) (rl, ll) else (ll, rl)
                one.contains(c) && !many.contains(c)
              }
            } yield {
              val key = joinLabels :+ "_i"
              // the union path's cardinality guard, per instant: the
              // "one" side of group_left/group_right — and BOTH sides
              // of a modifier-less match — must be unique per group
              def dupGuard(df: DataFrame, vcol: String, side: String): DataFrame = {
                val w = Window.partitionBy(key.map(col): _*)
                val msg = concat(
                  lit("found duplicate series for the match group ("),
                  concat_ws(", ", joinLabels.map(jl =>
                    concat(lit(jl + "=\""), col(jl), lit("\""))): _*),
                  lit(s") on the $side-hand side of the operation"))
                df.withColumn(vcol,
                  when(count(lit(1)).over(w) > 1,
                    raise_error(msg).cast(df.schema(vcol).dataType))
                    .otherwise(col(vcol)))
              }
              val filterCmp = isCmp && !b.boolMod && !b.groupLeft && !b.groupRight
              val (keepLabels, manyValue) =
                if (b.groupLeft) (ll ++ carry, col("_lv"))
                else if (b.groupRight) (rl ++ carry, col("_rv"))
                else if (filterCmp) (ll, col("_lv"))
                else (joinLabels, col("_lv"))
              val lt0 = mat(ldf0, lvc, lrd).select(
                ((if (b.groupLeft || filterCmp) ll
                  else if (b.groupRight) joinLabels ++ carry
                  else joinLabels) :+ "_i").map(col) :+ col("value").as("_lv"): _*)
              val rt0 = mat(rdf0, rvc, rrd).select(
                ((if (b.groupRight) rl
                  else if (b.groupLeft) joinLabels ++ carry
                  else joinLabels) :+ "_i").map(col) :+ col("value").as("_rv"): _*)
              val lt = if (b.groupLeft) lt0 else dupGuard(lt0, "_lv", "left")
              val rt = if (b.groupRight) rt0 else dupGuard(rt0, "_rv", "right")
              val joined = lt.join(rt, key)
              val out =
                if (!isCmp) joined.select((keepLabels :+ "_i").map(col) :+
                  arith(col("_lv"), col("_rv")).as("value"): _*)
                else if (b.boolMod) joined.select((keepLabels :+ "_i").map(col) :+
                  when(cmp(col("_lv").cast("double"), col("_rv").cast("double")), 1.0)
                    .otherwise(0.0).as("value"): _*)
                else joined
                  .filter(cmp(col("_lv").cast("double"), col("_rv").cast("double")))
                  .select((keepLabels :+ "_i").map(col) :+ manyValue.as("value"): _*)
              (out, keepLabels, "value", None)
            }
        }
      // generic per-instant aggregation over any grid-able inner — the
      // vectorAgg semantics with "_i" appended to every partition key
      case Agg(op, grouping, param, inner)
          if Set("sum", "min", "max", "count", "avg", "quantile",
            "stddev", "stdvar", "group", "topk", "bottomk",
            "limitk", "limit_ratio").contains(op) =>
        gridVector(inner).flatMap { case (df0, labels, valueCol, rdiv) =>
          val v = if (valueCol == "value") df0
            else df0.withColumnRenamed(valueCol, "value")
          groupColsOf(grouping, labels).flatMap { groupCols =>
            if (!groupCols.forall(labels.contains)) None // union path raises
            else {
              val byInst = (groupCols :+ "_i").map(col)
              op match {
                case "sum" => Some((v.groupBy(byInst: _*)
                  .agg(vectorSum(v).as("value")), groupCols, "value", rdiv))
                case "min" => Some((v.groupBy(byInst: _*)
                  .agg(min(col("value")).as("value")), groupCols, "value", rdiv))
                case "max" => Some((v.groupBy(byInst: _*)
                  .agg(max(col("value")).as("value")), groupCols, "value", rdiv))
                case "count" => Some((v.groupBy(byInst: _*)
                  .agg(count(lit(1)).cast("double").as("value")),
                  groupCols, "value", None)) // series counts are not rate-scaled
                case "avg" => Some((v.groupBy(byInst: _*)
                  .agg((vectorSum(v).cast("double") / count(lit(1)).cast("double"))
                    .as("value")), groupCols, "value", rdiv))
                case "quantile" => param.map { phi =>
                  // percentile is order-preserving and linear under the
                  // positive deferred divisor, so rdiv rides through —
                  // the vectorAgg expression with "_i" in the keys
                  (v.groupBy(byInst: _*)
                    .agg(expr(s"percentile(cast(value as double), $phi)")
                      .as("value")), groupCols, "value", rdiv)
                }
                case "stddev" | "stdvar" =>
                  // vectorAgg's exact-cents moments, divided rates first
                  val m = (rdiv match {
                    case Some(d) => v.withColumn("value",
                      col("value").cast("double") / lit(d))
                    case None => v
                  }).withColumn("_cents", round(col("value") * 100, 0).cast("long"))
                    .groupBy(byInst: _*)
                    .agg(sum(col("_cents")).as("_s1"),
                      sum(col("_cents") * col("_cents")).as("_s2"),
                      count(lit(1)).as("_n"))
                  val mean = col("_s1").cast("double") / col("_n").cast("double")
                  val varCents = col("_s2").cast("double") / col("_n").cast("double") - mean * mean
                  val sOut = if (op == "stddev") sqrt(varCents) / 100.0 else varCents / 10000.0
                  Some((m.select((groupCols :+ "_i").map(col) :+ sOut.as("value"): _*),
                    groupCols, "value", None))
                case "group" =>
                  Some((v.groupBy(byInst: _*).agg(max(lit(1.0)).as("value")),
                    groupCols, "value", None))
                case "topk" | "bottomk" => param match {
                  case Some(n) if n == n.floor && n >= 1 =>
                    // ordering by the un-divided decimal increase ≡
                    // ordering by rate (positive divisor) — rdiv rides
                    val ord =
                      if (op == "topk") col("value").desc +: labels.map(col)
                      else col("value").asc +: labels.map(col)
                    val w = Window.partitionBy(byInst: _*).orderBy(ord: _*)
                    Some((v.withColumn("_rk", row_number().over(w))
                      .filter(col("_rk") <= n.toInt).drop("_rk"),
                      labels, "value", rdiv))
                  case _ => None
                }
                case "limitk" => param match {
                  case Some(n) if n == n.floor && n >= 1 =>
                    // the deterministic md5 label-identity pick, ranked
                    // among the series PRESENT at each instant
                    val sig = md5(concat_ws("|", labels.map(col): _*))
                    val ord = sig.asc +: labels.map(col)
                    val w = Window.partitionBy(byInst: _*).orderBy(ord: _*)
                    Some((v.withColumn("_rk", row_number().over(w))
                      .filter(col("_rk") <= n.toInt).drop("_rk"),
                      labels, "value", rdiv))
                  case _ => None
                }
                case "limit_ratio" => param match {
                  case Some(r) if r >= -1.0 && r <= 1.0 =>
                    // per-SERIES hash decision — independent of the
                    // instant, so it commutes with the grid
                    if (r == 1.0 || r == -1.0) Some((v, labels, "value", rdiv))
                    else {
                      val u = substring(md5(concat_ws("|", labels.map(col): _*)), 1, 8)
                      val keep = if (r >= 0) {
                        val thr = f"${math.floor(r * 4294967296.0).toLong}%08x"
                        u < lit(thr)
                      } else {
                        val thr = f"${math.floor((1.0 + r) * 4294967296.0).toLong}%08x"
                        u >= lit(thr)
                      }
                      Some((v.filter(keep), labels, "value", rdiv))
                    }
                  case _ => None
                }
              }
            }
          }
        }
      // a NAME-RETAINING recording rule's post-inline wrapper: the
      // record-name rewrite is a pure label-column rewrite, so it
      // commutes with the instant index like label_replace below —
      // dense-grid panels serve these rules at full scale
      case LabelFunc(RecordNameFn, Seq(rec), arg) =>
        gridVector(arg).map { case (df0, labels, vc, rdiv) =>
          if (labels.contains("name"))
            (df0.withColumn("name", lit(rec)), labels, vc, rdiv)
          else (df0, labels, vc, rdiv)
        }
      // label_replace / label_join per instant: pure label-column
      // rewrites commute with the instant index, so the union arm's
      // transform applies verbatim over the grid tuple (values — and
      // the deferred rate divisor — ride through untouched)
      case LabelFunc("label_replace", args, arg) =>
        if (args.length != 4)
          fail("""label_replace takes (v, "dst", "replacement", "src", "regex")""")
        val Seq(dst, repl, src, regex) = args
        gridVector(arg).map { case (df0, labels, vc, rdiv) =>
          val srcCol = labelCol(src)
          if (!labels.contains(srcCol))
            fail(s"label_replace source label '$src' is not in the vector (${labels.mkString(", ")})")
          val dstCol = LabelUniverse.getOrElse(dst, "label_" + dst)
          val anchored = s"^(?:$regex)$$"
          val prev: Column =
            if (labels.contains(dstCol)) col(dstCol) else lit("")
          val rewritten = when(col(srcCol).rlike(anchored),
            regexp_replace(col(srcCol), anchored, repl)).otherwise(prev)
          val outLabels = if (labels.contains(dstCol)) labels else labels :+ dstCol
          (df0.withColumn(dstCol, rewritten), outLabels, vc, rdiv)
        }
      case LabelFunc("label_join", args, arg) =>
        if (args.length < 2)
          fail("""label_join takes (v, "dst", "sep", "src1", ...)""")
        val dst = args.head
        val sep = args(1)
        val srcs = args.drop(2).map(labelCol)
        gridVector(arg).map { case (df0, labels, vc, rdiv) =>
          srcs.foreach(s => if (!labels.contains(s))
            fail(s"label_join source label is not in the vector (${labels.mkString(", ")})"))
          val dstCol = LabelUniverse.getOrElse(dst, "label_" + dst)
          val joined = concat_ws(sep, srcs.map(col): _*)
          val outLabels = if (labels.contains(dstCol)) labels else labels :+ dstCol
          (df0.withColumn(dstCol, joined), outLabels, vc, rdiv)
        }
      // sort / sort_desc / sort_by_label(_desc): element-preserving —
      // matrix results are label-ordered regardless (the union path's
      // compileAt drops the tag too), so the grid passes through after
      // the union arm's compose-time label checks
      case Func(fn2, _, arg) if fn2 == "sort" || fn2 == "sort_desc" =>
        gridVector(arg)
      case LabelFunc(fn2, args, arg)
          if fn2 == "sort_by_label" || fn2 == "sort_by_label_desc" =>
        if (args.isEmpty) fail(s"""$fn2 takes (v, "lbl", ...)""")
        gridVector(arg).map { case tup @ (_, labels, _, _) =>
          args.map(labelCol).zip(args).foreach { case (c, a) =>
            if (!labels.contains(c))
              fail(s"$fn2 label '$a' is not in the vector (${labels.mkString(", ")})")
          }
          tup
        }
      // vector(s): the 1-element label-free vector at every instant
      case Func("vector", Some(s), _) =>
        import spark.implicits._
        Some((spark.range(1L, g + 1L).toDF("_i")
          .select(col("_i"), lit(s).cast("double").as("value")), Nil, "value", None))
      // *_over_time over a SUBQUERY on the grid: the inner evaluates
      // ONCE on the step-s lattice spanning every outer window — a
      // RECURSIVE [[rangeGridVector]] call with the lattice bounds —
      // and each outer instant's window is its k trailing lattice
      // indexes: one sliding rowsBetween window over the densified
      // series×lattice, instead of per-outer-instant subquery re-
      // evaluation. Nested subqueries recurse naturally (each level
      // grids its own lattice). Union parity: the division ordering
      // mirrors [[subqueryOverTime]] exactly — ÷w defers through the
      // collapse for the inner shapes whose union grid strategies
      // defer it, and materializes per lattice instant first for
      // every other inner (the union fallback materializes each
      // instant before its vectorSum collapse).
      case Func(fn2, None, sq: Subquery) if bucketDecomposable.contains(fn2) =>
        if (sq.stepS <= 0) fail("subquery step must be positive")
        if (sq.rangeS % sq.stepS != 0)
          fail(s"subquery range (${sq.rangeS}s) must be a multiple of its step (${sq.stepS}s)")
        val sS = sq.stepS
        val kk = (sq.rangeS / sS).toInt
        val latStart = startS - sq.rangeS + sS
        val m = (last - latStart) / sS + 1
        if (stepS % sS != 0 || m > 4096) None // off-lattice / oversize: union path
        else rangeGridVector(spark, dir, sq.inner, latStart, last, sS).map {
          case (df0, labels, vc, rdiv) =>
            val rr = (stepS / sS).toInt
            val v0 = if (vc == "value") df0 else df0.withColumnRenamed(vc, "value")
            // does the union's subqueryOverTime defer ÷w for this inner?
            // (its four grid-strategy patterns, verbatim)
            val strategyInner = sq.inner match {
              case sel: Selector if sel.rangeS.isEmpty && sel.atS.isEmpty &&
                (MetricEvent.CounterNames.contains(sel.name) ||
                  MetricEvent.GaugeNames.contains(sel.name)) => true
              case Agg("sum", Some(("by", _)), None, sel: Selector)
                  if sel.rangeS.isEmpty && sel.atS.isEmpty &&
                    (MetricEvent.CounterNames.contains(sel.name) ||
                      MetricEvent.GaugeNames.contains(sel.name)) => true
              case Func(f3, _, sel: Selector)
                  if (f3 == "rate" || f3 == "increase") && sel.atS.isEmpty &&
                    sel.rangeS.exists(_ % sS == 0) &&
                    MetricEvent.CounterNames.contains(sel.name) => true
              case Agg("sum", Some(("by", _)), None, Func(f3, _, sel: Selector))
                  if (f3 == "rate" || f3 == "increase") && sel.atS.isEmpty &&
                    sel.rangeS.exists(_ % sS == 0) &&
                    MetricEvent.CounterNames.contains(sel.name) => true
              case Func(f3, None, sel: Selector)
                  if bucketDecomposable.contains(f3) && sel.atS.isEmpty &&
                    sel.rangeS.exists(w2 => w2 > 0 && w2 % sS == 0) => true
              case _ => false
            }
            val defer = rdiv.isDefined && strategyInner
            val vmat =
              if (rdiv.isDefined && !defer)
                v0.withColumn("value", col("value").cast("double") / lit(rdiv.get))
              else v0
            import spark.implicits._
            val latIdx = spark.range(1L, m + 1L).toDF("_i")
            val dense =
              (if (labels.isEmpty) latIdx
               else vmat.select(labels.map(col): _*).distinct()
                 .crossJoin(broadcast(latIdx)))
                .join(vmat, labels :+ "_i", "left")
            val wsl = Window.partitionBy(labels.map(col): _*).orderBy(col("_i"))
              .rowsBetween(-(kk - 1), Window.currentRow)
            val isDec = dense.schema("value").dataType.isInstanceOf[DecimalType]
            // the [[vectorSum]] convention, windowed: decimal sums stay
            // exact; double values sum through DECIMAL(38,12)
            val slidSum =
              if (isDec) sum(col("value")).over(wsl)
              else sum(col("value").cast(DecimalType(38, 12))).over(wsl)
            val slidN = count(col("value")).over(wsl)
            val slid = fn2 match {
              case "sum_over_time" => slidSum
              case "avg_over_time" => slidSum.cast("double") / slidN.cast("double")
              case "min_over_time" => min(col("value")).over(wsl)
              case "max_over_time" => max(col("value")).over(wsl)
              case "count_over_time" => slidN.cast("double")
            }
            // the ÷w commutes with sum/avg/min/max, not count — exactly
            // [[subqueryGridRate]]'s rule
            val outDiv = if (defer && fn2 != "count_over_time") rdiv else None
            (dense
              .withColumn("_sv", slid)
              .withColumn("_sn", slidN)
              .filter(col("_i") >= kk && expr(s"(_i - $kk) % $rr") === 0 &&
                col("_sn") > 0)
              .select(labels.map(col) :+
                (expr(s"(_i - $kk) div $rr") + lit(1L)).as("_i") :+
                col("_sv").as("value"): _*),
              labels, "value", outDiv)
        }
      // count_values per instant: materialize the deferred divisor,
      // then the union arm's exact-integer-cents grouping with "_i"
      // in the key and the fixed 2-decimal label render
      case CountValues(dst, arg) =>
        if (LabelUniverse.contains(dst))
          fail(s"count_values destination label '$dst' collides with a series label")
        gridVector(arg).map { case (df0, _, vc, rdiv) =>
          val v0 = if (vc == "value") df0 else df0.withColumnRenamed(vc, "value")
          val v = rdiv.map(d => v0.withColumn("value",
            col("value").cast("double") / lit(d))).getOrElse(v0)
          val lbl = "label_" + dst
          val c = v.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
          (c.groupBy(col("_cents"), col("_i"))
            .agg(count(lit(1)).cast("double").as("value"))
            .select(format_string("%.2f", col("_cents").cast("double") / 100.0).as(lbl),
              col("_i"), col("value")), Seq(lbl), "value", None)
        }
      case _ => None
    }
    gridVector(ast)
  }

  /** The long tail of range functions the query_range grid evaluates
    * by EXPLODING each event to the instants whose window contains it
    * and reusing [[rangeWindowAgg]] with "_i" in the key (rate/
    * increase and the bucket-decomposable `*_over_time`s have cheaper
    * dedicated partial/window strategies; resets needs the FULL-history
    * wrapped running sum and takes its own grid arm).
    */
  private val GridWindowFns: Set[String] = Set(
    "delta", "last_over_time", "present_over_time",
    "quantile_over_time", "mad_over_time",
    "stddev_over_time", "stdvar_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time",
    "irate", "idelta", "changes", "deriv", "predict_linear")

  /** Functions evaluated over a RANGE selector's sample window. */
  private val RangeSelFns: Set[String] = OverTimeFns ++ Set(
    "rate", "increase", "delta", "irate", "idelta", "changes",
    "deriv", "predict_linear", "resets",
    "quantile_over_time", "last_over_time", "present_over_time",
    "mad_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")

  private def compileVec(spark: SparkSession, dir: String, ast: Ast,
      shiftS: Long = 0L): Vec = ast match {
    case sel: Selector => instantVector(spark, dir, sel, shiftS)
    case Func(fn, param, sel: Selector) if RangeSelFns.contains(fn) &&
        recordedRules.value.contains(sel.name) =>
      val (ruleAst, ivS) = recordedRules.value(sel.name)
      recordedRangeFunc(spark, dir, fn, param, sel, ruleAst, ivS, shiftS)
    case Func(fn, param, sel: Selector) if RangeSelFns.contains(fn) =>
      rangeFunc(spark, dir, fn, param, sel, shiftS)
    case SmoothFunc(sf, tf, sel: Selector) =>
      smoothFunc(spark, dir, sf, tf, sel, shiftS)
    case SmoothFunc(_, _, other) =>
      fail(s"double_exponential_smoothing expects a range selector, got $other")
    case Func(fn, _, sq: Subquery) if OverTimeFns.contains(fn) =>
      subqueryOverTime(spark, dir, fn, sq, shiftS)
    case Func("histogram_quantile", Some(phi), arg) =>
      arg match {
        case sel: Selector =>
          if (sel.rangeS.isDefined)
            fail("histogram_quantile over a raw range selector — wrap it in rate/increase, " +
              s"e.g. histogram_quantile($phi, rate(${sel.name}[5m]))")
          histogramQuantile(spark, dir, phi, sel, None, shiftS)
        case Func(fn, _, sel: Selector) if fn == "rate" || fn == "increase" =>
          val d = sel.rangeS.getOrElse(
            fail(s"$fn inside histogram_quantile needs a range, e.g. $fn(${sel.name}[5m])"))
          histogramQuantile(spark, dir, phi, sel, Some(d), shiftS)
        case Agg("sum", grouping, None, inner) =>
          // the canonical aggregated-histogram idiom:
          // histogram_quantile(φ, sum by (...) (rate(bucket[d]))) —
          // summing bucket series is a coarser grouping of the same
          // observation counts, so it fuses into the bucket aggregate
          val ls = grouping match {
            case Some(("by", g)) => g.map(labelCol)
            case Some(("without", g)) =>
              val dropped = g.map(labelCol).toSet
              SeriesKey.filterNot(l => l == "name" || dropped.contains(l))
            case None => Nil
            case Some((kw, _)) => fail(s"unknown grouping '$kw'")
          }
          inner match {
            case sel: Selector if sel.rangeS.isEmpty =>
              histogramQuantile(spark, dir, phi, sel, None, shiftS, ls)
            case Func(fn, _, sel: Selector) if fn == "rate" || fn == "increase" =>
              val d = sel.rangeS.getOrElse(
                fail(s"$fn inside histogram_quantile needs a range, e.g. $fn(${sel.name}[5m])"))
              histogramQuantile(spark, dir, phi, sel, Some(d), shiftS, ls)
            case other =>
              fail(s"histogram_quantile over an aggregation expects a histogram selector or rate/increase of one, got $other")
          }
        case other =>
          fail(s"histogram_quantile expects a histogram selector or rate/increase of one, got $other")
      }
    case Func(fn, None, arg)
        if fn == "histogram_count" || fn == "histogram_sum" ||
          fn == "histogram_avg" || fn == "histogram_stddev" ||
          fn == "histogram_stdvar" =>
      arg match {
        case sel: Selector =>
          if (sel.rangeS.isDefined)
            fail(s"$fn over a raw range selector — wrap it in rate/increase, " +
              s"e.g. $fn(rate(${sel.name}[5m]))")
          histogramAgg(spark, dir, fn, sel, None, None, shiftS)
        case Func(rf, _, sel: Selector) if rf == "rate" || rf == "increase" =>
          val d = sel.rangeS.getOrElse(
            fail(s"$rf inside $fn needs a range, e.g. $rf(${sel.name}[5m])"))
          histogramAgg(spark, dir, fn, sel, Some(d),
            if (rf == "rate") Some(d) else None, shiftS)
        case other =>
          fail(s"$fn expects a histogram selector or rate/increase of one, got $other")
      }
    case HistFraction(lo, hi, arg) =>
      arg match {
        case sel: Selector =>
          if (sel.rangeS.isDefined)
            fail("histogram_fraction over a raw range selector — wrap it in rate/increase")
          histogramFraction(spark, dir, lo, hi, sel, None, shiftS)
        case Func(rf, _, sel: Selector) if rf == "rate" || rf == "increase" =>
          val d = sel.rangeS.getOrElse(
            fail(s"$rf inside histogram_fraction needs a range, e.g. $rf(${sel.name}[5m])"))
          histogramFraction(spark, dir, lo, hi, sel, Some(d), shiftS)
        case other =>
          fail(s"histogram_fraction expects a histogram selector or rate/increase of one, got $other")
      }
    case Func("info", _, arg) =>
      // info(v) (Prometheus 3.x): enrich every series of v with the
      // data labels of the target_info series sharing its identifying
      // `instance` label. The fixture stores no info family, so the
      // adapter DERIVES one deterministic series per instance —
      // `version` = 'v' + the instance digits, the analog of an OTel
      // resource attribute; a stored family would swap in here
      // unchanged. The enrichment is the b8b/p13 group_left machinery
      // specialized to a many-to-one broadcast join on the identifying
      // label (one info row per instance — always broadcast), so it
      // adds zero shuffles to v's plan at any scale.
      val v = materialize(compileVec(spark, dir, arg, shiftS))
      if (!v.labels.contains("label_instance"))
        fail("info() needs the identifying label 'instance' on its argument " +
          s"(got labels ${v.labels.mkString(", ")}); aggregate AFTER info(), not before")
      if (v.labels.contains("label_version"))
        fail("info() would collide with an existing 'version' label")
      val inf = Metrics.metricEvents(spark, dir)
        .select(col("label_instance")).distinct()
        .withColumn("label_version",
          concat(lit("v"), expr("substr(label_instance, 2)")))
      val joined = v.df.join(broadcast(inf), Seq("label_instance"), "left")
        .withColumn("label_version", coalesce(col("label_version"), lit("")))
      Vec(joined, v.labels :+ "label_version")
    case Func("absent", _, arg) =>
      arg match {
        case sel: Selector =>
          if (sel.rangeS.isDefined)
            fail("absent takes an instant selector (absent_over_time covers ranges)")
          kindOf(sel.name) // compose-time family check
          val bound = selectorBound(sel, shiftS)
          val n = events(spark, dir)
            .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
              unix_micros(col("ts")) <= bound)
            .agg(count(lit(1)).as("_n"))
          // PromQL: the absent vector carries the equality-matcher labels
          val eqLabels = sel.matchers.filter(_.op == "=")
            .map(m => labelCol(m.label) -> m.value)
          val outCols = eqLabels.map { case (c, v) => lit(v).as(c) } :+
            lit(1.0).as("value")
          Vec(n.filter(col("_n") === 0).select(outCols: _*), eqLabels.map(_._1))
        case other => fail(s"absent expects a selector, got $other")
      }
    case Func("absent_over_time", _, arg) =>
      arg match {
        case sel: Selector =>
          val d = sel.rangeS.getOrElse(
            fail("absent_over_time needs a range selector, e.g. absent_over_time(m[5m])"))
          kindOf(sel.name) // compose-time family check
          val hi = selectorBound(sel, shiftS)
          val lo = hi - lit(d * 1000000L)
          val n = events(spark, dir)
            .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
              unix_micros(col("ts")) > lo && unix_micros(col("ts")) <= hi)
            .agg(count(lit(1)).as("_n"))
          val eqLabels = sel.matchers.filter(_.op == "=")
            .map(m => labelCol(m.label) -> m.value)
          val outCols = eqLabels.map { case (c, v) => lit(v).as(c) } :+
            lit(1.0).as("value")
          Vec(n.filter(col("_n") === 0).select(outCols: _*), eqLabels.map(_._1))
        case other => fail(s"absent_over_time expects a range selector, got $other")
      }
    case Func(fn, param, arg) if ScalarFnNames.contains(fn) =>
      scalarFunc(fn, param, compileVec(spark, dir, arg, shiftS))
    case LabelFunc(RecordNameFn, Seq(rec), arg) =>
      // the post-inline face of a NAME-RETAINING recording rule
      // ([[inlineRecorded]]): the rule loop writes samples named by the
      // RECORD, so the inner vector's name column (when present) takes
      // the record's name — exactly [[recordedVector]]'s rename
      val v = compileVec(spark, dir, arg, shiftS)
      if (v.labels.contains("name"))
        v.copy(df = v.df.withColumn("name", lit(rec)))
      else v
    case LabelFunc("label_replace", args, arg) =>
      if (args.length != 4)
        fail("""label_replace takes (v, "dst", "replacement", "src", "regex")""")
      val Seq(dst, repl, src, regex) = args
      val v = materialize(compileVec(spark, dir, arg, shiftS))
      val srcCol = labelCol(src)
      if (!v.labels.contains(srcCol))
        fail(s"label_replace source label '$src' is not in the vector (${v.labels.mkString(", ")})")
      val dstCol = LabelUniverse.getOrElse(dst, "label_" + dst)
      // PromQL: the FULLY-ANCHORED regex must match the src value for
      // the series to get dst rewritten ($1.. expand); otherwise the
      // series passes through unchanged (absent label = "")
      val anchored = s"^(?:$regex)$$"
      val prev: Column =
        if (v.labels.contains(dstCol)) col(dstCol) else lit("")
      val rewritten = when(col(srcCol).rlike(anchored),
        regexp_replace(col(srcCol), anchored, repl)).otherwise(prev)
      val outLabels = if (v.labels.contains(dstCol)) v.labels else v.labels :+ dstCol
      Vec(v.df.withColumn(dstCol, rewritten), outLabels)
    case LabelFunc("label_join", args, arg) =>
      if (args.length < 2)
        fail("""label_join takes (v, "dst", "sep", "src1", ...)""")
      val dst = args.head
      val sep = args(1)
      val srcs = args.drop(2).map(labelCol)
      val v = materialize(compileVec(spark, dir, arg, shiftS))
      srcs.foreach(s => if (!v.labels.contains(s))
        fail(s"label_join source label is not in the vector (${v.labels.mkString(", ")})"))
      val dstCol = LabelUniverse.getOrElse(dst, "label_" + dst)
      val joined = concat_ws(sep, srcs.map(col): _*)
      val outLabels = if (v.labels.contains(dstCol)) v.labels else v.labels :+ dstCol
      Vec(v.df.withColumn(dstCol, joined), outLabels)
    case Func(fn, _, arg) if fn == "sort" || fn == "sort_desc" =>
      // sort orders the OUTPUT instant vector by value; it changes no
      // element, so it simply tags the vector for the final orderBy —
      // and overrides any inner sort_by_label tag (outermost sort wins)
      compileVec(spark, dir, arg, shiftS)
        .copy(sortDesc = Some(fn == "sort_desc"), sortLabels = Nil)
    case LabelFunc(fn, args, arg) if fn == "sort_by_label" || fn == "sort_by_label_desc" =>
      // element-preserving like sort/sort_desc: tags the vector to order
      // by the given LABEL values (remaining labels break ties) in
      // upstream's NATURAL order ("pod2" < "pod10"): each named label
      // sorts by a key whose digit runs are zero-padded to 16 (see
      // [[Compiler.natSortKey]]), raw value as tiebreak — both
      // expressible in plain SQL, so the oracle pins it exactly. The
      // _desc form negates the WHOLE comparison, tiebreaks included,
      // like upstream.
      if (args.isEmpty) fail(s"""$fn takes (v, "lbl", ...)""")
      val v = compileVec(spark, dir, arg, shiftS)
      val cols = args.map(labelCol)
      cols.zip(args).foreach { case (c, a) => if (!v.labels.contains(c))
        fail(s"$fn label '$a' is not in the vector (${v.labels.mkString(", ")})") }
      v.copy(sortDesc = Some(fn == "sort_by_label_desc"), sortLabels = cols)
    case Func("timestamp", _, arg) =>
      arg match {
        case sel: Selector =>
          if (sel.rangeS.isDefined) fail("timestamp takes an instant selector")
          val kind = kindOf(sel.name)
          if (kind == "histogram")
            fail(s"histogram family '${sel.name}' has no scalar instant sample")
          val bound = selectorBound(sel, shiftS)
          val base0 = events(spark, dir)
            .filter(col("name") === sel.name && matcherFilter(sel.matchers) &&
              unix_micros(col("ts")) <= bound)
          // the instant sample's timestamp = the last contributing event;
          // counters keep the snapshot's non-negative guard so the sample
          // set matches the value path exactly
          val base = if (kind == "counter") base0.filter(col("value") >= 0) else base0
          Vec(base.groupBy(SeriesKey.map(col): _*)
            .agg((max(unix_micros(col("ts"))).cast("double") / 1e6).as("value")),
            SeriesKey)
        case other => fail(s"timestamp expects a selector, got $other")
      }
    case Func("vector", Some(s), _) =>
      // vector(s): the 1-element, label-free instant vector
      Vec(spark.range(1).select(lit(s).cast("double").as("value")), Nil)
    case Func("scalar", _, _) | Func("time", _, _) =>
      fail("a scalar-typed expression is not an instant vector; " +
        "use it as a binary-op operand (e.g. v / scalar(sum(v)))")
    case CountValues(dst, arg) =>
      if (LabelUniverse.contains(dst))
        fail(s"count_values destination label '$dst' collides with a series label")
      val v = materialize(compileVec(spark, dir, arg, shiftS))
      val lbl = "label_" + dst
      // group on exact integer cents; render the label with a fixed
      // 2-decimal format (identical in Spark and the oracle engine)
      val c = v.df.withColumn("_cents", round(col("value") * 100, 0).cast("long"))
      Vec(c.groupBy(col("_cents"))
        .agg(count(lit(1)).cast("double").as("value"))
        .select(format_string("%.2f", col("_cents").cast("double") / 100.0).as(lbl),
          col("value")),
        Seq(lbl))
    case a: Agg => aggregate(a, compileVec(spark, dir, a.arg, shiftS))
    case b: BinOp => binOp(spark, dir, b, shiftS)
    case _: Subquery => fail("a subquery is only valid under a *_over_time function")
    case NumLit(_) => fail("a bare scalar is not a vector expression")
    case other => fail(s"unsupported expression $other")
  }

  /** Compile to a DataFrame: label columns (in vector order) + `value`
    * as DOUBLE, deterministically ordered.
    */
  /** Upstream-parity natural-sort key for `sort_by_label`: split the
    * value into maximal digit / non-digit runs and zero-pad digit runs
    * to 16, so "pod2" < "pod10" compares correctly as strings. Both
    * halves are codegen'd built-ins (`regexp_extract_all` + HOF) with
    * an exact DuckDB twin (`regexp_extract_all`/`list_transform`/
    * `lpad`/`array_to_string`) — Java and RE2 agree on this
    * lookaround-free pattern, and both engines' `lpad` truncate
    * identically on >16-digit runs (the raw-value tiebreak then
    * decides, identically).
    */
  private def natSortKey(c: String): Column =
    expr(s"array_join(transform(regexp_extract_all($c, '[0-9]+|[^0-9]+', 0), " +
      "e -> CASE WHEN e RLIKE '^[0-9]' THEN lpad(e, 16, '0') ELSE e END), '')")

  /** Compile with a declared native-histogram family set (the
    * scrape-config analog; see [[nativeFams]]).
    */
  def compile(spark: SparkSession, dir: String, ast: Ast,
      nativeFamilies: Set[String]): DataFrame =
    nativeFams.withValue(nativeFamilies)(compile(spark, dir, ast))

  /** Run `f` with the native-family sample-kind dispatch in scope —
    * the query_range API's hook (plans must be CONSTRUCTED inside).
    */
  private[promql] def withNativeFamilies[T](fams: Set[String])(f: => T): T =
    nativeFams.withValue(fams)(f)

  def compile(spark: SparkSession, dir: String, ast: Ast,
      nativeFamilies: Set[String], detMath: Boolean): DataFrame =
    nativeFams.withValue(nativeFamilies)(
      detMode.withValue(detMath)(compile(spark, dir, ast)))

  def compile(spark: SparkSession, dir: String, ast: Ast): DataFrame =
    compileShifted(spark, dir, ast, 0L)

  /** [[compile]] evaluated `shiftS` seconds BEFORE the corpus instant T
    * — the full front-door semantics (sorts included) at a past
    * instant; the HTTP API's `time=` parameter compiles through here.
    */
  private[promql] def compileShifted(spark: SparkSession, dir: String,
      ast: Ast, shiftS: Long): DataFrame = {
    // instant query: @ start()/@ end() ARE the evaluation instant
    // (upstream's start = end = eval-time rule) — drop the pins
    val v = materialize(
      compileVec(spark, dir, Ast.resolveAtEdges(ast, None, None), shiftS))
    val cols = v.labels.map(col) :+ col("value").cast("double").as("value")
    val ord =
      if (v.sortLabels.nonEmpty) {
        // sort_by_label_desc negates the FULL comparison (upstream
        // reverses the comparator), so the remaining-label + value
        // tiebreaks descend along with the named labels.
        val desc = v.sortDesc.contains(true)
        def dir(c: Column): Column = if (desc) c.desc else c.asc
        // natural order per named label: padded-digit key first, raw
        // value as the deterministic tiebreak ("01" vs "1")
        val primary = v.sortLabels.flatMap(c =>
          Seq(dir(natSortKey(c)), dir(col(c))))
        val rest = v.labels.filterNot(v.sortLabels.contains).map(c => dir(col(c)))
        primary ++ rest :+ dir(col("value"))
      } else v.sortDesc match {
        case Some(true) => col("value").desc +: v.labels.map(col)
        case Some(false) => col("value").asc +: v.labels.map(col)
        case None => v.labels.map(col) :+ col("value")
      }
    v.df.select(cols: _*).orderBy(ord: _*)
  }
}

/** One-call front door: `Engine.eval(spark, dir, "sum by (k) (rate(purchase[1h])))")`. */
object Engine {
  /** `nativeFamilies`: histogram families ingested as NATIVE
    * (exponential sparse-bucket) histograms — `histogram_quantile` /
    * `histogram_fraction` over them route through the sparse-bucket
    * plans (Prometheus 3.x sample-kind dispatch).
    */
  /** `detMath`: compile every libm-routed scalar function and binary
    * op through the deterministic DetMath tier (cross-engine
    * bit-reproducible; ≤ ~1e-12 from libm) — the front-end face of the
    * b33b/b34b/b38 operator twins.
    */
  /** `recordingRules`: standing rules whose names become selectable
    * series in `query` (view semantics — see
    * [[Compiler.withRecordedRules]]).
    */
  def eval(spark: SparkSession, dir: String, query: String,
      nativeFamilies: Set[String] = Set.empty,
      detMath: Boolean = false,
      recordingRules: Seq[Rules.RecordingRule] = Nil,
      alertRules: Seq[Rules.AlertRule] = Nil): DataFrame = {
    if (detMath) graft.plans.DetMathExprs.register(spark)
    Compiler.withAlertRules(alertRules)(
      Compiler.withRecordedRules(recordingRules)(
        Compiler.compile(spark, dir, Parser.parse(query), nativeFamilies, detMath)))
  }

  /** Compile a PromQL subset against a STREAMING events relation — the
    * same query text evaluated continuously, emitting the running
    * instant vector per micro-batch (Update mode). Supported:
    *  - counter selectors with matchers → running accumulation (state =
    *    one row per series);
    *  - gauge selectors → last-write-wins via a running `max_by` over
    *    the (event-time, event_id) order — the same deterministic
    *    tiebreak as the batch snapshot, so out-of-order delivery
    *    converges to the batch answer;
    *  - `rate(m[d])` / `increase(m[d])` → per-TUMBLING-window increase
    *    with a `watermark` bound (the streaming reading of a trailing
    *    window: one row per closed window per series, keyed by an extra
    *    `window_start` column; state for windows behind the watermark is
    *    evicted). `rate` divides by the window exactly like batch;
    *  - `sum/count/avg/min/max [by (k, instance)]`, scalar arithmetic,
    *    comparison filters;
    *  - `histogram_quantile(φ, hist)` → running per-series bucket
    *    histogram (one mergeable-buffer stateful aggregation) + the
    *    native interpolation expression; `histogram_quantile(φ,
    *    rate(hist[d]))` → the same per tumbling window,
    *    watermark-bounded.
    * Absolute time anchoring (offset/@/subqueries), across-series
    * quantiles, and sorts are batch-only and rejected at compose time.
    */
  def evalStream(events: DataFrame, query: String,
      watermark: String = "10 minutes"): DataFrame =
    StreamCompiler.compile(events,
      Ast.resolveAtEdges(Parser.parse(query), None, None), watermark)
}

/** The streaming subset compiler (see [[Engine.evalStream]]). */
object StreamCompiler {

  import graft.operators.Metrics
  import org.apache.spark.sql.types.DecimalType

  private def fail(msg: String): Nothing =
    throw new PromQLCompileException(s"streaming: $msg")

  private final case class SVec(df: DataFrame, labels: Seq[String])

  private val SeriesKey = Seq("name", "label_k", "label_instance")

  private def labelCol(l: String): String = l match {
    case "k" => "label_k"
    case "instance" => "label_instance"
    case _ => fail(s"unknown label '$l' (series carry labels 'instance', 'k')")
  }

  private[graft] def matcherFilter(ms: Seq[Matcher]): Column =
    ms.foldLeft(lit(true)) { (acc, m) =>
      val c = col(labelCol(m.label))
      acc && (m.op match {
        case "=" => c === m.value
        case "!=" => c =!= m.value
        case "=~" => c.rlike(s"^(?:${m.value})$$")
        case "!~" => !c.rlike(s"^(?:${m.value})$$")
      })
    }

  /** F(x) — the batch histogram_fraction interpolation — over the
    * HistogramAggregator output arrays `_h.les`/`_h.cums`: per bucket i
    * the candidate is the batch per-row CASE (cum at/above the bucket,
    * interpolated inside it, 0 below), max over candidates. `arr[i]`
    * is 0-based in SQL-expression indexing; i runs 1-based.
    */
  private def streamFractionF(x: Double): Column = expr(
    s"""array_max(transform(sequence(1, size(_h.les)), i ->
       |  CASE WHEN ${x}d >= _h.les[i - 1] THEN cast(_h.cums[i - 1] as double)
       |       WHEN ${x}d > (IF(i = 1, 0.0d, _h.les[i - 2]))
       |         THEN cast(IF(i = 1, 0L, _h.cums[i - 2]) as double)
       |           + cast(_h.cums[i - 1] - IF(i = 1, 0L, _h.cums[i - 2]) as double)
       |           * (${x}d - IF(i = 1, 0.0d, _h.les[i - 2]))
       |           / (_h.les[i - 1] - IF(i = 1, 0.0d, _h.les[i - 2]))
       |       ELSE 0.0d END))""".stripMargin)

  private def compileVec(events: DataFrame, ast: Ast,
      watermark: String): SVec = ast match {
    case Selector(name, ms, None, None, None)
        if MetricEvent.CounterNames.contains(name) =>
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms) && col("value") >= 0)
      SVec(base.groupBy(SeriesKey.map(col): _*)
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("value")),
        SeriesKey)
    case Selector(name, ms, None, None, None)
        if MetricEvent.GaugeNames.contains(name) =>
      // last-write-wins as a RUNNING declarative aggregate: max_by over
      // the (ts, event_id) struct order — one state row per series, the
      // same deterministic tiebreak as the batch window/row_number form
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
      SVec(base.groupBy(SeriesKey.map(col): _*)
        .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("value")),
        SeriesKey)
    case Selector(name, _, None, None, None) =>
      fail(s"histogram family '$name' has no scalar streaming form; " +
        "wrap it in histogram_quantile, or use the keyed-state " +
        "runningHistogram operator")
    case Func("histogram_quantile", Some(phi), Selector(name, ms, None, None, None)) =>
      // running per-series quantile: ONE stateful aggregation through the
      // mergeable HistogramAggregator buffer (bucket counts + n per
      // series), then the native codegen'd interpolation expression as a
      // stateless projection over the emitted arrays — the streaming
      // reading of the batch instant form, same Prometheus interpolation
      if (!MetricEvent.HistogramNames.contains(name))
        fail(s"histogram_quantile expects a histogram family, '$name' is not one")
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
      val h = udaf(graft.functions.HistogramAggregator(MetricEvent.Buckets))
      val agg = base.groupBy(SeriesKey.map(col): _*).agg(h(col("value")).as("_h"))
      val q = graft.plans.HistogramQuantileExpr.histogramQuantile(
        events.sparkSession, s"${phi}d", "_h.les", "_h.cums", "_h.count")
      SVec(agg.select(SeriesKey.map(col) :+ q.as("value"): _*), SeriesKey)
    case Func("histogram_quantile", Some(phi),
        Func(fn, _, Selector(name, ms, Some(d), None, None)))
        if fn == "rate" || fn == "increase" =>
      // the canonical alerting idiom, streamed: per-tumbling-window
      // bucket histogram (watermark-bounded), quantile per closed
      // window. The quantile is scale-invariant, so rate and increase
      // feed it identically (batch documents the same identity)
      if (!MetricEvent.HistogramNames.contains(name))
        fail(s"histogram_quantile expects a histogram family, '$name' is not one")
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
        .withWatermark("ts", watermark)
      val h = udaf(graft.functions.HistogramAggregator(MetricEvent.Buckets))
      val agg = base
        .groupBy(window(col("ts"), s"$d seconds") +: SeriesKey.map(col): _*)
        .agg(h(col("value")).as("_h"))
      val q = graft.plans.HistogramQuantileExpr.histogramQuantile(
        events.sparkSession, s"${phi}d", "_h.les", "_h.cums", "_h.count")
      SVec(agg.select(col("window.start").as("window_start") +:
        SeriesKey.map(col) :+ q.as("value"): _*), "window_start" +: SeriesKey)
    case Func(fn, None, Selector(name, ms, None, None, None))
        if fn == "histogram_count" || fn == "histogram_sum" || fn == "histogram_avg" =>
      // running derived scalars of a histogram family — the streaming
      // reading of the batch instant form: one state row per series
      // (exact decimal sum + count fold in the aggregation buffer)
      if (!MetricEvent.HistogramNames.contains(name))
        fail(s"$fn expects a histogram family, '$name' is not one")
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
      val dsum = sum(col("value").cast(DecimalType(18, 2))).cast("double")
      val cnt = count(lit(1)).cast("double")
      val v = fn match {
        case "histogram_count" => cnt
        case "histogram_sum" => dsum
        case "histogram_avg" => dsum / cnt
      }
      SVec(base.groupBy(SeriesKey.map(col): _*).agg(v.as("value")), SeriesKey)
    case Func(fn, None, Func(rf, _, Selector(name, ms, Some(d), None, None)))
        if (fn == "histogram_count" || fn == "histogram_sum" || fn == "histogram_avg") &&
          (rf == "rate" || rf == "increase") =>
      // windowed form: per-tumbling-window observation count / sum /
      // mean, watermark-bounded like the streamed rate; avg is
      // scale-invariant so rate and increase feed it identically
      if (!MetricEvent.HistogramNames.contains(name))
        fail(s"$fn expects a histogram family, '$name' is not one")
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
        .withWatermark("ts", watermark)
      val dsum = sum(col("value").cast(DecimalType(18, 2))).cast("double")
      val cnt = count(lit(1)).cast("double")
      val scale = if (rf == "rate") Some(d.toDouble) else None
      val v = fn match {
        case "histogram_count" => scale.map(cnt / lit(_)).getOrElse(cnt)
        case "histogram_sum" => scale.map(dsum / lit(_)).getOrElse(dsum)
        case "histogram_avg" => dsum / cnt
      }
      val agg = base
        .groupBy(window(col("ts"), s"$d seconds") +: SeriesKey.map(col): _*)
        .agg(v.as("value"))
      SVec(agg.select(col("window.start").as("window_start") +:
        SeriesKey.map(col) :+ col("value"): _*), "window_start" +: SeriesKey)
    case HistFraction(lo, hi, Selector(name, ms, None, None, None)) =>
      // running fraction in (lo, hi]: the same mergeable bucket buffer
      // as the streaming quantile, with the batch interpolation F(x)
      // as a stateless array expression over the emitted cumulative
      // counts — per-candidate IEEE steps identical to the batch form,
      // max order-independent, so the two converge bit-exactly
      if (lo >= hi) fail(s"histogram_fraction needs lo < hi, got ($lo, $hi)")
      if (!MetricEvent.HistogramNames.contains(name))
        fail(s"histogram_fraction expects a histogram family, '$name' is not one")
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
      val h = udaf(graft.functions.HistogramAggregator(MetricEvent.Buckets))
      val agg = base.groupBy(SeriesKey.map(col): _*).agg(h(col("value")).as("_h"))
      val v = (streamFractionF(hi) - streamFractionF(lo)) /
        col("_h.count").cast("double")
      SVec(agg.select(SeriesKey.map(col) :+ v.as("value"): _*), SeriesKey)
    case HistFraction(lo, hi, Func(rf, _, Selector(name, ms, Some(d), None, None)))
        if rf == "rate" || rf == "increase" =>
      // windowed form: per-tumbling-window bucket histogram, fraction
      // per closed window — scale-invariant, so rate and increase feed
      // it identically (the batch form documents the same identity)
      if (lo >= hi) fail(s"histogram_fraction needs lo < hi, got ($lo, $hi)")
      if (!MetricEvent.HistogramNames.contains(name))
        fail(s"histogram_fraction expects a histogram family, '$name' is not one")
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms))
        .withWatermark("ts", watermark)
      val h = udaf(graft.functions.HistogramAggregator(MetricEvent.Buckets))
      val agg = base
        .groupBy(window(col("ts"), s"$d seconds") +: SeriesKey.map(col): _*)
        .agg(h(col("value")).as("_h"))
      val v = (streamFractionF(hi) - streamFractionF(lo)) /
        col("_h.count").cast("double")
      SVec(agg.select(col("window.start").as("window_start") +:
        SeriesKey.map(col) :+ v.as("value"): _*), "window_start" +: SeriesKey)
    case Func(fn, _, Selector(name, ms, Some(d), None, None))
        if fn == "rate" || fn == "increase" =>
      if (!MetricEvent.CounterNames.contains(name))
        fail(s"$fn expects a counter family, '$name' is not one")
      // the streaming reading of a trailing window: per-tumbling-window
      // increase, watermark-bounded (closed windows evict their state)
      val base = Metrics.metricEventsOf(events)
        .filter(col("name") === name && matcherFilter(ms) && col("value") >= 0)
        .withWatermark("ts", watermark)
      val agg = base
        .groupBy(window(col("ts"), s"$d seconds") +: SeriesKey.map(col): _*)
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("value"))
      val out0 = agg.select(
        col("window.start").as("window_start") +: SeriesKey.map(col) :+ col("value"): _*)
      val out = if (fn == "rate")
        out0.withColumn("value", col("value").cast("double") / lit(d.toDouble))
      else out0
      SVec(out, "window_start" +: SeriesKey)
    case Selector(_, _, range, off, at) if range.isDefined || off.isDefined || at.isDefined =>
      fail("a bare range selector / offset / @ needs a fixed evaluation instant — " +
        "wrap ranges in rate/increase; offset/@ are batch-only")
    case Agg(op, grouping, None, arg) =>
      // grouping derives from the SELECTOR's series key, never from the
      // compiled inner vector: a windowed rate's labels carry
      // window_start, and `without (...)` must not push that synthetic
      // column down onto the raw events relation (the window grouping is
      // re-attached per-branch below)
      val groupCols = grouping match {
        case Some(("by", ls)) => ls.map(labelCol)
        case Some(("without", ls)) =>
          val dropped = ls.map(labelCol).toSet
          SeriesKey.filterNot(l => l == "name" || dropped.contains(l))
        case None => Nil
        case Some((kw, _)) => fail(s"unknown grouping '$kw'")
      }
      // re-aggregating a streaming aggregate needs complete-mode chaining;
      // push the grouping into ONE aggregation over the raw stream instead
      arg match {
        case Selector(name, ms, None, None, None)
            if MetricEvent.CounterNames.contains(name) =>
          // counters: the series value IS the sum of its increments, so
          // sum/count/avg/min/max of PER-SERIES TOTALS need the per-series
          // sum first — only `sum` commutes with the event-level sum and
          // pushes into one flat aggregation; the others fold the
          // per-series totals inside the buffer (single stateful op)
          val base = Metrics.metricEventsOf(events)
            .filter(col("name") === name && matcherFilter(ms) && col("value") >= 0)
          if (op == "sum") {
            // sum commutes with event accumulation: one flat aggregation
            SVec(base.groupBy(groupCols.map(col): _*)
              .agg(sum(col("value").cast(DecimalType(18, 2))).as("value")),
              groupCols)
          } else {
            // count/min/max/avg apply to the per-series TOTALS: fold them
            // inside one mergeable buffer (exact integer cents), then
            // reduce the emitted array statelessly
            val totals = udaf(CounterTotalsAggregator,
              org.apache.spark.sql.Encoders.product[CounterObs])
            val withTotals = base.groupBy(groupCols.map(col): _*)
              .agg(totals(concat_ws("|", SeriesKey.map(col): _*),
                round(col("value") * 100, 0).cast("long")).as("_totals"))
            val centSum = expr("aggregate(_totals, 0L, (acc, x) -> acc + x)")
            val n = size(col("_totals")).cast("double")
            val value = op match {
              case "count" => n
              case "avg" => (centSum.cast("double") / lit(100.0)) / n
              case "min" => array_min(col("_totals")).cast("double") / lit(100.0)
              case "max" => array_max(col("_totals")).cast("double") / lit(100.0)
              case other => fail(s"aggregation '$other' is batch-only")
            }
            SVec(withTotals.select(groupCols.map(col) :+ value.as("value"): _*),
              groupCols)
          }
        case Selector(name, ms, None, None, None)
            if MetricEvent.GaugeNames.contains(name) =>
          // gauges: aggregate the per-series LAST-WRITE-WINS values, not
          // the raw observations. A per-series latest then a cross-series
          // aggregate would chain two unwindowed stateful operators
          // (unsupported outside Append mode); instead ONE custom
          // Aggregator keeps the latest (ts, event_id, value) per series
          // inside its mergeable buffer and emits the ordered value
          // array — the cross-series reduction is then a stateless
          // projection matching the batch compiler's decimal semantics
          val base = Metrics.metricEventsOf(events)
            .filter(col("name") === name && matcherFilter(ms))
          val latest = udaf(GaugeLatestAggregator,
            org.apache.spark.sql.Encoders.product[GaugeObs])
          val withLatest = base.groupBy(groupCols.map(col): _*)
            .agg(latest(concat_ws("|", SeriesKey.map(col): _*),
              unix_micros(col("ts")), col("event_id"), col("value"))
              .as("_latest"))
            // STALENESS ([[graft.model.Stale]]): markers ride INTO the
            // keyed state so they can out-anchor older samples; a
            // series whose latest value is the marker then drops out of
            // the emitted array here — the instant-read cut, stateless.
            // A newer real sample re-enters the array (revival).
            .withColumn("_live", expr("filter(_latest, x -> NOT isnan(x))"))
          val decSum = expr("aggregate(_live, CAST(0 AS DECIMAL(38,12)), " +
            "(acc, x) -> CAST(acc + CAST(x AS DECIMAL(38,12)) AS DECIMAL(38,12)))")
          val n = size(col("_live")).cast("double")
          val value = op match {
            case "sum" => decSum.cast("double")
            case "count" => n
            case "avg" => decSum.cast("double") / n
            case "min" => array_min(col("_live"))
            case "max" => array_max(col("_live"))
            case other => fail(s"aggregation '$other' is batch-only")
          }
          // a group whose EVERY series is cut emits a NULL-value update
          // — Update mode cannot retract a sink row, so null IS the
          // absence marker (consumers treat a null instant as no series)
          SVec(withLatest
            .select(groupCols.map(col) :+
              when(size(col("_live")) > 0, value).as("value"): _*),
            groupCols)
        case Func(fn, _, Selector(name, ms, Some(d), None, None))
            if (fn == "rate" || fn == "increase") && op == "sum" =>
          // sum by (...) of a windowed rate: the group total increase IS
          // the sum of the per-series increases, so the grouping pushes
          // into ONE windowed aggregation (no chained streaming aggs)
          if (!MetricEvent.CounterNames.contains(name))
            fail(s"$fn expects a counter family, '$name' is not one")
          val base = Metrics.metricEventsOf(events)
            .filter(col("name") === name && matcherFilter(ms) && col("value") >= 0)
            .withWatermark("ts", watermark)
          val agg = base
            .groupBy(window(col("ts"), s"$d seconds") +: groupCols.map(col): _*)
            .agg(sum(col("value").cast(DecimalType(18, 2))).as("value"))
          val out0 = agg.select(
            col("window.start").as("window_start") +: groupCols.map(col) :+ col("value"): _*)
          val out = if (fn == "rate")
            out0.withColumn("value", col("value").cast("double") / lit(d.toDouble))
          else out0
          SVec(out, "window_start" +: groupCols)
        case Func(fn, _, Selector(name, ms, Some(d), None, None))
            if (fn == "rate" || fn == "increase") &&
              Set("avg", "min", "max", "count").contains(op) =>
          // avg/min/max/count ACROSS series of a windowed rate do not
          // commute with the event-level sum, so they chain TWO stateful
          // windowed aggregations — per-series increase, then the
          // cross-series aggregate over the same window — which Spark
          // executes as chained stateful operators in Append mode (each
          // window emits once, when the watermark passes its end)
          if (!MetricEvent.CounterNames.contains(name))
            fail(s"$fn expects a counter family, '$name' is not one")
          val base = Metrics.metricEventsOf(events)
            .filter(col("name") === name && matcherFilter(ms) && col("value") >= 0)
            .withWatermark("ts", watermark)
          val per = base
            .groupBy(window(col("ts"), s"$d seconds") +: SeriesKey.map(col): _*)
            .agg(sum(col("value").cast(DecimalType(18, 2))).as("_v"))
          val perV = if (fn == "rate")
            per.withColumn("_v", col("_v").cast("double") / lit(d.toDouble))
          else per
          val re = perV.groupBy(
            window(col("window"), s"$d seconds") +: groupCols.map(col): _*)
          val agg = op match {
            case "avg" => re.agg(
              (sum(col("_v").cast(DecimalType(38, 12))).cast("double") /
                count(lit(1)).cast("double")).as("value"))
            case "min" => re.agg(min(col("_v")).as("value"))
            case "max" => re.agg(max(col("_v")).as("value"))
            case "count" => re.agg(count(lit(1)).cast("double").as("value"))
          }
          SVec(agg.select(
            col("window.start").as("window_start") +: groupCols.map(col) :+
              col("value"): _*),
            "window_start" +: groupCols)
        case _ => fail("streaming aggregation applies directly to a selector, or an aggregation over rate/increase")
      }
    case b: BinOp if b.right.isInstanceOf[NumLit] =>
      val op = b.op
      val s2 = b.right.asInstanceOf[NumLit].v
      val v = compileVec(events, b.left, watermark)
      val isCmp = Set(">", "<", ">=", "<=", "==", "!=").contains(op)
      if (isCmp) {
        val c = col("value").cast("double")
        SVec(v.df.filter(op match {
          case ">" => c > s2
          case "<" => c < s2
          case ">=" => c >= s2
          case "<=" => c <= s2
          case "==" => c === s2
          case "!=" => c =!= s2
        }), v.labels)
      } else {
        val c = col("value").cast("double")
        SVec(v.df.withColumn("value", op match {
          case "+" => c + s2
          case "-" => c - s2
          case "*" => c * s2
          case "/" => c / s2
          case "%" => c % s2
          case "^" => pow(c, s2)
          case "atan2" => atan2(c, lit(s2))
        }), v.labels)
      }
    case other => fail(s"$other is batch-only (use Engine.eval)")
  }

  def compile(events: DataFrame, ast: Ast, watermark: String): DataFrame = {
    val v = compileVec(events, ast, watermark)
    // no orderBy: streaming plans cannot sort; consumers read the
    // updated rows per micro-batch
    v.df.select(v.labels.map(col) :+ col("value").cast("double").as("value"): _*)
  }
}
