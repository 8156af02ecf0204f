package graft.operators

import graft.model.MetricEvent
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Tier-A operators: the reference's literal metric semantics re-expressed
  * as Spark aggregations (SURVEY.md §2.1).
  *
  * The reference accumulates three sample kinds in registry-held families
  * (`/root/reference/prometheus.cpp:34-45`):
  * counter = monotone sum with negative-increment rejection
  * (`prometheus.cpp:210-212`), gauge = last-write-wins set
  * (`prometheus.cpp:249`), histogram = explicit-boundary bucket counts +
  * `_sum`/`_count` (`prometheus.cpp:277-278,303`). The exposition endpoint
  * (`prometheus.cpp:73,80`) serves the current snapshot of every series.
  *
  * Spark-first design: the "registry" is not an object — series state IS
  * the groupBy key space `(name, label_k)`, so accumulation is a single
  * partial+final hash aggregate (map-side combine for free), shuffling
  * only one row per series per partition. That holds at 100 TB: the
  * shuffle volume is O(#series × #partitions), not O(#events).
  *
  * Numeric parity note: monetary/sample values are summed as
  * DECIMAL(18,2) and cast to DOUBLE at the end. Double summation order
  * differs between engines (and between Spark partitions run-to-run);
  * decimal summation is exact and associative, so the DuckDB oracle
  * hash-matches bit-for-bit.
  */
object Metrics {

  /** Adapter: driver `events` table → the normative MetricEvent view
    * (SURVEY.md §1.3). `event_type`→name, kind assigned per family, and
    * TWO label columns forming the series identity:
    *  - `label_k`: the exposition-side label pair from `props.$.k` (the
    *    reference supports 0..1 pairs, `prometheus.cpp:189-192`);
    *  - `label_instance`: the scrape-side target label every Prometheus
    *    server attaches to scraped series (`instance`/`job` relabeling);
    *    modeled here as the event's origin shard `i<user_id mod 4>`.
    * SURVEY §1.3's normative `labels` map is physically NORMALIZED into
    * per-key columns: flat string grouping keys hash/shuffle/sort
    * cheaply at 100 TB, and Catalyst prunes unused label columns from
    * the scan, where a MapType value resists both.
    */
  /** Session-scoped cache of the adapter view: ~20 queries share this
    * input, so the scan + JSON parse runs once per (session, sf) instead
    * of per query. In-memory columnar at test scale; at 100 TB the
    * analog is a materialized silver table, not a cache.
    */
  private val eventsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def baseEvents(spark: SparkSession, dir: String): DataFrame =
    eventsCache.computeIfAbsent((spark, dir), k => {
      SessionCaches.onApplicationEnd(spark)(() => eventsCache.remove(k))
      // r19 (guide §6 — clustering for reader skipping): the adapter is
      // CLUSTERED by (name, ts) before caching. In-memory scans keep
      // per-batch column stats, so the name/kind selector every TSDB
      // query starts with prunes other families' batches instead of
      // decompressing the whole corpus; the repartition also
      // parallelizes cached scans (the raw parquet is one split at
      // bench SF). Row order within a query's result is governed by
      // its own ORDER BY / keyed aggregates, never by cache layout.
      metricEventsOf(Tables.events(spark, dir))
        .repartition(col("name"))
        .sortWithinPartitions(col("name"), col("ts"), col("event_id"))
        .persist()
    })

  def metricEvents(spark: SparkSession, dir: String): DataFrame =
    // TSDB tombstones (/api/v1/admin/tsdb/delete_series): queries
    // exclude deleted samples immediately — a pure scan predicate, the
    // no-tombstone fast path returns the cached relation untouched
    graft.promql.Admin.applyTombstones(spark, dir, baseEvents(spark, dir))

  /** Release every cached adapter view of `spark` (long-lived sessions
    * that cycle through many sf dirs — notebooks, services — call this
    * between corpora; the short-lived Verify/Bench mains just stop the
    * session, which drops the blocks with the executor). Returns the
    * dirs whose view was released.
    */
  def unpersistEvents(spark: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    eventsCache.keySet.asScala.filter(_._1 eq spark).map { k =>
      Option(eventsCache.remove(k)).foreach(_.unpersist())
      markersCache.remove(k)
      k._2
    }.toSet
  }

  /** The physical half of `clean_tombstones`
    * ([[graft.promql.Admin.cleanTombstones]]): compact the head to the
    * rows KEPT by `keep` — materialize the filtered child first (so the
    * swap is atomic-enough for a serving session), then release the
    * parent. At 100 TB the analog is the silver-table rewrite a real
    * TSDB runs as block compaction; here it is the cache-entry swap.
    */
  private[graft] def compactHead(spark: SparkSession, dir: String,
      keep: Column): Unit = {
    val base = baseEvents(spark, dir) // create-if-absent: clean must
    val compacted = base.filter(keep).persist() // never silently no-op
    compacted.count() // materialize before dropping the parent blocks
    eventsCache.put((spark, dir), compacted)
    markersCache.remove((spark, dir))
    base.unpersist()
  }

  /** The silver-table swap (SURVEY §8, r10 ask #7): seed the adapter
    * cache for `(spark, dir)` with an externally MATERIALIZED relation
    * — operators keep calling [[metricEvents]] unchanged; only the
    * entry's source moves from compute+persist to a parquet read.
    * `tools/Materialize` writes the relation, `MaterializeSpec` pins
    * identical query results either way.
    */
  private[graft] def seedEvents(spark: SparkSession, dir: String,
      silver: DataFrame): Unit = {
    val expect = Seq("ts", "name", "label_k", "label_instance", "kind",
      "value", "event_id")
    require(silver.columns.toSeq == expect,
      s"silver metric_events schema ${silver.columns.toSeq} != $expect")
    eventsCache.put((spark, dir), silver)
    markersCache.remove((spark, dir))
    SessionCaches.onApplicationEnd(spark)(() => eventsCache.remove((spark, dir)))
  }

  /** Whether `(spark, dir)`'s events view can contain STALENESS MARKERS
    * ([[graft.model.Stale]]) — ONE cached boolean probe per (session,
    * corpus), so the compiler's hot paths pay the marker-aware plan
    * (latest-event flags riding every instant aggregate, a marker
    * filter under every range scan) ONLY for corpora that actually
    * carry markers. The parquet corpus never does (the scrape-line
    * grammar can't produce NaN); marker-carrying relations enter
    * through [[seedEvents]] (which invalidates this probe) — the b41/
    * b42 staleness gates and live scrape/push seeds. Conservative by
    * construction: a stale `true` only costs the marker-aware plan on
    * marker-free data (identical answers); a false `false` is
    * impossible because every mutation path invalidates. At 100 TB the
    * probe is one NaN-presence scan of the cached silver relation per
    * session — amortized over every query the session serves.
    */
  private val markersCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]()

  private[graft] def hasMarkers(spark: SparkSession, dir: String): Boolean =
    markersCache.computeIfAbsent((spark, dir), k => {
      SessionCaches.onApplicationEnd(spark)(() => markersCache.remove(k))
      java.lang.Boolean.valueOf(
        !metricEvents(spark, dir)
          .filter(graft.plans.StaleExprs.isStaleC(col("value"))).isEmpty)
    })

  /** A7 compose-time type/dependency check: the reference hard-fails at
    * compose time when a block's declared input type or required context
    * variable doesn't resolve (`prometheus.cpp:28-29,98-99,117-119,
    * 160-167`). The Spark analog is schema validation at operator
    * CONSTRUCTION — before any job runs — on top of Catalyst's own
    * attribute/type resolution: a missing or mistyped column raises
    * immediately with the expected/actual pair, not at executor time.
    */
  private val RequiredEventCols = Seq(
    "ts" -> Set("timestamp", "timestamp_ntz"), "event_type" -> Set("string"),
    "value" -> Set("double"), "props" -> Set("string"),
    "event_id" -> Set("bigint"), "user_id" -> Set("bigint"))

  def requireEventsSchema(events: DataFrame): Unit = {
    val actual = events.schema.map(f => f.name -> f.dataType.simpleString).toMap
    RequiredEventCols.foreach { case (n, ts) =>
      require(actual.get(n).exists(ts.contains),
        s"events input: column `$n` expected ${ts.mkString("|")}, got " +
          s"${actual.getOrElse(n, "<absent>")} (compose-time check, SURVEY §2.1 A7)")
    }
  }

  /** A5 identity passthrough: every reference block's `activate` returns
    * its input unchanged while side-effecting on the registry
    * (`prometheus.cpp:92,213,250,304`). The Spark-native analog is
    * `observe()` — a metrics tap that accumulates aggregates as rows
    * flow through and adds NOTHING to the physical plan: rows, schema,
    * ordering, and partitioning are untouched, so it chains anywhere in
    * a pipeline exactly like the reference's pass-through blocks.
    */
  def passthrough(df: DataFrame, tapName: String): DataFrame =
    df.observe(tapName, count(lit(1)).as("n_rows"),
      sum(col("value")).as("sum_value"))

  /** Same adapter over any relation with the `events` schema — works for
    * both batch and streaming inputs (pure per-row projection).
    * Validates the input schema up front (A7), then canonicalizes: a
    * `timestamp_ntz` `ts` (parquet isAdjustedToUTC=false) is admitted
    * and cast to `TimestampType` — the session tz is pinned UTC, so the
    * wall-clock becomes the same instant DuckDB assigns the naive value.
    */
  def metricEventsOf(events: DataFrame): DataFrame = {
    requireEventsSchema(events)
    events.select(
      col("ts").cast("timestamp").as("ts"),
      col("event_type").as("name"),
      get_json_object(col("props"), "$.k").as("label_k"),
      concat(lit("i"), (col("user_id") % 4).cast("string")).as("label_instance"),
      when(col("event_type").isin(MetricEvent.CounterNames: _*), "counter")
        .when(col("event_type").isin(MetricEvent.GaugeNames: _*), "gauge")
        .otherwise("histogram").as("kind"),
      col("value"),
      col("event_id"))
  }

  /** A5 as an oracle-checked query: the event stream THROUGH the
    * [[passthrough]] tap — byte-identical to the untapped adapter view.
    */
  def passthroughView(spark: SparkSession, dir: String): DataFrame =
    passthrough(metricEvents(spark, dir), s"a5_tap_$dir")
      .select(col("event_id"), col("name"), col("label_k"), col("kind"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .orderBy(col("event_id"))

  /** SQL twin of [[metricEvents]] for the DuckDB oracle (shared prefix of
    * every Tier-A/B oracle query).
    */
  val MetricEventsSql: String =
    """SELECT ts, event_type AS name,
      |  json_extract_string(props, '$.k') AS label_k,
      |  'i' || CAST(user_id % 4 AS VARCHAR) AS label_instance,
      |  CASE WHEN event_type IN ('click','view','purchase') THEN 'counter'
      |       WHEN event_type IN ('signup','up','scrape_duration_seconds',
      |                           'scrape_samples_scraped') THEN 'gauge'
      |       ELSE 'histogram' END AS kind,
      |  value, event_id
      |FROM events""".stripMargin

  /** Oracle twin of [[passthroughView]] — declared AFTER MetricEventsSql
    * (plain vals initialize in declaration order; a forward reference
    * would interpolate null).
    */
  val PassthroughViewSql: String =
    s"""SELECT event_id, name, label_k, kind, value, epoch_us(ts) AS ts_us
       |FROM ($MetricEventsSql)
       |ORDER BY event_id""".stripMargin

  /** Exact decimal sum of a double column, surfaced as double. */
  private[graft] def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** A2 `Prometheus.Increment` snapshot: current value of every counter
    * series = sum of non-negative increments
    * (`prometheus.cpp:183-199,210-212`). The negative-increment guard
    * (`ActivationError`, `prometheus.cpp:210-211`) maps to a validation
    * filter; [[validatedCounterEvents]] offers the hard-fail variant.
    */
  def counterSnapshot(spark: SparkSession, dir: String): DataFrame =
    metricEvents(spark, dir)
      .filter(col("kind") === "counter" && col("value") >= 0)
      .groupBy(col("name"), col("label_k"))
      .agg(decSum(col("value")).as("value"), count(lit(1)).as("n_increments"))
      .orderBy(col("name"), col("label_k"))

  val CounterSnapshotSql: String =
    s"""WITH m AS ($MetricEventsSql)
       |SELECT name, label_k,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value,
       |  COUNT(*) AS n_increments
       |FROM m WHERE kind = 'counter' AND value >= 0
       |GROUP BY name, label_k
       |ORDER BY name, label_k""".stripMargin

  /** Hard-fail analog of the reference's negative-increment
    * `ActivationError` (`prometheus.cpp:210-211`): raises at execution
    * time if any counter increment is negative.
    */
  def validatedCounterEvents(spark: SparkSession, dir: String): DataFrame =
    metricEvents(spark, dir)
      .filter(col("kind") === "counter")
      .withColumn("value",
        when(col("value") < 0,
          raise_error(concat(lit("counter increment must be >= 0, got "), col("value"))))
          .otherwise(col("value")))

  /** A3 `Prometheus.Gauge` snapshot: last-write-wins per series
    * (`Set`, `prometheus.cpp:249`). Event-time ties broken by event_id so
    * the result is deterministic under any partitioning (SURVEY.md §7
    * hard-part #4).
    */
  def gaugeSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("name"), col("label_k"))
      .orderBy(col("ts").desc, col("event_id").desc)
    metricEvents(spark, dir)
      .filter(col("kind") === "gauge")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("name"), col("label_k"), col("value"))
      .orderBy(col("name"), col("label_k"))
  }

  val GaugeSnapshotSql: String =
    s"""WITH m AS ($MetricEventsSql),
       |r AS (SELECT name, label_k, value,
       |        ROW_NUMBER() OVER (PARTITION BY name, label_k
       |                           ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM m WHERE kind = 'gauge')
       |SELECT name, label_k, value FROM r WHERE rn = 1
       |ORDER BY name, label_k""".stripMargin

  /** The explicit bucket boundaries (`Buckets` param,
    * `prometheus.cpp:111-113,264-269`) as a 7-row DataFrame. Always on
    * the broadcast side of joins.
    */
  private[graft] def bucketBounds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    MetricEvent.Buckets.toDF("le")
  }

  private[graft] val BucketBoundsSql: String =
    "SELECT * FROM (VALUES (1.0),(5.0),(10.0),(25.0),(50.0),(100.0),(150.0)) b(le)"

  /** A4 `Prometheus.Histogram` snapshot: cumulative `le`-bucket counts
    * plus `_sum`/`_count` per series (`Observe`, `prometheus.cpp:303`;
    * bucket build `:264-269`; exposition semantics: bucket(le) = #obs with
    * value <= le, cumulative by construction).
    *
    * Declarative cumulative form: broadcast-cross-join each observation
    * with the 7 boundaries and count `value <= le` per (series, le) — a
    * single hash aggregate, no window, no sort. Constant 7× fan-out
    * beats a per-series sort at 100 TB; the +Inf bucket equals `count`
    * and is carried as its own column rather than a non-finite le row.
    */
  def histogramSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val obs = metricEvents(spark, dir).filter(col("kind") === "histogram")
    obs.crossJoin(broadcast(bucketBounds(obs.sparkSession)))
      .groupBy(col("name"), col("label_k"), col("le"))
      .agg(
        sum(when(col("value") <= col("le"), 1L).otherwise(0L)).as("cum_count"),
        count(lit(1)).as("count"),
        decSum(col("value")).as("sum"))
      .orderBy(col("name"), col("label_k"), col("le"))
  }

  val HistogramSnapshotSql: String =
    s"""WITH m AS ($MetricEventsSql)
       |SELECT name, label_k, le,
       |  CAST(SUM(CASE WHEN value <= le THEN 1 ELSE 0 END) AS BIGINT) AS cum_count,
       |  COUNT(*) AS count,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum
       |FROM m CROSS JOIN ($BucketBoundsSql)
       |WHERE kind = 'histogram'
       |GROUP BY name, label_k, le
       |ORDER BY name, label_k, le""".stripMargin

  /** A4 alternate physical strategy: the same histogram snapshot through
    * the single-pass custom [[graft.functions.HistogramAggregator]]
    * (mergeable bucket buffers, SURVEY.md §4) instead of the
    * crossJoin+groupBy form — one buffer row per series crosses the
    * shuffle instead of 7 pre-aggregated rows. Checked against the SAME
    * oracle as [[histogramSnapshot]].
    */
  def histogramSnapshotAgg(spark: SparkSession, dir: String): DataFrame = {
    val h = udaf(graft.functions.HistogramAggregator(MetricEvent.Buckets))
    metricEvents(spark, dir).filter(col("kind") === "histogram")
      .groupBy(col("name"), col("label_k"))
      .agg(h(col("value")).as("h"))
      .select(col("name"), col("label_k"), col("h"),
        posexplode(col("h.les")).as(Seq("pos", "le")))
      .select(col("name"), col("label_k"), col("le"),
        element_at(col("h.cums"), col("pos") + 1).as("cum_count"),
        col("h.count").as("count"), col("h.sum").as("sum"))
      .orderBy(col("name"), col("label_k"), col("le"))
  }

  /** NATIVE-histogram snapshot (the exponential-bucket sample kind the
    * reference's explicit-boundary A4 predates): the same
    * histogram-kind observations accumulated into sparse
    * base-2^(1/8) buckets (schema 3) through the mergeable
    * [[graft.functions.NativeHistogramAggregator]] — one ~sparse-map
    * buffer per series per partition crosses the shuffle, resolution
    * adapts to the data. HASH-GATED end to end: every output field
    * derives from exact integer state, bucket membership rides the
    * shared literal bounds ([[NhBoundsSql]]), and the interpolated
    * quantiles go through the deterministic
    * [[graft.functions.DetMath.exp2]] instead of libm — so the DuckDB
    * oracle re-derives the whole sketch (counts, span segmentation,
    * p50/p90/p99) bit-for-bit from the raw observations. The
    * aggregator's merge/codec laws are additionally spec-pinned.
    */
  def nativeHistogramSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val nh = udaf(new graft.functions.NativeHistogramAggregator(3))
    metricEvents(spark, dir).filter(col("kind") === "histogram")
      .groupBy(col("name"), col("label_k"))
      .agg(nh(col("value")).as("h"))
      .select(col("name"), col("label_k"),
        col("h.schema").as("schema"), col("h.zero_count").as("zero_count"),
        col("h.count").as("count"), col("h.sum").as("sum"),
        col("h.n_buckets").as("n_buckets"),
        size(col("h.span_offsets")).cast("bigint").as("n_spans"),
        col("h.p50").as("p50"), col("h.p90").as("p90"), col("h.p99").as("p99"))
      .orderBy(col("name"), col("label_k"))
  }

  /** Native-histogram bucket BOUNDS as shared literals: bucket `i` at
    * schema [[NhSchema]] covers `(2^((i-1)/8), 2^(i/8)]`. The doubles
    * are computed ONCE here with the aggregator's own `StrictMath.pow`
    * and shipped to BOTH engines as literals — the Spark side joins the
    * broadcast relation, the oracle embeds the same values via
    * `Double.toString` round-trip — so bucket membership (`lo < v ≤ hi`)
    * is the identical IEEE comparison everywhere and the libm `log/pow`
    * divergence that keeps b37's interpolated quantiles rows-only never
    * enters the gated plan. The index range covers values in
    * `(2^-10, 2^15]` ≈ (0.001, 32768] — far beyond the fixture's
    * [0.01, ~500] observation range; a production deployment widens the
    * constant (201 rows is noise to broadcast either way).
    */
  val NhSchema = 3
  private val NhIdxMin: Int = -80
  private val NhIdxMax: Int = 120
  private lazy val nhBounds: IndexedSeq[(Int, Double, Double)] =
    (NhIdxMin to NhIdxMax).map { i =>
      (i, StrictMath.pow(2.0, (i - 1) / 8.0), StrictMath.pow(2.0, i / 8.0))
    }

  private[graft] def nhBoundsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    nhBounds.toDF("bucket", "lo", "hi")
  }

  /** SCALAR bucket index of a positive value at schema [[NhSchema]] —
    * the codegen-friendly alternative to range-joining the bounds
    * relation (a BroadcastNestedLoopJoin evaluating ~200 candidate
    * rows per observation). `log2` gives the raw index to within one
    * bucket; the literal-bounds comparison then corrects it to EXACT
    * containment (`lo < v ≤ hi`) — the same two-step the aggregator's
    * `bucketIndex` runs, so the result is libm-independent even though
    * libm seeds it. Rows outside the literal table's value range are
    * the caller's concern (mirror the oracle by filtering to
    * `(lo_min, hi_max]` first); the range spans (0.001, 32768].
    */
  private[graft] def nhBucketCol(v: Column): Column = {
    val loArr = array(nhBounds.map(b => lit(b._2)).toIndexedSeq: _*)
    val hiArr = array(nhBounds.map(b => lit(b._3)).toIndexedSeq: _*)
    val raw = ceil(log2(v) * lit(NhIdxScale)).cast("int")
    val r = greatest(lit(NhIdxMin + 1), least(lit(NhIdxMax - 1), raw))
    val idx = r - lit(NhIdxMin) + lit(1)
    when(v <= element_at(loArr, idx), r - 1)
      .when(v > element_at(hiArr, idx), r + 1)
      .otherwise(r)
  }

  private val NhIdxScale: Double = StrictMath.pow(2.0, NhSchema)

  /** The value range the literal bounds cover: callers pre-filter to
    * `(NhLoMin, NhHiMax]` so out-of-range rows DROP (exactly what the
    * oracle's range join does) instead of clamping to an edge bucket.
    */
  private[graft] lazy val NhLoMin: Double = nhBounds.head._2
  private[graft] lazy val NhHiMax: Double = nhBounds.last._3

  private[graft] lazy val NhBoundsSql: String =
    // the doubles ride as QUOTED strings: a bare decimal literal parses
    // as DECIMAL and double-rounds the last ulp away; string → DOUBLE
    // is correctly-rounded strtod, so the exact bit pattern survives
    "SELECT * FROM (VALUES " + nhBounds.map { case (i, lo, hi) =>
      s"($i, CAST('$lo' AS DOUBLE), CAST('$hi' AS DOUBLE))"
    }.mkString(",") + ") b(bucket, lo, hi)"

  /** b37b: the native-histogram CODEC, hash-gated end to end. The Spark
    * side runs the full wire round-trip — observations → sparse-bucket
    * aggregation ([[graft.functions.NativeHistogramAggregator]]) →
    * spans+deltas ENCODE → relational DECODE back to per-bucket absolute
    * counts (windowed prefix sums over the span rows: a span's start =
    * cumulative offsets + cumulative prior lengths, per the exposition
    * format's "offset is the gap from the previous span's end"; a
    * bucket's count = prefix sum of the delta list). The DuckDB oracle
    * never sees the wire form: it re-derives every bucket count directly
    * from the raw observations via the shared literal bounds relation —
    * so a bug anywhere in encode OR decode (span segmentation, offset
    * chaining, delta accumulation) breaks the hash. Scale: the windows
    * run over the series×spans relation (bounded by the value dynamic
    * range, tens of rows per series), never over observations.
    */
  def nativeHistogramDecode(spark: SparkSession, dir: String): DataFrame = {
    val nh = udaf(new graft.functions.NativeHistogramAggregator(NhSchema))
    val wire = metricEvents(spark, dir).filter(col("kind") === "histogram")
      .groupBy(col("name"), col("label_k"))
      .agg(nh(col("value")).as("h"))
      .select(col("name"), col("label_k"),
        col("h.span_offsets").as("offs"), col("h.span_lengths").as("lens"),
        col("h.deltas").as("deltas"))
    decodeWireSpans(wire).join(broadcast(nhBoundsDf(spark)), Seq("bucket"))
      .select(col("name"), col("label_k"), col("bucket"), col("lo"), col("hi"),
        col("bucket_count"))
      .orderBy(col("name"), col("label_k"), col("bucket"))
  }

  /** The relational wire→buckets decode shared by [[nativeHistogramDecode]]
    * (round-trip of the engine's own encoding, b37b) and
    * [[nativeHistogramIngest]] (foreign scrape payloads, b37c): per-span
    * absolute starts from the running `Σoff + Σprior len` (first offset
    * absolute, later offsets gaps from the previous span's exclusive
    * end), per-bucket counts from the delta prefix sums. ZERO-LENGTH
    * spans — legal on the wire, never produced by [[graft.functions
    * .NativeHistogramAggregator.encode]] — advance the position by their
    * offset but consume no deltas and emit no buckets: they stay in the
    * running sums (len 0 adds nothing) and are filtered before the
    * bucket explode, where `sequence(0, len−1)` at len 0 would DESCEND
    * `[0, −1]` and fabricate two rows.
    */
  private[graft] def decodeWireSpans(wire: DataFrame,
      keys: Seq[String] = Seq("name", "label_k"),
      absolute: Boolean = false): DataFrame = {
    val kc = keys.map(col)
    val spans = wire
      .select(kc :+ col("deltas") :+
        posexplode(arrays_zip(col("offs"), col("lens"))).as(Seq("si", "sp")): _*)
      .select(kc :+ col("deltas") :+ col("si") :+
        col("sp.offs").as("off") :+ col("sp.lens").as("len"): _*)
    val w = Window.partitionBy(kc: _*).orderBy(col("si"))
    val wPrior = w.rowsBetween(Window.unboundedPreceding, -1)
    val positioned = spans
      .withColumn("start",
        sum(col("off")).over(w) + coalesce(sum(col("len")).over(wPrior), lit(0L)))
      .withColumn("dstart", coalesce(sum(col("len")).over(wPrior), lit(0L)))
    positioned
      .filter(col("len") > 0)
      .select(kc :+ col("deltas") :+ col("start") :+ col("dstart") :+
        posexplode(expr("sequence(0, len - 1)")).as(Seq("j", "jv")): _*)
      .select(kc :+
        (col("start") + col("j")).cast("int").as("bucket") :+
        // integer wire deltas prefix-sum to absolute counts; the FLOAT
        // wire form (prompb positive_counts/negative_counts) already
        // carries absolutes — position into the list directly
        (if (absolute)
          element_at(col("deltas"), (col("dstart") + col("j") + 1).cast("int"))
        else
          expr("aggregate(slice(deltas, 1, cast(dstart + j + 1 as int)), 0L, (a, x) -> a + x)"))
          .as("bucket_count"): _*)
  }

  /** b37c — the INGEST half of the native-histogram codec
    * (`prometheus.cpp:256-306`'s scrape-side twin): wire payloads this
    * engine did NOT encode — including the zero-length leading span
    * that is legal in the exposition format but absent from the
    * engine's own minimal encoding — decoded to absolute bucket counts
    * through the same shared span walk as b37b and joined to the
    * literal bounds. The payloads are compile-time literals (a scraped
    * body, not corpus data) and the oracle is the independently
    * hand-derived bucket relation, so the gate fails if the decoder
    * ever mis-anchors a span or miscounts a delta chain.
    *
    * Payload shapes covered: multi-span with gaps (a), zero-length
    * LEADING span (b — offsets after it are relative, not absolute),
    * zero-length MID span (c), and negative bucket indexes (c).
    */
  def nativeHistogramIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wire = Seq(
      ("req_latency", "a", Seq(0, 2), Seq(2, 3), Seq(3L, 1L, -1L, 2L, 0L)),
      ("req_latency", "b", Seq(4, 3), Seq(0, 2), Seq(5L, -2L)),
      ("req_latency", "c", Seq(-2, 1, 2), Seq(1, 0, 2), Seq(7L, -3L, 1L))
    ).toDF("name", "label_k", "offs", "lens", "deltas")
    decodeWireSpans(wire).join(broadcast(nhBoundsDf(spark)), Seq("bucket"))
      .select(col("name"), col("label_k"), col("bucket"), col("lo"), col("hi"),
        col("bucket_count"))
      .orderBy(col("name"), col("label_k"), col("bucket"))
  }

  /** Oracle twin of [[nativeHistogramIngest]]: the expected buckets
    * derived BY HAND from the wire spec (span b: start 4+3=7 because
    * the zero-length leading span anchors at 4; span c: mid zero-length
    * span advances 1 without consuming deltas), joined to the same
    * literal bounds.
    */
  lazy val NativeHistogramIngestSql: String =
    s"""WITH b AS ($NhBoundsSql),
       |w(name, label_k, bucket, bucket_count) AS (VALUES
       |  ('req_latency', 'a', 0, CAST(3 AS BIGINT)),
       |  ('req_latency', 'a', 1, CAST(4 AS BIGINT)),
       |  ('req_latency', 'a', 4, CAST(3 AS BIGINT)),
       |  ('req_latency', 'a', 5, CAST(5 AS BIGINT)),
       |  ('req_latency', 'a', 6, CAST(5 AS BIGINT)),
       |  ('req_latency', 'b', 7, CAST(5 AS BIGINT)),
       |  ('req_latency', 'b', 8, CAST(3 AS BIGINT)),
       |  ('req_latency', 'c', -2, CAST(7 AS BIGINT)),
       |  ('req_latency', 'c', 2, CAST(4 AS BIGINT)),
       |  ('req_latency', 'c', 3, CAST(5 AS BIGINT)))
       |SELECT w.name, w.label_k, w.bucket, b.lo, b.hi, w.bucket_count
       |FROM w JOIN b ON b.bucket = w.bucket
       |ORDER BY w.name, w.label_k, w.bucket""".stripMargin

  /** Oracle twin of [[nativeHistogramSnapshot]]: rebuilds the sparse
    * sketch relationally — bucket counts via the literal-bounds range
    * join, span count via bucket-index gaps, exact-cents sum, and the
    * three quantiles through the aggregator's EXACT walk (rank/cum
    * comparisons on integer-valued doubles) with the interpolation
    * evaluated by [[graft.functions.DetMath.exp2Sql]] — the same pinned
    * step sequence the JVM runs, so the doubles hash-match bit for bit.
    */
  lazy val NativeHistogramSnapshotSql: String = {
    val interp = graft.functions.DetMath.exp2Sql("xq")
    s"""WITH m AS ($MetricEventsSql),
       |h AS (SELECT name, label_k, value FROM m WHERE kind = 'histogram'),
       |bounds AS ($NhBoundsSql),
       |ser AS (
       |  SELECT name, label_k, COUNT(*) AS count,
       |    CAST(SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
       |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum
       |  FROM h GROUP BY name, label_k),
       |bk AS (
       |  SELECT h.name, h.label_k, b.bucket, b.hi, COUNT(*) AS c
       |  FROM h JOIN bounds b ON h.value > b.lo AND h.value <= b.hi
       |  GROUP BY 1, 2, 3, 4),
       |bw AS (
       |  SELECT *,
       |    SUM(c) OVER (PARTITION BY name, label_k ORDER BY bucket) AS cumc,
       |    LAG(bucket) OVER (PARTITION BY name, label_k ORDER BY bucket) AS prevb
       |  FROM bk),
       |sp AS (
       |  SELECT name, label_k,
       |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |    CAST(SUM(CASE WHEN prevb IS NULL OR bucket - prevb > 1
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |    MAX(hi) AS last_hi,
       |    CAST(SUM(c) AS BIGINT) AS total_c
       |  FROM bw GROUP BY 1, 2),
       |serx AS (
       |  SELECT s.*, COALESCE(sp.n_buckets, 0) AS n_buckets,
       |    COALESCE(sp.n_spans, 0) AS n_spans, sp.last_hi,
       |    COALESCE(sp.total_c, 0) AS total_c
       |  FROM ser s LEFT JOIN sp ON sp.name = s.name AND sp.label_k = s.label_k),
       |ph AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) p(phi)),
       |qs AS (
       |  SELECT x.*, p.phi,
       |    p.phi * CAST(x.count AS DOUBLE) AS rank
       |  FROM serx x CROSS JOIN ph p),
       |pick AS (
       |  SELECT q.name, q.label_k, q.phi, q.rank, w.bucket, w.c,
       |    (q.rank - CAST(q.zero_count + w.cumc - w.c AS DOUBLE))
       |      / CAST(w.c AS DOUBLE) AS f,
       |    ROW_NUMBER() OVER (PARTITION BY q.name, q.label_k, q.phi
       |      ORDER BY w.bucket) AS rn
       |  FROM qs q JOIN bw w ON w.name = q.name AND w.label_k = q.label_k
       |    AND q.rank <= CAST(q.zero_count + w.cumc AS DOUBLE)
       |  WHERE q.rank > CAST(q.zero_count AS DOUBLE)),
       |pq AS (
       |  SELECT name, label_k, phi, $interp AS qv
       |  FROM (SELECT name, label_k, phi,
       |          (CAST(bucket - 1 AS DOUBLE) + f) / 8.0 AS xq
       |        FROM pick WHERE rn = 1)),
       |qv AS (
       |  SELECT q.name, q.label_k, q.phi,
       |    CASE WHEN q.rank <= CAST(q.zero_count AS DOUBLE) THEN 0.0
       |         WHEN pq.qv IS NOT NULL THEN pq.qv
       |         ELSE q.last_hi END AS qval
       |  FROM qs q LEFT JOIN pq ON pq.name = q.name
       |    AND pq.label_k = q.label_k AND pq.phi = q.phi)
       |SELECT x.name, x.label_k, 3 AS schema, x.zero_count, x.count, x.sum,
       |  x.n_buckets, x.n_spans,
       |  MAX(CASE WHEN v.phi = 0.5 THEN v.qval END) AS p50,
       |  MAX(CASE WHEN v.phi = 0.9 THEN v.qval END) AS p90,
       |  MAX(CASE WHEN v.phi = 0.99 THEN v.qval END) AS p99
       |FROM serx x JOIN qv v ON v.name = x.name AND v.label_k = x.label_k
       |GROUP BY x.name, x.label_k, x.zero_count, x.count, x.sum,
       |  x.n_buckets, x.n_spans
       |ORDER BY x.name, x.label_k""".stripMargin
  }

  lazy val NativeHistogramDecodeSql: String =
    s"""WITH m AS ($MetricEventsSql),
       |bounds AS ($NhBoundsSql)
       |SELECT m.name, m.label_k, b.bucket, b.lo, b.hi,
       |  COUNT(*) AS bucket_count
       |FROM m JOIN bounds b ON m.value > b.lo AND m.value <= b.hi
       |WHERE m.kind = 'histogram'
       |GROUP BY m.name, m.label_k, b.bucket, b.lo, b.hi
       |ORDER BY m.name, m.label_k, b.bucket""".stripMargin

  /** B7 alternate physical strategy: `histogram_quantile` through the
    * native codegen'd [[graft.plans.HistogramQuantileExpr]] over
    * per-series bucket arrays — no window pass, no per-bucket rows at the
    * quantile stage. Checked against the SAME oracle as the
    * compositional [[PromQL.histogramQuantile]].
    */
  def histogramQuantileNative(spark: SparkSession, dir: String): DataFrame = {
    val snap = histogramSnapshot(spark, dir)
    snap.groupBy(col("name"), col("label_k"))
      .agg(sort_array(collect_list(struct(col("le"), col("cum_count")))).as("arr"),
        max(col("count")).as("n"))
      .select(col("name"), col("label_k"),
        graft.plans.HistogramQuantileExpr.histogramQuantile(spark,
          "0.9d", "transform(arr, x -> x.le)",
          "transform(arr, x -> x.cum_count)", "n").as("q"))
      .orderBy(col("name"), col("label_k"))
  }

  /** A1 `Prometheus.Exposer` snapshot (`prometheus.cpp:27-93`): the
    * serving view a scraper would read — one row per series with its
    * current value. Histogram families expose their `_sum` and `_count`
    * derived series (B11; prometheus-cpp accumulates both on `Observe`,
    * `prometheus.cpp:303`). The HTTP pull endpoint inverts to
    * query-on-demand: materializing this DataFrame IS the scrape.
    */
  def exposition(spark: SparkSession, dir: String): DataFrame = {
    val counters = counterSnapshot(spark, dir)
      .select(col("name"), col("label_k"), lit("counter").as("kind"), col("value"))
    val gauges = gaugeSnapshot(spark, dir)
      .select(col("name"), col("label_k"), lit("gauge").as("kind"), col("value"))
    val hist = metricEvents(spark, dir).filter(col("kind") === "histogram")
      .groupBy(col("name"), col("label_k"))
      .agg(decSum(col("value")).as("hsum"), count(lit(1)).cast("double").as("hcount"))
    val histSum = hist.select(concat(col("name"), lit("_sum")).as("name"),
      col("label_k"), lit("histogram").as("kind"), col("hsum").as("value"))
    val histCount = hist.select(concat(col("name"), lit("_count")).as("name"),
      col("label_k"), lit("histogram").as("kind"), col("hcount").as("value"))
    counters.unionAll(gauges).unionAll(histSum).unionAll(histCount)
      .orderBy(col("name"), col("label_k"), col("kind"))
  }

  val ExpositionSql: String =
    s"""WITH m AS ($MetricEventsSql),
       |c AS (SELECT name, label_k, 'counter' AS kind,
       |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
       |      FROM m WHERE kind = 'counter' AND value >= 0 GROUP BY name, label_k),
       |g AS (SELECT name, label_k, 'gauge' AS kind, value FROM (
       |        SELECT name, label_k, value,
       |          ROW_NUMBER() OVER (PARTITION BY name, label_k
       |                             ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM m WHERE kind = 'gauge') WHERE rn = 1),
       |h AS (SELECT name, label_k,
       |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hsum,
       |        CAST(COUNT(*) AS DOUBLE) AS hcount
       |      FROM m WHERE kind = 'histogram' GROUP BY name, label_k)
       |SELECT * FROM (
       |  SELECT name, label_k, kind, value FROM c
       |  UNION ALL SELECT name, label_k, kind, value FROM g
       |  UNION ALL SELECT name || '_sum', label_k, 'histogram', hsum FROM h
       |  UNION ALL SELECT name || '_count', label_k, 'histogram', hcount FROM h)
       |ORDER BY name, label_k, kind""".stripMargin
}
