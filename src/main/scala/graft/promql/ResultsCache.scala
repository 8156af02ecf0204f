package graft.promql

import org.apache.spark.sql.SparkSession

/** The query-frontend RESULTS CACHE for `query_range` — the split+cache
  * tier Cortex/Thanos put in front of a Prometheus: a range query
  * splits into fixed-width chunks of its instant grid, each chunk's
  * evaluated samples cache by (corpus, resolved query, step, evaluated
  * span), and a repeat or overlapping dashboard request re-renders
  * from cached chunks — only never-seen chunks touch Spark.
  *
  * Soundness rests on PromQL's own evaluation model: every `query_range`
  * instant evaluates independently (the lattice bounds only scope the
  * relation — the same fact the sharded grid evaluator relies on), so
  * any instant partition of the grid is result-identical to one plan.
  * Two requests share chunks when their grids align: same step, same
  * phase (`start mod step`) — the key's span carries the phase by
  * construction, and its width keeps split widths apart.
  *
  * The HEAD chunk (whose full span would run past the corpus instant)
  * caches too, keyed on the span it evaluates. Cortex treats its head
  * as still mutable; here it is as fixed as the `time=None` instant
  * entry: the corpus instant is the persisted 1-row aggregate of the
  * persisted events, remote writes land in their own segment dir, and
  * every mutation of the corpus relation bumps the epoch (below).
  * Nothing keys on the raw query STRING: the key holds the RESOLVED
  * Ast, so `@ start()`/`@ end()` pins (resolved against the full
  * request bounds) give distinct ranges distinct keys.
  *
  * INVALIDATION — a cached chunk must never outlive the TSDB state it
  * was computed under:
  *  - admin mutations, `/-/reload`, [[graft.Graft.releaseCaches]] and
  *    `Materialize.seed` bump a per-(session, corpus) state EPOCH
  *    carried in every key, so all prior chunks become unreachable;
  *  - the standing recording-rule file travels in the key twice over:
  *    rules are inlined into the Ast BEFORE keying (so a recorded name
  *    caches under its meaning, and shares chunks with its hand-written
  *    expansion), and the effective rule MAP itself keys the
  *    non-inlinable residue (structural equality — a 32-bit hash could
  *    collide two rule files into each other's chunks) — two servers in
  *    one JVM with different rule files never share chunks.
  *
  * Rendering goes through the same [[Api.seriesSamples]] fragments as
  * the direct path, so cached responses are byte-identical (spec-pinned
  * across selector/rate/aggregation/binary shapes, cold and warm);
  * request shapes the grid tier cannot split (the union path's
  * 64-instant gate) fall back to the direct path whole, uncached.
  * Capacity is a 512-entry LRU of collected sample fragments — driver
  * memory ∝ series × chunk instants, the same order as one response.
  */
object ResultsCache {

  /** Chunk width in INSTANTS (Cortex splits by wall-clock day; an
    * instant budget adapts to any step while keeping plans bounded).
    */
  val SplitInstants = 240

  private val MaxEntries = 512

  /** TSDB-state EPOCH per (session, corpus): bumped by every admin
    * mutation that changes what a query may answer —
    * [[Admin.deleteSeries]] (new tombstones), [[Admin.cleanTombstones]]
    * and [[Admin.reset]] (tombstones change shape or vanish) — and by
    * `/-/reload`, `Graft.releaseCaches` and `Materialize.seed` (rules
    * reloaded, corpus relations released or replaced). A cached
    * chunk's key carries the epoch it was computed under, so a mutation
    * makes every prior chunk unreachable: the next request recomputes
    * against the new state (Cortex invalidates its results cache on
    * exactly these paths). Rule-file state travels separately in the
    * key ([[Compiler.residualRules]]).
    */
  private val epochs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.lang.Long]()

  private[graft] def invalidate(spark: SparkSession, dir: String): Unit =
    epochs.compute((spark, dir), (k, v) => {
      if (v == null) // first mutation for this key: one evictor, ever
        graft.operators.SessionCaches.onApplicationEnd(spark)(() =>
          epochs.remove(k))
      java.lang.Long.valueOf(if (v == null) 1L else v.longValue + 1L)
    })

  private def epoch(spark: SparkSession, dir: String): Long =
    Option(epochs.get((spark, dir))).map(_.longValue).getOrElse(0L)

  private final case class Key(dir: String, epoch: Long,
      rules: Map[String, (Ast, Long)], ast: Ast, stepS: Long,
      lo: Long, hi: Long, msr: Option[Long], nf: Seq[String])

  /** Instant-query cache key: the post-inline Ast + the request's
    * explicit `time` (None = the corpus instant — itself fixed for a
    * given corpus dir, and any admin mutation that could change an
    * answer bumps `epoch`). `@ start()`/`@ end()` edges of an instant
    * query resolve against the evaluation time, which is IN the key,
    * so unresolved edges cannot cross-poison entries.
    */
  private final case class InstKey(dir: String, epoch: Long,
      rules: Map[String, (Ast, Long)], ast: Ast, timeS: Option[Long],
      nf: Seq[String])

  private type Chunk = Map[String, Vector[(Long, String)]]

  private val lru =
    new java.util.LinkedHashMap[Key, Chunk](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Chunk]): Boolean = size() > MaxEntries
    }

  private val instLru =
    new java.util.LinkedHashMap[InstKey, String](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[InstKey, String]): Boolean =
        size() > MaxEntries
    }

  private val lock = new Object
  private var hitN = 0L
  private var missN = 0L
  private var instHitN = 0L
  private var instMissN = 0L

  /** (hits, misses) since start/clear — the spec's reuse proof. */
  def stats: (Long, Long) = lock.synchronized((hitN, missN))

  /** Instant-path (hits, misses) since start/clear. */
  def instantStats: (Long, Long) = lock.synchronized((instHitN, instMissN))

  def clear(): Unit = lock.synchronized {
    lru.clear(); instLru.clear()
    hitN = 0L; missN = 0L; instHitN = 0L; instMissN = 0L
  }

  /** Drop-in twin of [[Api.queryJson]] (`/api/v1/query`), served through
    * the cache — Cortex's query-frontend caches instant results too.
    * The VALUE is the final response string (instant responses are one
    * vector, not splittable chunks); byte-identity with the direct path
    * is by construction since a miss delegates to [[Api.queryJson]].
    * Compose/validation errors propagate uncached, exactly like the
    * direct path's HTTP 400s.
    */
  def queryJson(spark: SparkSession, dir: String, query: String,
      nativeFamilies: Set[String] = Set.empty,
      timeS: Option[Long] = None): String = {
    val ast = Compiler.inlineRecorded(spark, dir, Parser.parse(query))
    val key = InstKey(dir, epoch(spark, dir),
      Compiler.residualRules(ast), ast, timeS,
      nativeFamilies.toSeq.sorted)
    lock.synchronized(Option(instLru.get(key))) match {
      case Some(hit) =>
        lock.synchronized { instHitN += 1 }
        hit
      case None =>
        val fresh = Api.queryJson(spark, dir, query, nativeFamilies, timeS)
        lock.synchronized { instMissN += 1; instLru.put(key, fresh) }
        fresh
    }
  }

  /** Drop-in twin of [[Api.queryRangeJson]], served through the cache. */
  def queryRangeJson(spark: SparkSession, dir: String, query: String,
      startS: Long, endS: Long, stepS: Long,
      nativeFamilies: Set[String] = Set.empty,
      maxSourceResS: Option[Long] = None,
      splitInstants: Int = SplitInstants): String = {
    require(stepS > 0, "step must be positive")
    require(endS >= startS, "end must be >= start")
    require(splitInstants > 0, "positive split width")
    // key on the POST-inline Ast: rule inlining otherwise happens inside
    // rangeRelation — AFTER the key — so a recorded name would cache
    // under its spelling, not its meaning, and a rule change would keep
    // serving the old rule's chunks. Inlining here also makes a recorded
    // name and its hand-written expansion share chunks. Edges resolve
    // against the FULL request bounds (upstream `@ start()`/`@ end()`
    // semantics), never the chunk's.
    val ast = Ast.resolveAtEdges(
      Compiler.inlineRecorded(spark, dir, Parser.parse(query)),
      Some(startS), Some(endS))
    val tCorpus = Compiler.instantSeconds(spark, dir).toLong
    // mirror the direct path's bound (Api.rangeRelation) — same message,
    // same failure, instead of silently truncating the head chunk
    (startS to endS by stepS).find(_ > tCorpus).foreach(i =>
      throw new IllegalArgumentException(
        s"requirement failed: grid instant $i is after the corpus instant $tCorpus"))
    val phase = Math.floorMod(startS, stepS)
    val span = splitInstants.toLong * stepS
    // the last grid-aligned instant the corpus can serve — a chunk whose
    // full span runs past it is the HEAD, evaluated only up to here
    val lastOk = tCorpus - Math.floorMod(tCorpus - phase, stepS)
    def base(t: Long): Long = t - Math.floorMod(t - phase, span)
    val nfKey = nativeFamilies.toSeq.sorted
    val ep = epoch(spark, dir)
    val rulesFp = Compiler.residualRules(ast)

    def compute(cs: Long, ce: Long): Chunk =
      Compiler.withNativeFamilies(nativeFamilies) {
        Api.seriesSamples(Api.rangeRelation(spark, dir, ast, cs, ce, stepS,
          grid = true, maxSourceResS))
          .collect()
          .groupBy(_.getString(0))
          .map { case (m, rows) =>
            m -> rows.map(r => (r.getLong(1), r.getString(2))).toVector
          }
      }

    def stitched(): String = {
      val merged = scala.collection.mutable.HashMap.empty[String, Vector[(Long, String)]]
      (startS to endS by stepS).map(base).distinct.foreach { cb =>
        // key on the span evaluated: a complete chunk's whole width, the
        // head's requested part up to lastOk
        val (lo, hi) =
          if (cb + span - stepS <= lastOk) (cb, cb + span - stepS)
          else (math.max(cb, startS), math.min(endS, lastOk))
        val key = Key(dir, ep, rulesFp, ast, stepS, lo, hi, maxSourceResS,
          nfKey)
        val rows = lock.synchronized(Option(lru.get(key))) match {
          case Some(hit) =>
            lock.synchronized { hitN += 1 }
            hit
          case None =>
            val fresh = compute(lo, hi)
            lock.synchronized { missN += 1; lru.put(key, fresh) }
            fresh
        }
        rows.foreach { case (m, vs) =>
          merged.update(m, merged.getOrElse(m, Vector.empty) ++ vs)
        }
      }
      // stitch: in-range samples per series in instant order, series in
      // the same lexicographic order the direct path's orderBy(m) yields
      // (label JSON here is ASCII, where UTF-8 binary and UTF-16 string
      // orders agree); series whose samples all fall outside the request
      // drop, exactly as the direct path never saw them
      val parts = merged.toSeq
        .map { case (m, vs) =>
          m -> vs.filter(v => v._1 >= startS && v._1 <= endS)
            .sortBy(_._1).map(_._2)
        }
        .filter(_._2.nonEmpty)
        .sortBy(_._1)
        .map { case (m, ss) =>
          s"""{"metric":$m,"values":[${ss.mkString(",")}]}"""
        }
      parts.mkString(
        """{"status":"success","data":{"resultType":"matrix","result":[""",
        ",", "]}}")
    }

    try stitched()
    catch {
      // a shape with no dense-grid strategy falls to the per-instant
      // union path, whose 64-instant gate a full split chunk exceeds —
      // the direct path would have served the (smaller) request fine,
      // so serve it directly and cache nothing; already-stored chunks
      // from other shapes are untouched. Only the shape gate falls back:
      // every other compose error is the caller's HTTP 400, both paths.
      case e: PromQLCompileException if e.getMessage.contains("supports 1..64") =>
        Api.queryRangeJson(spark, dir, query, startS, endS, stepS,
          nativeFamilies, maxSourceResS)
    }
  }
}
