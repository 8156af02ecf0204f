package graft

import graft.promql.{Api, ResultsCache}
import graft.sources.QueryEndpoint

/** The query-frontend results cache: split `query_range` grids into
  * chunks, cache complete chunks, stitch — responses BYTE-IDENTICAL to
  * the direct serving path cold and warm, chunk reuse across
  * overlapping requests proven by the hit/miss counters, and the head
  * (corpus-adjacent) chunk cached on the span it evaluates.
  */
class ResultsCacheSpec extends SparkTestBase {
  import spark.implicits._

  private val H = 3600000L

  // hourly purchases over ~4 days, two series; corpus instant = last ts
  private lazy val dir: String = fixture("events" -> (0 until 96).map { i =>
    ev(i.toLong, i * H, "purchase", 1.0 + (i % 5), if (i % 2 == 0) "a" else "b")
  }.toDF(eventCols: _*))

  private val T0 = 1704067200L // 2024-01-01 00:00:00 UTC
  private val stepS = 6L * 3600L

  private def direct(q: String, s: Long, e: Long): String =
    Api.queryRangeJson(spark, dir, q, s, e, stepS)

  private def cached(q: String, s: Long, e: Long, split: Int = 4): String =
    ResultsCache.queryRangeJson(spark, dir, q, s, e, stepS,
      splitInstants = split)

  // the last 6h grid instant the corpus serves (T0 + 90h); at a split
  // of 3 its chunk [T0 + 84h, T0 + 96h] runs past it — a genuine head
  private lazy val lastOk: Long =
    graft.promql.Compiler.instantSeconds(spark, dir).toLong / stepS * stepS

  test("cached responses are byte-identical to the direct path, cold and warm") {
    ResultsCache.clear()
    val shapes = Seq(
      "purchase",
      "sum by (k) (rate(purchase[1d]))",
      "sum by (k) (purchase) / on (k) sum by (k) (purchase)")
    // 12 instants ending a day before the corpus instant: every chunk
    // (width 4) is complete, so all cache
    val e = T0 + 2 * 86400L
    val s = e - 11 * stepS
    for (q <- shapes) {
      val want = direct(q, s, e)
      assert(cached(q, s, e) === want, s"cold mismatch: $q")
      val (h0, m0) = ResultsCache.stats
      assert(cached(q, s, e) === want, s"warm mismatch: $q")
      val (h1, m1) = ResultsCache.stats
      assert(m1 === m0, s"warm run of '$q' must not recompute any chunk")
      assert(h1 > h0, s"warm run of '$q' must serve from cache")
    }
  }

  test("overlapping requests recompute only never-seen chunks") {
    ResultsCache.clear()
    // chunk bases are ABSOLUTE span multiples (so different requests
    // share chunks): start on a span boundary — phase 0, span = 4 steps
    val s1 = T0 + 4 * stepS
    val e1 = T0 + 11 * stepS // 8 instants = exactly chunks [4..7],[8..11]
    cached("purchase", s1, e1)
    val (_, m1) = ResultsCache.stats
    assert(m1 === 2L)
    // extend the range backwards by one chunk: 1 new miss, old 2 hit
    val s2 = T0
    val want = direct("purchase", s2, e1)
    assert(cached("purchase", s2, e1) === want)
    val (h2, m2) = ResultsCache.stats
    assert(m2 === 3L, "only the new chunk computes")
    assert(h2 >= 2L, "the shared chunks serve from cache")
  }

  test("split widths never share an entry: 4- then 8-instant chunks") {
    ResultsCache.clear()
    // an 8-step chunk base is also a 4-step base: the 8-wide call must
    // not be served the 4-wide chunk that starts where it does
    val s = T0 + 4 * stepS
    val e = s + 7 * stepS
    for (q <- Seq("purchase", "sum by (k) (rate(purchase[1d]))")) {
      val want = direct(q, s, e)
      assert(cached(q, s, e, split = 4) === want, s"4-wide: $q")
      assert(cached(q, s, e, split = 8) === want, s"8-wide after 4: $q")
    }
  }

  test("the head chunk caches on its own span; @ end() pins never cross-poison") {
    ResultsCache.clear()
    // range ending ON the corpus instant: chunks at T0 + 48h, 66h and
    // the head [84h, 90h] of a 3-wide split
    val e = lastOk
    val s = e - 7 * stepS
    val want = direct("purchase", s, e)
    assert(cached("purchase", s, e, split = 3) === want)
    val (h1, m1) = ResultsCache.stats
    assert(m1 === 3L, "two complete chunks and the head compute once")
    assert(cached("purchase", s, e, split = 3) === want)
    val (h2, m2) = ResultsCache.stats
    assert(m2 === m1, "a repeat computes nothing, head included")
    assert(h2 === h1 + 3, "a repeat serves every chunk from cache")
    // a later start shortens the head span: its own entry, never the
    // longer head's (nor the reverse, which would lose instants)
    assert(cached("purchase", e, e, split = 3) === direct("purchase", e, e))
    assert(ResultsCache.stats._2 === m2 + 1, "a shorter head is a miss")
    ResultsCache.clear()
    assert(cached("purchase", e, e, split = 3) === direct("purchase", e, e))
    assert(cached("purchase", s, e, split = 3) === want,
      "a longer head must not be served the shorter head's entry")
    // @ end() resolves per request: two ranges must answer like their
    // own direct twins, not each other's cache
    val q = "sum(purchase @ end())"
    val e2 = e - 4 * stepS
    assert(cached(q, s, e) === direct(q, s, e))
    assert(cached(q, s - 4 * stepS, e2) === direct(q, s - 4 * stepS, e2))
  }

  test("delete_series invalidates cached chunks: warm cache serves fresh tombstone-filtered bytes") {
    ResultsCache.clear()
    val q = "sum by (k) (purchase)"
    // complete chunks a day before the corpus instant, and a range
    // whose head chunk ends at it (3-wide split: head [84h, 90h])
    val ranges = Seq((T0 + 2 * 86400L - 11 * stepS, T0 + 2 * 86400L, 4),
      (lastOk - 7 * stepS, lastOk, 3))
    def serve(r: (Long, Long, Int)): String = cached(q, r._1, r._2, r._3)
    def want(r: (Long, Long, Int)): String = direct(q, r._1, r._2)
    def misses(): Long = ResultsCache.stats._2
    // warm the cache against the un-tombstoned corpus
    for (r <- ranges) assert(serve(r) === want(r))
    val mWarm = misses()
    for (r <- ranges) assert(serve(r) === want(r))
    assert(misses() === mWarm, "fully warm before the delete")
    assert(want(ranges(1)).contains("\"k\":\"a\""),
      "the head span must hold the series the delete removes")
    try {
      graft.promql.Admin.deleteSeries(spark, dir, Seq("""purchase{k="a"}"""))
      for (r <- ranges) {
        val m0 = misses()
        val w = want(r) // direct path excludes the tombstone
        assert(!w.contains("\"k\":\"a\""))
        assert(serve(r) === w,
          "the cached path must serve the tombstone-filtered answer, not stale chunks")
        assert(misses() > m0, "the delete must force recomputation")
      }
      assert(want(ranges.head).contains("\"k\":\"b\""))
    } finally graft.promql.Admin.reset(spark, dir)
    // reset is itself a state mutation: the pre-delete chunks must NOT
    // come back from the cache either
    for (r <- ranges) {
      val m0 = misses()
      assert(serve(r) === want(r))
      assert(misses() > m0, "reset invalidates too")
    }
  }

  test("releaseCaches invalidates warm chunks: the next request recomputes") {
    ResultsCache.clear()
    val e = lastOk
    val s = e - 7 * stepS
    val want = direct("purchase", s, e)
    assert(cached("purchase", s, e, split = 3) === want)
    val (h0, m0) = ResultsCache.stats
    Graft.releaseCaches(spark)
    assert(cached("purchase", s, e, split = 3) === want)
    val (h1, m1) = ResultsCache.stats
    assert(m1 > m0 && h1 === h0,
      "chunks of a released relation must not serve after releaseCaches")
  }

  test("a rule-file change invalidates recorded-name chunks") {
    ResultsCache.clear()
    val e = T0 + 2 * 86400L
    val s = e - 11 * stepS
    def withRule[T](expr: String)(f: => T): T =
      graft.promql.Compiler.withRecordedRules(
        Seq(graft.promql.Rules.RecordingRule("purchase_by_k", expr)))(f)
    val under1 = withRule("sum by (k) (purchase)") {
      val w = direct("purchase_by_k", s, e)
      assert(cached("purchase_by_k", s, e) === w); w
    }
    // same server, same name, NEW rule body: the cache must answer with
    // the new rule's samples, never the old rule's chunks
    withRule("sum by (k) (purchase) * 2") {
      val w = direct("purchase_by_k", s, e)
      assert(w !== under1, "the two rules must genuinely differ")
      assert(cached("purchase_by_k", s, e) === w,
        "a rule change must not serve the old rule's cached chunks")
    }
    // and the name shares chunks with its hand-written expansion (the
    // post-inline key): warming the expansion warms the name
    ResultsCache.clear()
    assert(cached("sum by (k) (purchase)", s, e) ===
      direct("sum by (k) (purchase)", s, e))
    val (_, m1) = ResultsCache.stats
    withRule("sum by (k) (purchase)") {
      assert(cached("purchase_by_k", s, e) ===
        direct("purchase_by_k", s, e))
    }
    assert(ResultsCache.stats._2 === m1,
      "the recorded name must hit the expansion's chunks (post-inline key)")
  }

  test("shapes the grid tier cannot split fall back to the direct path") {
    ResultsCache.clear()
    // an off-lattice subquery step keeps the union path (the grid
    // declines the shape), so a COMPLETE 70-instant chunk would trip
    // the union path's 64-instant gate — the 12-instant request must
    // serve through the direct path instead of erroring
    val q = "max_over_time((sum by (k) (purchase))[2d:1d])"
    val s = T0
    val e = T0 + 11 * 3600L
    val want = Api.queryRangeJson(spark, dir, q, s, e, 3600L)
    assert(ResultsCache.queryRangeJson(spark, dir, q, s, e, 3600L,
      splitInstants = 70) === want)
    // ...and a genuine compose error still surfaces as the same failure
    val bad = intercept[Exception](
      ResultsCache.queryRangeJson(spark, dir, "nosuch_family", s, e, 3600L,
        splitInstants = 70))
    val badDirect = intercept[Exception](
      Api.queryRangeJson(spark, dir, "nosuch_family", s, e, 3600L))
    assert(bad.getMessage === badDirect.getMessage)
  }

  test("an end past the corpus instant fails like the direct path, never truncates") {
    ResultsCache.clear()
    val tCorpus = graft.promql.Compiler.instantSeconds(spark, dir).toLong
    val s = tCorpus - 4 * stepS
    val e = tCorpus + 2 * stepS // runs past the corpus
    val got = intercept[IllegalArgumentException](cached("purchase", s, e))
    val want = intercept[IllegalArgumentException](direct("purchase", s, e))
    assert(got.getMessage === want.getMessage)
  }

  test("HTTP: a resultsCache server answers byte-identically to a direct server") {
    ResultsCache.clear()
    val plain = QueryEndpoint.start(spark, dir)
    val fronted = QueryEndpoint.start(spark, dir, resultsCache = true)
    def get(port: Int, path: String): String = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally conn.disconnect()
    }
    try {
      val e = T0 + 2 * 86400L
      val s = e - 11 * stepS
      val path = s"/api/v1/query_range?query=${java.net.URLEncoder.encode(
        "sum by (k) (rate(purchase[1d]))", "UTF-8")}&start=$s&end=$e&step=6h"
      val want = get(plain.getAddress.getPort, path)
      assert(get(fronted.getAddress.getPort, path) === want)
      assert(get(fronted.getAddress.getPort, path) === want, "warm repeat")
      // the instant path rides the same opt-in: identical bytes, and
      // the warm repeat is a cache hit
      val ipath = s"/api/v1/query?query=${java.net.URLEncoder.encode(
        "sum by (k) (purchase)", "UTF-8")}&time=${T0 + 2 * 86400L}"
      val iwant = get(plain.getAddress.getPort, ipath)
      assert(get(fronted.getAddress.getPort, ipath) === iwant)
      val (h0, m0) = ResultsCache.instantStats
      assert(get(fronted.getAddress.getPort, ipath) === iwant, "warm instant")
      val (h1, m1) = ResultsCache.instantStats
      assert(h1 === h0 + 1 && m1 === m0, "warm instant request must hit")
    } finally { plain.stop(0); fronted.stop(0) }
  }

  test("HTTP adversarial: rule files swapped across instant AND range reads of one recorded name, interleaved with delete_series") {
    ResultsCache.clear()
    import graft.promql.Rules.RecordingRule
    // two servers in ONE JVM over the SAME corpus, same recorded NAME,
    // different rule bodies — plus their direct (uncached) twins; every
    // cached answer must equal its OWN direct twin in any interleaving
    val rulesA = Seq(RecordingRule("adv_k", "sum by (k) (purchase)",
      intervalS = 86400))
    val rulesB = Seq(RecordingRule("adv_k", "sum by (k) (purchase) * 2",
      intervalS = 86400))
    val srvA = QueryEndpoint.start(spark, dir, resultsCache = true,
      recordingRules = rulesA)
    val srvB = QueryEndpoint.start(spark, dir, resultsCache = true,
      recordingRules = rulesB)
    val dirA = QueryEndpoint.start(spark, dir, recordingRules = rulesA)
    val dirB = QueryEndpoint.start(spark, dir, recordingRules = rulesB)
    def get(srv: com.sun.net.httpserver.HttpServer, path: String): String = {
      val conn = new java.net.URL(
        s"http://127.0.0.1:${srv.getAddress.getPort}$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally conn.disconnect()
    }
    def post(srv: com.sun.net.httpserver.HttpServer, path: String): Int = {
      val conn = new java.net.URL(
        s"http://127.0.0.1:${srv.getAddress.getPort}$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      try conn.getResponseCode finally conn.disconnect()
    }
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    try {
      val e = T0 + 2 * 86400L
      val s = e - 11 * stepS
      // the recorded name read BOTH ways: as an instant vector (inlines
      // to the rule's meaning) and as a range selector (stays
      // selector-level, keyed by the residual rule map)
      val iq = s"/api/v1/query?query=adv_k&time=$e"
      val rq = s"/api/v1/query_range?query=${enc("increase(adv_k[2d])")}" +
        s"&start=$s&end=$e&step=6h"
      val iA = get(dirA, iq); val iB = get(dirB, iq)
      val rA = get(dirA, rq); val rB = get(dirB, rq)
      assert((iA !== iB) && (rA !== rB),
        "the two rules must genuinely differ")
      // adversarial interleaving: warm A's instant, then ask B the same
      // text; warm B's range, then ask A — no cross-serving either way
      assert(get(srvA, iq) === iA)
      assert(get(srvB, iq) === iB, "B served A's instant entry")
      assert(get(srvB, rq) === rB)
      assert(get(srvA, rq) === rA, "A served B's range chunks")
      // instant and range tiers of the SAME name never serve each other:
      // re-reads stay correct after both tiers are warm on both servers
      assert(get(srvA, iq) === iA && get(srvA, rq) === rA)
      assert(get(srvB, iq) === iB && get(srvB, rq) === rB)
      // delete_series lands over HTTP on server A — the epoch is
      // corpus-level, so BOTH servers' warm entries (both tiers) must
      // recompute; probe in OPPOSITE tier orders on the two servers
      assert(post(srvA,
        s"/api/v1/admin/tsdb/delete_series?match[]=${enc("""purchase{k="a"}""")}")
        === 204)
      try {
        val rA2 = get(dirA, rq)
        assert(rA2 !== rA, "the delete must change the range answer")
        assert(get(srvA, rq) === rA2, "A's range served stale post-delete")
        val iA2 = get(dirA, iq)
        assert(iA2 !== iA, "the delete must change the instant answer")
        assert(get(srvA, iq) === iA2, "A's instant served stale post-delete")
        val iB2 = get(dirB, iq)
        assert(get(srvB, iq) === iB2, "B's instant served stale post-delete")
        val rB2 = get(dirB, rq)
        assert(get(srvB, rq) === rB2, "B's range served stale post-delete")
      } finally graft.promql.Admin.reset(spark, dir)
      // reset is itself a mutation: the pre-delete entries must not come
      // back stale — every answer re-equals its direct twin
      assert(get(srvA, iq) === get(dirA, iq))
      assert(get(srvB, rq) === get(dirB, rq))
    } finally { srvA.stop(0); srvB.stop(0); dirA.stop(0); dirB.stop(0) }
  }

  test("instant queries cache: byte-identical, keyed by time, invalidated by admin and rule state") {
    ResultsCache.clear()
    def directQ(q: String, t: Option[Long] = None): String =
      Api.queryJson(spark, dir, q, timeS = t)
    def cachedQ(q: String, t: Option[Long] = None): String =
      ResultsCache.queryJson(spark, dir, q, timeS = t)
    val tCorpus = graft.promql.Compiler.instantSeconds(spark, dir).toLong
    for (q <- Seq("purchase", "sum by (k) (rate(purchase[1d]))",
        "topk(1, sum by (k) (purchase))")) {
      val want = directQ(q)
      assert(cachedQ(q) === want, s"cold mismatch: $q")
      val (h0, m0) = ResultsCache.instantStats
      assert(cachedQ(q) === want, s"warm mismatch: $q")
      val (h1, m1) = ResultsCache.instantStats
      assert(m1 === m0 && h1 === h0 + 1, s"warm instant '$q' must hit")
    }
    // the explicit evaluation time is part of the key: two instants
    // answer like their own direct twins, never each other's entry
    val t1 = tCorpus - 86400L
    assert(cachedQ("purchase", Some(t1)) === directQ("purchase", Some(t1)))
    assert(cachedQ("purchase", Some(tCorpus)) ===
      directQ("purchase", Some(tCorpus)))
    // admin mutations invalidate warm instant entries (the shared epoch)
    val q = "sum by (k) (purchase)"
    assert(cachedQ(q) === directQ(q))
    try {
      graft.promql.Admin.deleteSeries(spark, dir, Seq("""purchase{k="a"}"""))
      val want = directQ(q)
      assert(want.contains("\"k\":\"b\"") && !want.contains("\"k\":\"a\""))
      assert(cachedQ(q) === want,
        "stale instant entry served after delete_series")
    } finally graft.promql.Admin.reset(spark, dir)
    // a rule-file change answers with the NEW rule (post-inline keys)
    def withRule[T](expr: String)(f: => T): T =
      graft.promql.Compiler.withRecordedRules(
        Seq(graft.promql.Rules.RecordingRule("pk_inst", expr)))(f)
    val under1 = withRule("sum by (k) (purchase)") {
      val w = directQ("pk_inst"); assert(cachedQ("pk_inst") === w); w
    }
    withRule("sum by (k) (purchase) * 2") {
      val w = directQ("pk_inst")
      assert(w !== under1, "the two rules must genuinely differ")
      assert(cachedQ("pk_inst") === w,
        "old rule's instant entry served after a rule change")
    }
    // ...and the recorded spelling shares the entry with its expansion
    ResultsCache.clear()
    assert(cachedQ("sum by (k) (purchase)") === directQ("sum by (k) (purchase)"))
    val (_, m1) = ResultsCache.instantStats
    withRule("sum by (k) (purchase)") {
      assert(cachedQ("pk_inst") === directQ("pk_inst"))
    }
    assert(ResultsCache.instantStats._2 === m1,
      "the recorded name must hit the expansion's entry (post-inline key)")
    // compose errors surface identically, uncached
    val bad = intercept[Exception](cachedQ("nosuch_family"))
    val badDirect = intercept[Exception](directQ("nosuch_family"))
    assert(bad.getMessage === badDirect.getMessage)
    // a recorded RANGE selector does NOT inline (the sample-grid walk
    // is selector-level), so its entry must key on the rule-map
    // fingerprint: swapping the standing rule between requests of the
    // SAME text must never serve the other rule's samples
    def withIvRule[T](expr: String)(f: => T): T =
      graft.promql.Compiler.withRecordedRules(Seq(
        graft.promql.Rules.RecordingRule("pk_rng", expr,
          intervalS = 86400)))(f)
    val rngA = withIvRule("sum by (k) (purchase)") {
      val w = directQ("rate(pk_rng[2d])")
      assert(cachedQ("rate(pk_rng[2d])") === w); w
    }
    withIvRule("sum by (k) (purchase) * 3") {
      val w = directQ("rate(pk_rng[2d])")
      assert(w !== rngA, "the two rules must genuinely differ")
      assert(cachedQ("rate(pk_rng[2d])") === w,
        "a recorded-range entry served across a rule swap")
    }
    // ...and the same text under the SAME rule hits warm
    withIvRule("sum by (k) (purchase)") {
      val (h0, m0) = ResultsCache.instantStats
      assert(cachedQ("rate(pk_rng[2d])") === rngA)
      val (h1, m1) = ResultsCache.instantStats
      assert(h1 === h0 + 1 && m1 === m0, "same rule must hit its entry")
    }
  }
}
