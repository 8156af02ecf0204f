package graft

import graft.operators.{Corpus, Metrics}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's front door for interactive / SQL-first use:
  *
  * {{{
  *   graft.Graft.registerViews(spark, sfDir)
  *   spark.sql("SELECT * FROM counter_snapshot WHERE label_k = '17'")
  *   graft.Graft.promql(spark, sfDir, "topk(3, sum by (k) (purchase))")
  * }}}
  *
  * `registerViews` publishes the engine's relations as temp views (and
  * registers the native expressions), so a user needs no Scala beyond
  * these two calls — the same role the reference's block registration
  * plays for a Shards script author
  * (`/root/reference/prometheus.cpp:309-314`). Views are temp-view
  * DEFINITIONS over the session-cached relations: queries against them
  * plan through Catalyst like any DataFrame call, with nothing
  * materialized beyond the shared session caches.
  */
object Graft {

  /** Register every engine relation as a temp view on `spark`. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.plans.IntDotExpr.register(spark)
    graft.plans.CharTrigramsExpr.register(spark)
    graft.plans.HistogramQuantileExpr.register(spark)
    // metric model
    Metrics.metricEvents(spark, dir).createOrReplaceTempView("metric_events")
    Metrics.counterSnapshot(spark, dir).createOrReplaceTempView("counter_snapshot")
    Metrics.gaugeSnapshot(spark, dir).createOrReplaceTempView("gauge_snapshot")
    Metrics.histogramSnapshot(spark, dir).createOrReplaceTempView("histogram_snapshot")
    // corpus + fixtures
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    Corpus.shingleRows(spark, dir).createOrReplaceTempView("doc_shingles")
    // relational fixtures — registered only where the corpus carries them
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region")
      .filter(t => java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t.parquet")))
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
  }

  /** Evaluate a PromQL query string against the events at `dir`. */
  def promql(spark: SparkSession, dir: String, query: String): DataFrame =
    graft.promql.Engine.eval(spark, dir, query)

  /** Release every session-keyed cached relation for `spark` — the
    * manual analog of the automatic application-end eviction
    * ([[graft.operators.SessionCaches]]). Call between scale factors
    * (or tenants) in a long-lived session to return executor storage.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    val released = Metrics.unpersistEvents(spark) ++
      graft.promql.Compiler.unpersistInstants(spark)
    Corpus.unpersistShingles(spark)
    graft.operators.Dedup.unpersistSignatures(spark)
    graft.operators.Dedup.unpersistPairs(spark)
    graft.operators.Dedup.unpersistExact(spark)
    graft.operators.TextAnalysis.unpersistGrams(spark)
    graft.operators.TextAnalysis.unpersistVerdict(spark)
    graft.operators.Similarity.unpersistQuantized(spark)
    graft.operators.Similarity.unpersistKmeans(spark)
    graft.operators.Similarity.unpersistPq(spark)
    graft.operators.Multimodal.unpersistPhashPairs(spark)
    graft.operators.TextAnalysis.unpersistBpe(spark)
    graft.operators.Classifier.unpersistFeatures(spark)
    // The iteration operators (x27 component propagation, x37
    // converged k-means, the BPE training rounds) truncate lineage
    // with localCheckpoint; those blocks belong to no registry above,
    // so sweep whatever persistent RDDs remain — the engine owns this
    // session's executor storage, and a long-lived session must return
    // to zero after release.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // those dirs rebuild their relations on next use: results cached
    // against the released ones must not stay reachable
    released.foreach(graft.promql.ResultsCache.invalidate(spark, _))
  }
}
