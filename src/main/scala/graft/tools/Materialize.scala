package graft.tools

import graft.operators.{Corpus, Dedup, Metrics}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The cache→silver-table swap, made true by construction (SURVEY §8,
  * r10 ask #7). The four session caches — metric-events adapter view,
  * doc→shingle relation, per-doc minhash signatures, and the 1-row
  * eval-instant aggregate — are test-scale stand-ins for silver tables
  * a production pipeline materializes once per snapshot. [[run]] writes
  * them as parquet; [[seed]] points the SAME cache entries at the
  * parquet reads. No operator code changes between the two modes —
  * `MaterializeSpec` reruns representative queries against the
  * materialized form and pins identical results, with the silver paths
  * visible in the executed plans.
  *
  * Usage: `runMain graft.tools.Materialize <sfDir> <outDir>`.
  */
object Materialize {

  val MetricEvents = "metric_events.parquet"
  val Shingles3 = "shingles_3.parquet"
  val Signatures = "signatures.parquet"
  val EvalInstant = "eval_instant.parquet"
  val NhObs = "nh_obs.parquet"
  val BpeDocs = "bpe_docs.parquet"

  /** The pyramid's 1h faces as on-disk rollup blocks (the TSDB analog:
    * downsampled blocks persist and survive restart).
    */
  private def rollupPath(face: String) = s"rollup_1h_$face.parquet"

  /** Write the silver tables for `sfDir` under `outDir`. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val ev = Metrics.metricEventsOf(Tables.events(spark, sfDir))
    ev.write.mode("overwrite").parquet(s"$outDir/$MetricEvents")
    // the watermark-table analog: derived from the same silver events
    ev.select(max(unix_micros(col("ts"))).as("_t_us"))
      .write.mode("overwrite").parquet(s"$outDir/$EvalInstant")
    Corpus.shingleRows(spark, sfDir, 3)
      .write.mode("overwrite").parquet(s"$outDir/$Shingles3")
    Dedup.signaturesDf(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/$Signatures")
    // the pyramid's finest level, all four faces — partitioned by the
    // bucket epoch so aligned reads prune to their bucket range (the
    // on-disk layout a 100 TB deployment would range-scan)
    graft.operators.Downsample.rollupFace1h(spark, sfDir, "base")
      .write.mode("overwrite").parquet(s"$outDir/${rollupPath("base")}")
    graft.operators.Downsample.rollupFace1h(spark, sfDir, "hist")
      .write.mode("overwrite").parquet(s"$outDir/${rollupPath("hist")}")
    graft.operators.Downsample.rollupFace1h(spark, sfDir, "nhTot")
      .write.mode("overwrite").parquet(s"$outDir/${rollupPath("nhTot")}")
    graft.operators.Downsample.rollupFace1h(spark, sfDir, "nhBk")
      .write.mode("overwrite").parquet(s"$outDir/${rollupPath("nhBk")}")
    // the r16 session caches: the nh-bucketized observation relation
    // (shared by the pyramid's nh faces and the dense-grid native
    // quantile) and the encoded corpus (the token-id table x73/x75/x93
    // read)
    graft.operators.Downsample.nhObsCached(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/$NhObs")
    graft.operators.TextAnalysis.bpeEncodedDocs(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/$BpeDocs")
  }

  /** Point the cache entries for `sfDir` at the parquet written by
    * [[run]] — after this, every operator consuming them reads the
    * silver tables without knowing anything changed.
    */
  def seed(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    Metrics.seedEvents(spark, sfDir,
      spark.read.parquet(s"$outDir/$MetricEvents"))
    graft.promql.Compiler.seedInstant(spark, sfDir,
      spark.read.parquet(s"$outDir/$EvalInstant"))
    Corpus.seedShingles(spark, sfDir, 3,
      spark.read.parquet(s"$outDir/$Shingles3"))
    Dedup.seedSignatures(spark, sfDir,
      spark.read.parquet(s"$outDir/$Signatures"))
    graft.operators.Downsample.RollupFaces.foreach { face =>
      graft.operators.Downsample.seedRollup(spark, sfDir, face,
        spark.read.parquet(s"$outDir/${rollupPath(face)}"))
    }
    graft.operators.Downsample.seedNhObs(spark, sfDir,
      spark.read.parquet(s"$outDir/$NhObs"))
    graft.operators.TextAnalysis.seedBpeDocs(spark, sfDir,
      spark.read.parquet(s"$outDir/$BpeDocs"))
    // results cached against the replaced relations must not stay
    // reachable (bumped after the swap, so no chunk of the old ones
    // can land under the new epoch)
    graft.promql.ResultsCache.invalidate(spark, sfDir)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir)
    println(s"[materialize] wrote $MetricEvents, $EvalInstant, $Shingles3, " +
      s"$Signatures under $outDir")
    spark.stop()
  }
}
