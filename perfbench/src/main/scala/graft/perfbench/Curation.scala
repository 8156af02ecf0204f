package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The LLM-data pipeline's decision path (`ExportSql.Curation`), run on
  * the benchmark's session, the batch's queries first and then the rest in
  * pass order: each query as `SparkEntry.queries(q)`, materialized. A run's
  * session caches start empty, so the shared-relation builds (shingles,
  * LSH pairs, langid grams, k-means, ANN layers) count in the queries that
  * first need them. Its Spark jobs run in their own job group, so the
  * listeners can tell them from the query server's.
  */
final class CurationPass(spark: SparkSession, data: String) {
  final case class Ran(query: String, seconds: Double, rows: Array[Row],
      schema: StructType)

  val ran = mutable.ArrayBuffer.empty[Ran]

  def done: Boolean = ran.length == ExportSql.Curation.length

  /** Runs the next queries while `go` holds before each. */
  def runWhile(go: => Boolean): Unit = {
    spark.sparkContext.setJobGroup(CurationPass.Group, "curation pass")
    try while (!done && go) {
      val q = CurationPass.Order(ran.length)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, data)
      val rows = df.collect()
      ran += Ran(q, (System.nanoTime() - t0) / 1e9, rows, df.schema)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Writes each query's rows as parquet under `dir`, for the oracle check;
    * returns (query, seconds, rows directory) of every query that ran.
    */
  def write(dir: Path): Seq[Map[String, Any]] = ran.toSeq.map { r =>
    val p = dir.resolve(r.query).toString
    spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
      .coalesce(1).write.mode("overwrite").parquet(p)
    Map("query" -> r.query, "seconds" -> r.seconds, "dir" -> p)
  }
}

object CurationPass {
  val Group = "perfbench-curation"

  /** The batch every run makes after its window, about four seconds of
    * cold work: exact dedup (`Dedup`) and perceptual-hash near-duplicates
    * (`Multimodal`).
    */
  val Batch = Seq("x1_dedup_exact", "x92_phash_neardup")

  val Order: Seq[String] = Batch ++ ExportSql.Curation.filterNot(Batch.contains)
}
