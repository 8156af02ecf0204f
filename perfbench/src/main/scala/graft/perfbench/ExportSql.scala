package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import graft.SparkEntry
import graft.operators.Metrics
import graft.promql.Oracle

/** The engine's own DuckDB twins, exported for the checkers: the events
  * adapter view every metric twin starts from, the registered 240×6h grid
  * panels (p76–p79) the generalized panel twins must reproduce, and the
  * curation queries' `oracleSql`.
  *
  * {{{ ExportSql <file.json> }}}
  */
object ExportSql {

  val Curation: Seq[String] = Seq("x1_dedup_exact", "x2_minhash_signatures",
    "x3_minhash_lsh", "x27_dedup_components", "x28_dedup_survivors",
    "x9_langid", "x24_filter_verdict", "x70_curation_funnel",
    "x99_dedup_funnel", "x35_kmeans", "x36_semantic_dedup",
    "x91_ivfpq_search", "x73_bpe_encode", "x62_simhash_neardup",
    "x92_phash_neardup")

  def write(p: Path): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Main.writeJson(p, Map(
      "metric_events" -> Metrics.MetricEventsSql,
      "p76_query_range_grid" -> Oracle.QueryRangeGridSql,
      "p77_query_range_rate" -> Oracle.QueryRangeRateSql,
      "p78_query_range_gauge" -> Oracle.QueryRangeGaugeSql,
      "p79_query_range_hq" -> Oracle.QueryRangeHqSql,
      "curation" -> Curation.map(q => q -> SparkEntry.oracleSql(q)).toMap))
  }

  def main(args: Array[String]): Unit = write(Paths.get(args(0)))
}
