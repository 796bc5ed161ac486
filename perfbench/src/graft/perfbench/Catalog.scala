package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Catalog workloads: an op is one query of a fixed mix from
  * `graft.SparkEntry.queries`, built and collected to the driver — the
  * rows an analyst or a training job gets back. Each op's rows are then
  * checked against the DuckDB answer to the same entry's `oracleSql` on
  * the same generated tables.
  */
final class Catalog(spark: SparkSession, tables: String, expectedDir: String,
                    val mix: Seq[String], tr: Tracer) extends Workload {

  private val expected = mix.map { q =>
    val f = new java.io.File(s"$expectedDir/$q.json")
    q -> (if (f.exists) Right(Check.load(f)) else Left(s"no oracle answer for $q"))
  }.toMap

  // metric-view entries compile through graft.semantic, the rest through
  // the query modules; the spans keep the two layers apart
  private def layer(q: String) =
    if (q.matches("m\\d+_.*")) ("semantic.compile", "semantic.exec")
    else ("queries.build", "queries.exec")

  def run(op: String): () => Option[String] = {
    val (build, exec) = layer(op)
    val df = tr(build)(graft.SparkEntry.queries(op)(spark, tables))
    val rows = tr(exec)(df.collect())
    () => expected(op) match {
      case Right(e) => Check.compare(df.columns.toSeq, rows.toSeq, e)
      case Left(why) => Some(why)
    }
  }
}

object Catalog {
  /** Read-only metric-view, star-join, aggregate, filter and window
    * queries: short ops whose cost is mostly driver fixed cost.
    */
  val analyst: Seq[String] = Seq(
    "m1_metric_by_brand", "m3_metric_multi_dim", "m4_metric_fanout",
    "m5_view_roundtrip", "m6_metric_having", "m7_metric_yaml",
    "m8_review_metrics_yaml", "j4_star_chain", "h1_top_revenue_orders",
    "h2_region_nation_revenue", "h3_returned_revenue", "h4_big_orders",
    "a1_group_agg", "ag3_cube", "pv1_pivot", "f1_conj_filter",
    "f2_isin_filter", "f3_disjunctive_filter", "w1_row_number",
    "w2_running_sum", "w3_rank_family", "st1_window_agg")

  /** Dedup, similarity and statistics jobs: data work dominates. */
  val trainPrep: Seq[String] = Seq(
    "d2_minhash_lsh", "d3_simhash", "d5_cosine_near_dup",
    "dc2_incremental_clusters", "semd1_semantic_dedup",
    "ctr1_contrastive_pairs", "sim5b_knn_graph_approx", "stat1_correlation",
    "std1_standardize", "cen1_label_centroids", "ag2_approx_distinct")
}
