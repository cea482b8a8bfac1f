package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan audit: prints the formatted plan for the scale-critical
  * queries and greps for the properties a 100 TB deployment depends on —
  * parquet filter pushdown + column pruning, broadcast vs shuffle join
  * choice, TakeOrderedAndProject for top-k, and whole-stage codegen spans.
  *
  * Run: sbt "runMain graft.ExplainAudit [queryName ...]"
  */
object ExplainAudit extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    // same CPU env and session as Bench so the dumped plans are the
    // shapes the bench actually times (at sf0.001 AQE broadcasts
    // everything and the structural differences disappear)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val targets =
      if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q03_filter_predicates",
        "q04_sort_limit_offset", "q10_join_inner_broadcast",
        "q15_join_fact_fact", "q16_regional_volume", "q26_topk_heavy_hitters",
        "q28_json_filter", "q46_ngram_jaccard", "q50_knn_bruteforce",
        "q53_minhash_lsh_ml", "q59_custom_expr_dot",
        "q94_tpch_q2_mincost", "q99_tpch_q13_custdist",
        "q104_tpch_q21_last_shipper", "q106_cms_heavy_hitters",
        "q113_tfidf_topterms", "q120_tpch_q9_profit",
        "q126_decontamination", "q129_sequence_packing",
        "q147_bm25_topk", "q150_pipeline_composed",
        "q155_zorder_layout", "q156_bigram_lm_score",
        "q158_triangle_count", "q160_association_rules")
    targets.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // materialize so AQE finalizes the adaptive plan
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(txt)
      def n(needle: String): Int = txt.split(java.util.regex.Pattern.quote(needle)).length - 1
      println(s"-- audit: broadcastJoins=${n("BroadcastHashJoin")}" +
        s" shuffleJoins=${n("SortMergeJoin") + n("ShuffledHashJoin")}" +
        s" topK=${n("TakeOrderedAndProject")}" +
        s" wholeStageCodegen=${unstable.get(name).fold(wholeStageCodegens(df).toString)(c => s"unstable($c)")}" +
        s" pushedFilters=${if (txt.contains("PushedFilters: [") && !txt.contains("PushedFilters: []")) "yes" else "none"}")
    }
    spark.stop()
  }

  /** Gates whose whole-stage-codegen count differs from run to run, with
    * the cause; their audit line prints the cause instead of the count,
    * so two runs of the audit print the same lines.
    */
  private val unstable = Map(
    "q94_tpch_q2_mincost" -> ("AQE broadcasts whichever side of the " +
      "eps-minc join finishes its shuffle stage first; 11 or 12"))

  /** Whole-stage-codegen subtrees of the executed plan, counted on the
    * plan tree through the AQE query stages and subqueries rather than
    * read from the explain text. The count follows the final plan, and
    * that plan can differ between runs: AQE may turn a shuffle join
    * into a broadcast join of whichever side's shuffle stage finished
    * first (q94's top join), and broadcasting an aggregate side puts
    * that aggregate in a codegen subtree of its own ([[unstable]]).
    */
  private def wholeStageCodegens(df: org.apache.spark.sql.DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.size
}
