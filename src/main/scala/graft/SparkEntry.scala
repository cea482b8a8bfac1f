package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator-demonstration query from graft.ops.* into the
  * `queries` / `oracleSql` maps the driver's Verify/Bench mains consume.
  */
object SparkEntry {

  /** All operator groups; each contributes named queries + DuckDB oracles. */
  private def all: Seq[Q] =
    Relational.queries ++ Joins.queries ++ Analytics.queries ++
      JsonTime.queries ++ Nested.queries ++ TextOps.queries ++
      Dedup.queries ++ Similarity.queries ++ BridgeOps.queries ++
      StreamOps.queries ++ Extensibility.queries ++ Multimodal.queries ++
      Sinks.queries ++ Extras.queries ++ Ivf.queries ++ TpchMore.queries ++
      FinalOps.queries ++ TpchFull.queries ++ FrontierOps.queries ++
      DepthOps.queries ++ StreamMore.queries ++ QualityOps.queries ++
      PipelineOps.queries ++ LakeOps.queries ++ BehaviorOps.queries ++
      CorpusOps.queries ++ Round3Ops.queries ++ Round4Ops.queries ++
      Round4More.queries ++ Round4Final.queries ++ KMeans.queries ++
      Pq.queries ++ Bpe.queries ++ Round5More.queries ++
      Round5Final.queries ++ MaintenanceOps.queries ++
      IndexLifecycle.queries ++ GraphServe.queries ++
      Round7Final.queries ++ Round7Pipeline.queries ++ Round10Ops.queries ++
      Round10More.queries ++ Round10Final.queries ++ Round11Ops.queries ++
      Round11More.queries ++ Round11Final.queries ++
      Round11Extra.queries ++ Round11Pipeline.queries ++ Round12Ops.queries ++
      Round12More.queries ++ Round12Final.queries ++ Round12Extra.queries ++
      Round12Serve.queries ++ Round12State.queries ++
      Round12Release.queries ++ Round13Ops.queries ++
      Round14Ops.queries ++ Round15Ops.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val qs = all
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs.map(q => q.name -> q.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
