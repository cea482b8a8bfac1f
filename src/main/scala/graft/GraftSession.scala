package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of graft's mains (Bench, Verify,
  * ExplainAudit, ScaleGen, exec.Cli): session time zone pinned to UTC
  * (`Tables.normalizeNtz`'s NTZ → TIMESTAMP cast is exact only under it),
  * UI off, log level WARN.
  *
  * AQE runs on Spark's defaults (enabled, `parallelismFirst=true`, 64 MB
  * advisory partition size). `parallelismFirst=false` (size-honoring
  * coalescing) was measured and rejected: post-shuffle BYTES do not
  * measure compute, so the 64 MB advisory collapsed the CPU-bound string
  * gates to single-task stages (q204 2.9 s -> 7.2 s, q206 2.9 s -> 7.2 s
  * at sf0.1 on 32 cores — every shuffle stage ran 1 task) while the
  * sub-second tail gates moved only within noise.
  *
  * graft's SQL functions are not installed here: `Tables.registerAll` and
  * `StreamOps.start` install them on whatever session they are given.
  */
object GraftSession {
  def build(master: String, shufflePartitions: String,
      appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = appName.fold(b)(b.appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
