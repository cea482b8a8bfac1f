package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Lake-maintenance invariants beyond the DuckDB hash compare: the
  * commit protocol's conflicted and replayed commits provably leave the
  * table state unchanged.
  */
class LakeOpsSpec extends AnyFunSuite {

  private val dir = graft.TestData.sf0001

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists() &&
      new java.io.File(dir, "embeddings.parquet").exists()

  test("q198: conflicted and replayed commits provably leave the table " +
    "state unchanged") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry.queries(
      "q198_merge_commit_protocol")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    val events = rows.map(_._3).toSeq
    assert(events == Seq("committed", "committed", "conflict_detected",
      "committed", "skipped_idempotent"))
    // the stale writer's rejected commit changed nothing
    assert(rows(2).copy(_1 = 0L, _2 = "", _3 = "") ==
      rows(1).copy(_1 = 0L, _2 = "", _3 = ""),
      "conflict_detected mutated the table state")
    // the replayed batch changed nothing
    assert(rows(4).copy(_1 = 0L, _2 = "", _3 = "") ==
      rows(3).copy(_1 = 0L, _2 = "", _3 = ""),
      "idempotent replay mutated the table state")
    // versions advance only on real commits
    assert(rows.map(_._4).toSeq == Seq(1L, 2L, 2L, 3L, 3L))
  }
}
