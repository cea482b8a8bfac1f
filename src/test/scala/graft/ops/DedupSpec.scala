package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Dedup invariants beyond the DuckDB hash compare: the hash path's
  * 64-bit digests are collision-free on the corpus.
  */
class DedupSpec extends AnyFunSuite {

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

  test("q200: 64-bit content digests are collision-free on the corpus") {
    assume(available, s"$dir absent — skipping")
    val r = graft.SparkEntry.queries("q200_dedup_hash_path")(spark, dir)
      .collect().head
    assert(r.getLong(0) > 0)
    assert(r.getLong(3) == 0L,
      "64-bit md5 prefix collided — widen the dedup digest")
  }
}
