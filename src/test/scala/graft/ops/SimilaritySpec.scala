package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Similarity invariants beyond the DuckDB hash compare: the
  * corpus-scaled signature stays bucket-bounded at its derived width.
  */
class SimilaritySpec extends AnyFunSuite {

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

  test("q201: the corpus-scaled signature stays bucket-bounded and " +
    "sizes itself to ~64-item buckets") {
    assume(available, s"$dir absent — skipping")
    val r = graft.SparkEntry.queries("q201_scaled_sig_stats")(spark, dir)
      .collect().head
    val (bits, nItems, nBuckets, skewX100) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7))
    assert(bits == Similarity.sigBits(nItems).toLong)
    assert(nBuckets > 1 && skewX100 < 2000,
      s"scaled signature degenerated: $nBuckets buckets, skew $skewX100")
    // the width formula's contract: expected bucket population <= 64
    assert(nItems <= (64L << bits),
      "signature width under-scaled for the corpus")
  }
}
