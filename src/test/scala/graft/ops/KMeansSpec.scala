package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Codebook-training invariants beyond the DuckDB hash compare: the
  * small-k sampled codebook demonstrably trains on an ACTIVE
  * (non-saturated) sample at the hard gate's scale factor.
  */
class KMeansSpec extends AnyFunSuite {

  private val dirHard = graft.TestData.sf001

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def availableAt(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q248: the training sample is ACTIVE at the hard gate's scale " +
    "factor — threshold below saturation, admitted rows strictly " +
    "fewer than the corpus, seeds always kept") {
    assume(availableAt(dirHard), s"$dirHard absent — skipping")
    val rows = graft.SparkEntry
      .queries("q248_sampled_codebook_small")(spark, dirHard).collect()
    val n = graft.Tables.table(spark, dirHard, "embeddings").count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTrain = r.getLong(4)
      val thr = r.getLong(5)
      assert(thr < KMeans.HASH_MOD,
        s"threshold $thr saturated — the gate no longer exercises " +
          "the sampled path")
      assert(nTrain < n, s"sample $nTrain did not shrink the corpus $n")
      assert(nTrain >= 4L, "the k seed vectors must always be admitted")
    }
    // the k centroids exist with all 64 coordinates
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq ==
      (0L until 4L), "expected exactly k=4 centroids")
    assert(rows.length == 4 * 64, "expected k*dims coordinate rows")
  }
}
