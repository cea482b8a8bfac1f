package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-13 verdict's staleness gap, closed and locked: the
  * vector/graph artifact memos must re-validate on EVERY call, so an
  * in-session rewrite of the embeddings table rebuilds the served
  * index instead of serving stale — WITHOUT any test hook dropping the
  * in-JVM memo (that is exactly the path a long-lived session takes).
  */
class VecIndexStalenessSpec extends AnyFunSuite {

  private val src = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(src, "embeddings.parquet").exists()

  /** Copy the sf0.001 tables into a fresh scratch data dir the test
    * may rewrite (never touch /root/testdata itself).
    */
  private def cloneCorpus(): String = {
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_stale_").toString
    graft.Tables.names.foreach { n =>
      val from = java.nio.file.Paths.get(src, s"$n.parquet")
      if (java.nio.file.Files.isRegularFile(from))
        java.nio.file.Files.copy(from,
          java.nio.file.Paths.get(scratch, s"$n.parquet"))
      else {
        // partitioned table dir: copy files one level deep
        val dst = java.nio.file.Paths.get(scratch, s"$n.parquet")
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.list(from).forEach { f =>
          if (java.nio.file.Files.isRegularFile(f))
            java.nio.file.Files.copy(f, dst.resolve(f.getFileName))
        }
      }
    }
    scratch
  }

  /** Re-point the session catalog at `dir` with a FRESH file listing
    * (temp views snapshot their file index at registration; after an
    * on-disk rewrite a session re-resolves the catalog — this test is
    * about the ARTIFACT memo layer, not view staleness).
    */
  private def repoint(dir: String): Unit = {
    graft.Tables.registerAll(spark, src)
    graft.Tables.registerAll(spark, dir)
  }

  test("in-session embeddings rewrite rebuilds the IVF-PQ index, the " +
    "residual index, and the kNN graph — no memo drop, no fresh JVM") {
    assume(available, s"$src absent — skipping")
    val scratch = cloneCorpus()
    try {
      repoint(scratch)
      val e1 = graft.Tables.table(spark, scratch, "embeddings")
      val root = VecIndex.artifacts(spark, scratch, "full", e1)
      VecIndex.residArtifacts(spark, scratch, e1)
      Round7Final.graphArtifacts(spark, scratch)
      val (b1, g1) = (VecIndex.memo.builds, Round7Final.graphs.builds)
      // unchanged corpus: every tier serves, none rebuilds
      VecIndex.artifacts(spark, scratch, "full", e1)
      VecIndex.residArtifacts(spark, scratch, e1)
      Round7Final.graphArtifacts(spark, scratch)
      assert(VecIndex.memo.builds == b1 && Round7Final.graphs.builds == g1,
        "unchanged corpus was rebuilt instead of served")
      // REWRITE the embeddings table in-session: drop the odd half
      graft.Tables.load(spark, src, "embeddings")
        .filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite")
        .parquet(s"$scratch/embeddings.parquet")
      repoint(scratch)
      val e2 = graft.Tables.table(spark, scratch, "embeddings")
      val root2 = VecIndex.artifacts(spark, scratch, "full", e2)
      assert(root2 == root, "artifact root must stay deterministic")
      assert(VecIndex.memo.builds == b1 + 1,
        "in-session embeddings rewrite served a STALE IVF-PQ index")
      VecIndex.residArtifacts(spark, scratch, e2)
      assert(VecIndex.memo.builds == b1 + 2,
        "in-session embeddings rewrite served a STALE residual index")
      Round7Final.graphArtifacts(spark, scratch)
      assert(Round7Final.graphs.builds == g1 + 1,
        "in-session embeddings rewrite served a STALE kNN graph")
      // and the rebuilt index really is the new corpus: codes cover
      // exactly the surviving vec_ids
      val n2 = e2.count()
      assert(VecIndex.readCodes(spark, root2)
        .select(col("vec_id")).distinct().count() == n2)
    } finally {
      val d = VecIndex.dirDigest(scratch)
      Seq(s"graft_vecidx_${d}_full", s"graft_vecidx_${d}_resid",
        s"graft_knngraph_$d").foreach(n =>
        ArtifactStore.deleteRecursive(ArtifactStore.root(n)))
      ArtifactStore.deleteRecursive(scratch)
      graft.Tables.registerAll(spark, src)
    }
  }

  test("a referee whose root was deleted under a live JVM is rebuilt, " +
    "not read from a missing path (q229's codes_ref_union)") {
    val root =
      java.nio.file.Files.createTempDirectory("graft_referee_").toString
    try {
      val rows = spark.range(20)
        .select(col("id").as("src"), (col("id") * 7 % 20).as("dst"))
      def codes() = Round7Ops.persistedCodes(spark, root,
          "codes_ref_union", "m1")(rows)
        .orderBy("src").collect().toSeq
      def edges() = Round7Final.persistedEdges(spark, root,
          "edges_full", "m1", 4L)(rows)
        .select("src", "dst").orderBy("src").collect().toSeq
      val (c1, e1) = (codes(), edges())
      val (rc, re) = (Round7Ops.referees.builds, Round7Final.referees.builds)
      assert(codes() == c1 && edges() == e1)
      assert(Round7Ops.referees.builds == rc &&
        Round7Final.referees.builds == re, "an intact referee was rebuilt")
      ArtifactStore.deleteRecursive(root)
      assert(codes() == c1, "rebuilt referee codes differ")
      assert(edges() == e1, "rebuilt referee edges differ")
      assert(Round7Ops.referees.builds == rc + 1 &&
        Round7Final.referees.builds == re + 1,
        "a deleted referee root was not rebuilt exactly once")
    } finally ArtifactStore.deleteRecursive(root)
  }
}
