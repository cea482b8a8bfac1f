package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 invariants beyond the DuckDB hash compare: packing
  * conservation laws, the LSH curve's superset-chain monotonicity, the
  * decontamination split arithmetic, and the repetition filter's tally
  * consistency.
  */
class Round11OpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q264: packing conserves tokens, docs and sequence counts") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q264_concat_split_packing")(spark, dir).collect()
    val m = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def metric(name: String): Long =
      m.collect { case (`name`, -1L, v) => v }.head
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    val nTok = docs
      .selectExpr("sum(size(split(text, ' ')))").head().getLong(0)
    assert(metric("n_docs") == nDocs)
    // every doc contributes its tokens + one EOS
    assert(metric("total_tokens") == nTok + nDocs)
    assert(metric("n_seqs") == (metric("total_tokens") + 127) / 128)
    assert(metric("n_split_docs") <= nDocs)
    // the histogram covers every sequence except possibly one final
    // EOS-only sequence (a doc whose content ends exactly on a boundary)
    val histSeqs = m.collect {
      case ("seqs_with_docs", k, v) => assert(k >= 1); v
    }.sum
    assert(histSeqs == metric("n_seqs") || histSeqs == metric("n_seqs") - 1)
    // docs-per-sequence is bounded: a 128-token window can touch at
    // most 128/(minDocLen+1) + 1 docs; min doc length in testdata is 10
    m.collect { case ("seqs_with_docs", k, _) => k }
      .foreach(k => assert(k <= 128 / 11 + 1))
  }

  test("q265: coarser bandings are candidate supersets — counts and " +
    "recall rise monotonically, precision never beats exactness") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q265_lsh_tuning_curve")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_._1) // b1r8, b2r4, b4r2, b8r1 = increasing bands
    assert(rows.map(_._1).toSeq ==
      Seq("b1r8", "b2r4", "b4r2", "b8r1"))
    rows.foreach { case (_, cand, tp, truth, prec6, rec6) =>
      assert(tp <= cand, "true positives bounded by candidates")
      assert(tp <= truth, "true positives bounded by truth")
      assert(prec6 <= 1000000L && rec6 <= 1000000L)
    }
    // full-signature agreement implies half-band agreement implies
    // pair-band agreement implies slot agreement: a strict chain
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"candidates must grow: ${a._1} -> ${b._1}")
      assert(a._3 <= b._3, s"tp must grow: ${a._1} -> ${b._1}")
      assert(a._6 <= b._6, s"recall must grow: ${a._1} -> ${b._1}")
    }
    // all configs measure against the SAME truth
    assert(rows.map(_._4).distinct.length == 1)
  }

  test("q265 artifact lifecycle: a fresh session reads the persisted " +
    "signature frames without rebuilding; a stale marker forces the " +
    "rebuild") {
    assume(available(dir), s"$dir absent — skipping")
    graft.SparkEntry.queries("q265_lsh_tuning_curve")(spark, dir).collect()
    val before = Round11Ops.lshMemo.builds
    Round11Ops.lshMemo.drop()
    graft.SparkEntry.queries("q265_lsh_tuning_curve")(spark, dir).collect()
    assert(Round11Ops.lshMemo.builds == before,
      "fresh-marker run rebuilt the signature frames")
    val marker = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_lshcurve_${VecIndex.dirDigest(dir)}", "_meta.json")
    java.nio.file.Files.writeString(marker, "{\"stale\":true}")
    Round11Ops.lshMemo.drop()
    graft.SparkEntry.queries("q265_lsh_tuning_curve")(spark, dir).collect()
    assert(Round11Ops.lshMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q266: the benchmark slice is excluded from the training side " +
    "and the '*' row is the per-source sum") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q266_benchmark_decontamination")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val (tot, per) = rows.partition(_._1 == "*")
    assert(tot.length == 1)
    assert(tot.head._2 == per.map(_._2).sum, "n_train sums to '*'")
    assert(tot.head._3 == per.map(_._3).sum, "n_contam sums to '*'")
    assert(tot.head._4 == per.map(_._4).sum, "id-sum sums to '*'")
    // benchmark membership is the round-12 fixed-count Knuth-hash slice
    // (corpus-size-independent: ~64 docs at every SF)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = math.max(docs.count(), 1L)
    val thr = math.min(1048576L, (1048576L * 64L + n - 1) / n)
    val expectedTrain = docs.where(
      s"((doc_id % 1048576) * 2654435761) % 1048576 >= $thr AND " +
        "size(split(text, ' ')) >= 10").count()
    assert(tot.head._2 == expectedTrain,
      "training side = non-benchmark docs with >= 10 tokens")
    val benchDocs = n - docs.where(
      s"((doc_id % 1048576) * 2654435761) % 1048576 >= $thr").count()
    assert(benchDocs >= 32 && benchDocs <= 128,
      s"the benchmark slice is ~64 docs regardless of corpus size " +
        s"(got $benchDocs)")
    per.foreach { case (_, train, contam, idSum) =>
      assert(contam <= train)
      assert((contam == 0) == (idSum == 0))
    }
  }

  test("q267: per-source tallies are consistent (pass + fails cover " +
    "the docs, with overlap only between the two fail rules)") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q267_repetition_filter")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ft, fd, pass) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(pass >= n - ft - fd, "overlapping fails can't over-subtract")
      assert(pass <= n - math.max(ft, fd), "a failing doc never passes")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 2000000L,
        "mean top-bigram coverage is a sane fixed-point fraction")
    }
  }
}
