package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 serve/plan/audit invariants: the n-gram store must obey the
  * marker lifecycle and agree with an in-memory referee; the epoch-mix
  * plan must conserve the budget exactly with both branches exercised;
  * the pack boundary audit must equal an independent sequential
  * simulation of the concat-split stream.
  */
class Round12ServeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val M = 1000000007L

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  private def tokHash(t: String): Long =
    t.foldLeft(7L)((a, c) => (a * 131 + c.toLong) % M)

  test("q285 matches an in-memory trigram-continuation referee row for " +
    "row (counts, doc frequency, argmax next token and its share)") {
    assume(available(dir), s"$dir absent — skipping")
    val W = Round12Serve.CTX_W
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toVector
        .map(tokHash)))
    val cnt = scala.collection.mutable.Map.empty[Long, Long]
    val nd = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Long]]
    val cont = scala.collection.mutable.Map.empty[(Long, Long), Long]
    docs.foreach { case (id, th) =>
      (0 until th.length - W).foreach { i =>
        val g = th.slice(i, i + W).foldLeft(0L)((a, b) =>
          (a * 131 + b) % M)
        cnt(g) = cnt.getOrElse(g, 0L) + 1
        nd.getOrElseUpdate(g, scala.collection.mutable.Set.empty) += id
        cont((g, th(i + W))) = cont.getOrElse((g, th(i + W)), 0L) + 1
      }
    }
    val top = cnt.toSeq.sortBy { case (g, c) => (-c, g) }
      .take(Round12Serve.QN)
    val expect = top.map { case (g, c) =>
      val cs = cont.collect { case ((gg, nxt), cc) if gg == g =>
        (nxt, cc) }.toSeq
      val (bestNxt, bestC) = cs.minBy { case (nxt, cc) => (-cc, nxt) }
      (g, c, nd(g).size.toLong, cs.length.toLong, bestNxt,
        1000000L * bestC / c)
    }
    val got = run("q285_ngram_lm_serve").collect().map(r =>
      (r.getAs[Long]("g"), r.getAs[Long]("cnt"), r.getAs[Long]("ndocs"),
        r.getAs[Long]("n_next"), r.getAs[Long]("top_nxt"),
        r.getAs[Long]("top_share6"))).toSeq
    assert(got == expect)
  }

  test("q285 artifact lifecycle: a fresh session (dropped memo) serves " +
    "from the on-disk store without rebuilding; a stale marker forces " +
    "the rebuild") {
    assume(available(dir), s"$dir absent — skipping")
    run("q285_ngram_lm_serve").collect()
    val before = Round12Serve.ngramMemo.builds
    Round12Serve.ngramMemo.drop()
    val again = run("q285_ngram_lm_serve").collect()
    assert(Round12Serve.ngramMemo.builds == before,
      "fresh-marker serve rebuilt the store")
    assert(again.length > 0)
    // corrupt the marker -> next session must rebuild
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_ngramlm_${VecIndex.dirDigest(dir)}", "_meta.json")
    java.nio.file.Files.writeString(root, "{\"stale\":true}")
    Round12Serve.ngramMemo.drop()
    run("q285_ngram_lm_serve").collect()
    assert(Round12Serve.ngramMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q286 conserves the budget exactly, caps exactly, and exercises " +
    "both branches") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = run("q286_epoch_mix_plan").collect()
    val star = rows.filter(_.getAs[String]("lang") == "*").head
    val per = rows.filter(_.getAs[String]("lang") != "*")
    val corpus = per.map(_.getAs[Long]("ntk")).sum
    val budget = Round12Serve.BUDGET_NUM * corpus / Round12Serve.BUDGET_DEN
    // conservation: largest-remainder + one redistribution round is
    // EXACT — no token of the budget is lost or invented
    assert(per.map(_.getAs[Long]("target_tk")).sum == budget)
    assert(star.getAs[Long]("target_tk") == budget)
    assert(star.getAs[Long]("ntk") == corpus)
    val (capped, uncapped) = per.partition(_.getAs[Long]("capped") == 1L)
    assert(capped.nonEmpty && uncapped.nonEmpty,
      "the gate degenerated: one branch is no longer exercised")
    capped.foreach { r =>
      assert(r.getAs[Long]("target_tk") ==
        r.getAs[Long]("ntk") * Round12Serve.CAP_MILLI / 1000,
        s"${r.getAs[String]("lang")}: capped stratum not exactly at cap")
      assert(r.getAs[Long]("target0") > r.getAs[Long]("target_tk"))
    }
    // uncapped strata only RECEIVE in the redistribution round
    uncapped.foreach { r =>
      assert(r.getAs[Long]("target_tk") >= r.getAs[Long]("target0"))
    }
  }

  test("q287 equals a sequential simulation of the packed stream, and " +
    "single-doc sequences have zero cross pairs") {
    assume(available(dir), s"$dir absent — skipping")
    val L = Round11Ops.SEQ_LEN
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").length.toLong))
      .sortBy(_._1)
    var st = 0L
    val per = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    docs.foreach { case (_, ntk) =>
      (st / L to (st + ntk - 1) / L).foreach { seq =>
        val seg = math.min((seq + 1) * L, st + ntk) - math.max(seq * L, st)
        val (n, t, s2) = per.getOrElse(seq, (0L, 0L, 0L))
        per(seq) = (n + 1, t + seg, s2 + seg * seg)
      }
      st += ntk + 1
    }
    val crosses = per.values.map { case (n, t, s2) =>
      (n, (t * t - s2) / 2) }.toSeq
    val expect = crosses.groupBy(_._1).map { case (k, vs) =>
      (k, vs.length.toLong, vs.map(_._2).sum, vs.map(_._2).max)
    }.toSeq.sortBy(_._1) :+
      ((-1L, crosses.length.toLong, crosses.map(_._2).sum,
        crosses.map(_._2).max))
    val got = run("q287_pack_boundary_audit").collect().map(r =>
      (r.getAs[Long]("k_docs"), r.getAs[Long]("n_seqs"),
        r.getAs[Long]("cross_pairs"), r.getAs[Long]("max_cross")))
      .sortBy(_._1).toSeq
    assert(got == expect.sortBy(_._1))
    got.filter(_._1 == 1L).foreach { case (_, _, cp, mx) =>
      assert(cp == 0L && mx == 0L,
        "a single-doc sequence reported cross-doc pairs")
    }
  }
}
