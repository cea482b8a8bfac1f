package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 invariants.
  *
  * q291 (backoff n-gram serve): agrees row-for-row with an in-memory
  * multi-width referee; the matched width is provably MAXW - depth on
  * this query construction (suffixes of a stored context are stored);
  * the artifact obeys the marker lifecycle (second session serves
  * without rebuilding, stale marker forces a rebuild).
  *
  * q292 (pack APPLY): the emitted rows satisfy the trainer contract —
  * every sequence has exactly SEQ_LEN positions, segments never
  * interleave within a sequence and are numbered in document order,
  * pads sit only at the tail of the last sequence — and the emission
  * reconciles exactly with q264's plan counts and q287's cross-doc
  * attention audit.
  */
class Round13OpsSpec extends AnyFunSuite {

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

  private def gram(ts: Seq[Long]): Long =
    ts.foldLeft(0L)((a, b) => (a * 131 + b) % M)

  private implicit val vecOrd: Ordering[Vector[Long]] =
    (x: Vector[Long], y: Vector[Long]) => {
      val it = x.iterator.zip(y.iterator)
      var r = 0
      while (r == 0 && it.hasNext) {
        val (a, b) = it.next()
        r = java.lang.Long.compare(a, b)
      }
      if (r != 0) r else Integer.compare(x.length, y.length)
    }

  test("q291 agrees with an in-memory multi-width backoff referee and " +
    "matches at exactly MAXW - depth on every query") {
    assume(available(dir), s"$dir absent — skipping")
    val W = Round13Ops.MAXW
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toVector
        .map(tokHash)))
    // the multi-width store
    val cnt = scala.collection.mutable.Map.empty[(Int, Long), Long]
    val nd = scala.collection.mutable.Map.empty[(Int, Long),
      scala.collection.mutable.Set[Long]]
    val cont = scala.collection.mutable.Map.empty[(Int, Long, Long), Long]
    val a4 = scala.collection.mutable.Map.empty[Vector[Long], Long]
    docs.foreach { case (id, th) =>
      (1 to W).foreach { w =>
        (0 until th.length - w).foreach { i =>
          val g = gram(th.slice(i, i + w))
          cnt((w, g)) = cnt.getOrElse((w, g), 0L) + 1
          nd.getOrElseUpdate((w, g),
            scala.collection.mutable.Set.empty) += id
          val k = (w, g, th(i + w))
          cont(k) = cont.getOrElse(k, 0L) + 1
        }
      }
      (0 until th.length - W).foreach { i =>
        val a = th.slice(i, i + W).toVector
        a4(a) = a4.getOrElse(a, 0L) + 1
      }
    }
    val qb = a4.toSeq.sortBy { case (a, c) => (-c, a) }
      .take(Round13Ops.QB).map(_._1)
    val queries = qb.zipWithIndex.flatMap { case (a, bid) =>
      Seq((bid.toLong, 0, a), (bid.toLong + Round13Ops.QB,
        1 + bid % W, a))
    }
    val expect = queries.sortBy(_._1).map { case (qid, d, a) =>
      val widths = (1 to (W - d)).filter { w =>
        cnt.contains((w, gram(a.takeRight(w))))
      }
      if (widths.isEmpty) (qid, d.toLong, 0L, -1L, 0L, 0L, 0L, -1L, 0L)
      else {
        val mw = widths.max
        val g = gram(a.takeRight(mw))
        val c = cnt((mw, g))
        val cs = cont.collect { case ((w, gg, nxt), cc)
          if w == mw && gg == g => (nxt, cc) }.toSeq
        val bestC = cs.map(_._2).max
        val bestNxt = cs.filter(_._2 == bestC).map(_._1).min
        (qid, d.toLong, mw.toLong, g, c, nd((mw, g)).size.toLong,
          cs.length.toLong, bestNxt, 1000000L * bestC / c)
      }
    }
    val got = run("q291_backoff_ngram_serve").collect().map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("depth"),
        r.getAs[Long]("matched_w"), r.getAs[Long]("g"),
        r.getAs[Long]("cnt"), r.getAs[Long]("ndocs"),
        r.getAs[Long]("n_next"), r.getAs[Long]("top_nxt"),
        r.getAs[Long]("top_share6"))).toSeq
    assert(got == expect)
    // the construction's provable property: a stored context's suffix
    // is stored, and an unknown token kills every longer suffix — so
    // the longest match is exactly MAXW - depth (0 = total miss)
    got.foreach { r =>
      assert(r._3 == W - r._2,
        s"qid ${r._1}: matched_w ${r._3} != ${W} - depth ${r._2}")
    }
  }

  test("q291 artifact lifecycle: a fresh session (dropped memo) serves " +
    "from the on-disk store without rebuilding; a stale marker forces " +
    "the rebuild") {
    assume(available(dir), s"$dir absent — skipping")
    run("q291_backoff_ngram_serve").collect()
    val before = Round13Ops.boMemo.builds
    Round13Ops.boMemo.drop()
    val again = run("q291_backoff_ngram_serve").collect()
    assert(Round13Ops.boMemo.builds == before,
      "fresh-marker serve rebuilt the store")
    assert(again.length == 2 * Round13Ops.QB)
    val marker = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_backoffng_${VecIndex.dirDigest(dir)}", "_meta.json")
    java.nio.file.Files.writeString(marker, "{\"stale\":true}")
    Round13Ops.boMemo.drop()
    run("q291_backoff_ngram_serve").collect()
    assert(Round13Ops.boMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q292 rows satisfy the trainer contract: every sequence exactly " +
    "SEQ_LEN positions, segments contiguous and in doc order, pads " +
    "only at the tail of the last sequence") {
    assume(available(dir), s"$dir absent — skipping")
    val L = Round11Ops.SEQ_LEN
    val rows = Round13Ops.packApplyRows(spark, dir).collect().map(r =>
      (r.getAs[Long]("seq_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("tok"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("seg"), r.getAs[Long]("is_pad")))
    val bySeq = rows.groupBy(_._1)
    val nSeqs = bySeq.size.toLong
    // full sequences: every (seq, pos) present exactly once
    assert(rows.length.toLong == nSeqs * L)
    assert(rows.map(r => (r._1, r._2)).distinct.length.toLong == nSeqs * L)
    assert(bySeq.keySet == (0L until nSeqs).toSet)
    bySeq.foreach { case (seq, rs) =>
      val ordered = rs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (0L until L).toSeq)
      // pads strictly at the tail
      val firstPad = ordered.indexWhere(_._6 == 1L)
      if (firstPad >= 0)
        assert(ordered.drop(firstPad).forall(_._6 == 1L),
          s"seq $seq: pad rows not contiguous at the tail")
      // non-pad rows: docs appear in ONE contiguous run each, in
      // ascending doc order, with seg = dense run index — the
      // document-mask contract
      val content = ordered.filter(_._6 == 0L)
      val runs = content.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc, r) =>
          if (acc.nonEmpty && acc.last._1 == r._4) acc
          else acc :+ (r._4, r._5)
      }
      assert(runs.map(_._1) == runs.map(_._1).sorted,
        s"seq $seq: docs out of order")
      assert(runs.map(_._1).distinct.length == runs.length,
        s"seq $seq: a document's tokens interleave with another's")
      assert(runs.map(_._2) == runs.indices.map(_.toLong).toVector,
        s"seq $seq: segment ids are not the dense doc-run index")
      // each doc's EOS (tok = -1) is the last row of its run
      content.groupBy(_._4).foreach { case (d, drs) =>
        val eos = drs.filter(_._3 == -1L)
        if (eos.nonEmpty)
          assert(eos.head._2 == drs.map(_._2).max,
            s"seq $seq doc $d: EOS not at the end of the doc's run")
      }
    }
  }

  test("q292 artifact lifecycle: a fresh session serves the persisted " +
    "emission digest without re-emitting; a stale marker forces the " +
    "rebuild; the stored rows equal packApplyRows") {
    assume(available(dir), s"$dir absent — skipping")
    run("q292_pack_apply_masks").collect()
    val before = Round13Ops.packMemo.builds
    Round13Ops.packMemo.drop()
    run("q292_pack_apply_masks").collect()
    assert(Round13Ops.packMemo.builds == before,
      "fresh-marker serve re-emitted the packed rows")
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_packapply_${VecIndex.dirDigest(dir)}")
    // the persisted artifact is the emission itself
    val stored = spark.read.parquet(s"$root/rows").collect()
      .map(_.toSeq).toSet
    val live = Round13Ops.packApplyRows(spark, dir).collect()
      .map(_.toSeq).toSet
    assert(stored == live, "stored rows differ from the live emission")
    java.nio.file.Files.writeString(root.resolve("_meta.json"),
      "{\"stale\":true}")
    Round13Ops.packMemo.drop()
    run("q292_pack_apply_masks").collect()
    assert(Round13Ops.packMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q292 reconciles with q264's plan counts and q287's cross-doc " +
    "attention audit") {
    assume(available(dir), s"$dir absent — skipping")
    val L = Round11Ops.SEQ_LEN
    val out = run("q292_pack_apply_masks").collect()
    val star = out.filter(_.getAs[Long]("k_docs") == -1L).head
    val per = out.filter(_.getAs[Long]("k_docs") != -1L)
    // per-bucket rows sum to the '*' row
    assert(per.map(_.getAs[Long]("n_seqs")).sum ==
      star.getAs[Long]("n_seqs"))
    assert(per.map(_.getAs[Long]("n_rows")).sum ==
      star.getAs[Long]("n_rows"))
    val q264 = run("q264_concat_split_packing").collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Long]("k"),
        r.getAs[Long]("v")))
    def m264(name: String): Long =
      q264.find(_._1 == name).get._3
    // q264's plan == q292's emission: sequence count and stream length
    assert(star.getAs[Long]("n_seqs") == m264("n_seqs"))
    assert(star.getAs[Long]("n_rows") == m264("total_tokens"))
    assert(star.getAs[Long]("n_rows") + star.getAs[Long]("n_pad") ==
      m264("n_seqs") * L)
    // q287's audit == the cross-doc pair count recomputed from the
    // emitted rows' CONTENT tokens (EOS and pads excluded, as q287
    // defines spans)
    val rows = Round13Ops.packApplyRows(spark, dir).collect().map(r =>
      (r.getAs[Long]("seq_id"), r.getAs[Long]("tok"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("is_pad")))
    val cross = rows.filter(r => r._4 == 0L && r._2 != -1L)
      .groupBy(r => (r._1, r._3)).view.mapValues(_.length.toLong).toMap
      .groupBy(_._1._1).map { case (_, segs) =>
        val t = segs.values.sum
        (t * t - segs.values.map(v => v * v).sum) / 2
      }.sum
    val q287 = run("q287_pack_boundary_audit").collect()
      .filter(_.getAs[Long]("k_docs") == -1L).head
    assert(cross == q287.getAs[Long]("cross_pairs"))
  }
}
