package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Filtered, refined, diversified and Hamming serving (gates q228,
  * q230-q232 in `Ivf`) and the streamed index ingest (q229 in
  * `IndexLifecycle`), beyond the DuckDB hash compare: the filtered
  * serve honors its metadata predicate and adapts its probe width,
  * refine can only help, the per-source cap holds, the Hamming tier
  * carries signal, and the streamed ingest equals the batch ingest
  * with a sink that is idempotent under micro-batch replay. The spec
  * keeps the name these tests were first recorded under, so their
  * test ids stay the same now that the gates live in modules.
  */
class Round7MoreSpec extends AnyFunSuite {

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

  test("q228: every served row is metadata-eligible; the probe width " +
    "adapts to selectivity; the referee agrees with brute force") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q228_filtered_ann")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.length == 10)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val d = graft.Tables.table(spark, dir, "documents")
    val eligible = d.filter(col("lang") === "en")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val n = e.count()
    val ck = math.max(4L, math.floor(math.sqrt(n.toDouble)).toLong / 2)
    out.foreach { case (id, _, _, pre, post, nElig, npf) =>
      assert(eligible.contains(id),
        s"vec $id served despite failing the metadata predicate")
      assert(post <= pre,
        s"metadata filter grew the candidate set: $pre -> $post")
      assert(nElig == eligible.size.toLong,
        s"n_eligible $nElig != actual ${eligible.size}")
      // exact integer ceiling: nprobe_f = min(ck, ceil(2n / n_elig))
      val want = math.min(ck, (2 * n + nElig - 1) / nElig)
      assert(npf == want, s"nprobe_f $npf != derived $want")
      assert(npf >= 2, "filtered probe width below the unfiltered base")
    }
    // brute-force referee over the eligible corpus
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topTen = exact.filter(kv => eligible.contains(kv._1)).toSeq
      .sortBy { case (id, dd) => (-dd, id) }.take(10).map(_._1).toSet
    out.foreach { case (id, ex, inExact, _, _, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with the filtered referee")
    }
  }

  test("q230: refine can only help — hits_refined >= hits_adc; the " +
    "refined ordering is exactly the brute-force ordering of its ids") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q230_adc_refine")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(out.length == 10)
    val (hitsAdc, hitsRef) = (out.head._4, out.head._5)
    assert(hitsRef >= hitsAdc,
      s"exact re-scoring LOWERED recall: adc=$hitsAdc refined=$hitsRef")
    assert(out.count(_._3 == 1) == hitsRef,
      "in_exact flags disagree with the hits_refined count")
    // the exact column must equal an independent brute force, and the
    // output must be ordered by it
    val e = graft.Tables.table(spark, dir, "embeddings")
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, ex, _, _, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
    }
    assert(out.map(o => (-o._2, o._1)).toSeq ==
      out.map(o => (-o._2, o._1)).sortBy(identity).toSeq,
      "refined output is not exact-ordered")
  }

  test("q231: the per-source cap holds and forces diversity") {
    assume(available, s"$dir absent — skipping")
    val out = graft.SparkEntry.queries("q231_diversified_ann")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(out.length == 10)
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length <= 2, s"source $src served ${rows.length} > cap")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"source $src ranks ${rows.map(_._3).toSeq} not contiguous from 1")
    }
    assert(out.map(_._2).distinct.length >= 5,
      "10 results under a cap of 2 must span at least 5 sources")
  }

  test("q232: the Hamming tier carries signal (non-zero reranked " +
    "recall), flags agree with the referee, exact matches brute force") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q232_binary_hamming")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4)))
    assert(out.length == 10)
    val nHit = out.head._5
    assert(out.forall(_._5 == nHit))
    assert(nHit >= 1,
      "64-bit sign signatures carried no signal — the reranked top-10 " +
        "missed the entire exact top-10")
    assert(out.count(_._4 == 1).toLong == nHit,
      "in_exact flags disagree with the n_hit count")
    assert(out.forall(o => o._2 >= 0 && o._2 <= 64),
      "hamming distance outside [0, 64]")
    // exact column against an independent brute force
    val e = graft.Tables.table(spark, dir, "embeddings")
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topTen = exact.toSeq.sortBy { case (id, dd) => (-dd, id) }
      .take(10).map(_._1).toSet
    out.foreach { case (id, _, ex, inExact, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
    }
  }

  test("q229: the streaming ingest serves the identical result to the " +
    "batch ingest (q225), row for row, and really spans multiple " +
    "micro-batches") {
    assume(available, s"$dir absent — skipping")
    val stream = graft.SparkEntry.queries("q229_stream_index_ingest")(
      spark, dir).collect().toSeq
    val batch = graft.SparkEntry.queries("q225_incremental_index_ingest")(
      spark, dir).collect().toSeq
    assert(stream == batch,
      "streaming and batch ingest diverged — micro-batch split showed " +
        "through the pointwise encode")
    // maxFilesPerTrigger=1 over a 2-file source must produce at least
    // two batchId-keyed delta generations — the multi-batch path is
    // what the gate exists to exercise
    val out = new java.io.File(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_streamingest_${VecIndex.dirDigest(dir)}").toString)
    val gens = Option(out.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
    assert(gens.length >= 2,
      s"ingest ran as ${gens.length} micro-batch(es) — the multi-batch " +
        "split is not being exercised")
  }

  test("q229 sink is retry-idempotent: replaying an ingest micro-batch " +
    "leaves the delta generation unchanged") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val e = graft.Tables.table(spark, dir, "embeddings")
    val base = e.filter(col("vec_id") % 10 < 8)
    val idx = VecIndex.artifacts(spark, dir, "base", base)
    val coarse = spark.read.parquet(s"$idx/coarse")
    val cbRow = spark.read.parquet(s"$idx/pq")
    val batch = e.filter(col("vec_id") % 10 >= 8)
    val out = java.nio.file.Files
      .createTempDirectory("graft_ingest_replay").toString
    IndexLifecycle.ingestBatch(coarse, cbRow, out)(batch, 3L)
    val first = spark.read.parquet(s"$out/b3").collect()
      .map(_.toString).sorted.toSeq
    IndexLifecycle.ingestBatch(coarse, cbRow, out)(batch, 3L) // the retry
    val second = spark.read.parquet(s"$out/b3").collect()
      .map(_.toString).sorted.toSeq
    assert(first.nonEmpty && first == second,
      "replayed ingest batch changed the delta — sink is not idempotent")
  }
}
