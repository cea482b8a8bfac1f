package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 gate invariants beyond the DuckDB hash compare: the ingest
  * gate's equality proof must really be zero-delta and the delta
  * artifact must hold exactly the new batch; the batch probe curve must
  * ride the log grid, stay monotone, and self-check to exact recall at
  * full probe; the delete/compact gate must scrub every tombstoned doc
  * from both the served output and the compacted artifact.
  */
class Round7OpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  test("q225: ingest equals rebuild (zero row/fingerprint delta), " +
    "serving stays probe-bounded, referee flags are consistent") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q225_incremental_index_ingest")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.length == 10)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val n = e.count()
    val nNew = e.filter(col("vec_id") % 10 >= 8).count()
    out.foreach { case (_, _, _, nCand, nn, rowsDelta, fpDelta) =>
      assert(rowsDelta == 0L,
        s"ingested index row count differs from rebuild by $rowsDelta")
      assert(fpDelta == 0L,
        s"ingested index fingerprint differs from rebuild by $fpDelta")
      assert(nn == nNew, s"n_new $nn != actual new-batch size $nNew")
      assert(nCand > 10 && nCand < n - 1,
        s"probe bound broken: n_cand=$nCand of ${n - 1}")
    }
    // exact column + in_exact flag against an independent brute force
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topTen = exact.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(10).map(_._1).toSet
    out.foreach { case (id, ex, inExact, _, _, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
    }
  }

  test("q225: the delta artifact holds exactly the new batch; base " +
    "codes are untouched by ingest") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    // run the gate so the delta generation exists, then inspect the
    // artifact files directly
    graft.SparkEntry.queries("q225_incremental_index_ingest")(spark, dir)
      .collect()
    val e = graft.Tables.table(spark, dir, "embeddings")
    val base = e.filter(col("vec_id") % 10 < 8)
    val idx = VecIndex.artifacts(spark, dir, "base", base)
    val codes = spark.read.parquet(s"$idx/codes")
    val delta = spark.read.parquet(s"$idx/codes_delta")
    assert(codes.count() == base.count(),
      "base codes artifact no longer matches the base corpus — ingest " +
        "must not rewrite the existing generation")
    assert(delta.count() == e.count() - base.count(),
      "delta generation does not hold exactly the new batch")
    assert(delta.filter(col("vec_id") % 10 < 8).count() == 0,
      "delta generation contains base vectors")
    assert(codes.columns.sorted.toSeq == delta.columns.sorted.toSeq,
      "delta schema diverged from the codes artifact schema")
  }

  test("q226: batch curve rides the log grid, is monotone, and full " +
    "probe recovers exact recall for every query") {
    assume(available, s"$dir absent — skipping")
    val out = graft.SparkEntry.queries("q226_batch_probe_curve")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val n = graft.Tables.table(spark, dir, "embeddings").count()
    val ck = math.max(4L, math.floor(math.sqrt(n.toDouble)).toLong / 2)
    val grid = (0 to 30).map(g => math.min(1L << g, ck)).distinct.sorted
    assert(out.map(_._1).toSeq == grid,
      s"levels ${out.map(_._1).toSeq} != expected grid $grid")
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"n_cand decreased at nprobe=${b._1}")
      assert(b._3 >= a._3, s"hits decreased at nprobe=${b._1}")
    }
    val first = out.head
    assert(first._3 > 0 && first._3 < 320,
      s"nprobe=1 hits ${first._3}: the curve carries no tuning signal")
    val last = out.last
    assert(last._2 == 32L * (n - 1),
      s"full probe candidates ${last._2} != 32*(n-1) = ${32L * (n - 1)}")
    assert(last._3 == 320L && last._4 == 1.0,
      "full probe must recover exact recall@10 for all 32 queries")
  }

  test("VecIndex: a second session serves from the pre-existing " +
    "artifacts without rebuilding; a stale marker forces a rebuild") {
    assume(available, s"$dir absent — skipping")
    val e = graft.Tables.table(spark, dir, "embeddings")
    val idx1 = VecIndex.artifacts(spark, dir, "full", e)
    val b0 = VecIndex.memo.builds
    // "new session": the in-JVM registry is gone, the files remain
    VecIndex.memo.drop()
    val idx2 = VecIndex.artifacts(spark, dir, "full", e)
    assert(idx2 == idx1, "artifact path is not deterministic")
    assert(VecIndex.memo.builds == b0,
      "second session rebuilt the index instead of serving from the " +
        "pre-existing artifacts (marker check failed)")
    // a stale/missing marker must NOT be trusted: the build re-runs
    VecIndex.memo.drop()
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(idx1, "_meta.json"))
    VecIndex.artifacts(spark, dir, "full", e)
    assert(VecIndex.memo.builds == b0 + 1,
      "missing marker did not force a rebuild — a crashed half-build " +
        "would be trusted")
  }

  test("q227: tombstoned docs appear nowhere (output or compacted " +
    "artifact); compaction matches the fresh encode exactly") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q227_index_delete_compact")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.length == 10)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val nTombTrue = e.filter(col("vec_id") % 7 === 3).count()
    out.foreach { case (id, _, _, _, nTomb, rowsDelta, fpDelta) =>
      assert(id % 7 != 3, s"tombstoned vec $id served from the index")
      assert(rowsDelta == 0L && fpDelta == 0L,
        s"compacted generation differs from fresh encode: " +
          s"rows_delta=$rowsDelta fp_delta=$fpDelta")
      assert(nTomb == nTombTrue, s"n_tomb $nTomb != actual $nTombTrue")
    }
    // the compacted artifact itself must be scrubbed
    val idx = VecIndex.artifacts(spark, dir, "full", e)
    val v2 = spark.read.parquet(s"$idx/codes_v2")
    assert(v2.filter(col("vec_id") % 7 === 3).count() == 0,
      "compacted codes generation still contains tombstoned docs")
    assert(v2.count() == e.count() - nTombTrue,
      "compacted generation row count != surviving corpus size")
    // in_exact referee over the SURVIVING corpus
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 3)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topTen = exact.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(10).map(_._1).toSet
    out.foreach { case (id, ex, inExact, _, _, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
    }
  }
}
