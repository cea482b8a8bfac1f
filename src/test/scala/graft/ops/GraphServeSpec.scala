package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Graph-serve invariants beyond the DuckDB hash compare: the HNSW+PQ
  * serve ranks hops by stored-code ADC yet agrees with an independent
  * exact brute force on its referee columns and returns a well-formed,
  * deterministic top-10; the filtered graph serve honors its predicate;
  * both rank-mode curves respect their visited bounds; the streamed
  * serve is a well-formed split-invariant per-query top-10.
  */
class GraphServeSpec extends AnyFunSuite {

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

  test("q241: full top-10, exact-descending order, distinct ids, and " +
    "in_exact flags that agree with an independent brute force") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("q241_graph_pq_serve")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.length == 10, "HNSW+PQ serve must return a full top-10")
    assert(rows.map(_._1).distinct.length == 10, "ids must be distinct")
    assert(!rows.exists(_._1 == 0L), "the query must never serve itself")
    // output ordered by exact desc, id asc (the refine stage's order)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._3 > b._3 || (a._3 == b._3 && a._1 < b._1) })
    // referee agreement with an independently computed exact top-10
    val e = graft.Tables.table(spark, dir, "embeddings")
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exactTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        "aggregate(zip_with(" + scaled + ", qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (a, v) -> a + v)").as("ex"))
      .orderBy(col("ex").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, _, _, inExact) =>
      assert((inExact == 1) == exactTop.contains(id),
        s"in_exact flag wrong for vec $id")
    }
    // the ADC ranking is an approximation, but the exact refine must
    // recover at least one true neighbour for the gate to mean anything
    assert(rows.count(_._4 == 1) >= 1,
      "ADC-ranked beam recovered none of the exact top-10")
  }

  test("q241 is deterministic across executions (persisted artifacts " +
    "+ integer ADC: a re-run serves the identical rows)") {
    assume(available, s"$dir absent — skipping")
    val a = graft.SparkEntry.queries("q241_graph_pq_serve")(spark, dir)
      .collect().toSeq
    val b = graft.SparkEntry.queries("q241_graph_pq_serve")(spark, dir)
      .collect().toSeq
    assert(a == b, "re-run diverged")
  }

  test("q242: every served id satisfies the metadata predicate, the " +
    "eligible-visited count is bounded by the visited count, and the " +
    "widened-beam visited set stays corpus-size-independent") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry
      .queries("q242_filtered_graph_ann")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 10)
    val eligible = graft.Tables.table(spark, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, _, _, nv, ne) =>
      assert(eligible.contains(id), s"served ineligible doc $id")
      assert(ne <= nv, "eligible-visited exceeds visited")
      // entries (<= NPROBE cells) + HOPS * FW(8) * DEG neighbours
      assert(nv <= 2 + 3 * 8 * 6, s"visited $nv exceeds the FW bound")
    }
  }

  test("q243: exactly the two ranking modes, visited sets bounded, " +
    "recall counted out of the brute-force top-10") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q243_graph_rank_mode_curve")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("adc", "exact"))
    rows.foreach { case (mode, nv, nh) =>
      assert(nv > 0 && nv <= 2 + 3 * 4 * 6,
        s"$mode visited $nv out of bounds")
      assert(nh >= 0 && nh <= 10, s"$mode n_hit $nh out of range")
    }
  }

  test("q246: per-query ADC-served top-10s — 8 queries, dense ranks, " +
    "no self-serves, deterministic across executions") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q246_stream_graph_pq_serve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until Round7Final.QB).toSet,
      s"expected all ${Round7Final.QB} query ids, got ${byQ.keySet}")
    byQ.foreach { case (qid, rs) =>
      assert(rs.length == 10, s"qid $qid: expected a full top-10")
      assert(rs.map(_._2).sorted.toSeq == (1L to 10L),
        s"qid $qid: ranks must be dense 1..10")
      assert(!rs.exists(_._3 == qid),
        s"qid $qid: the query must never serve itself")
      // ranks follow exact score desc, id asc
      val inOrder = rs.sortBy(_._2)
      assert(inOrder.sliding(2).forall { case Array(a, b) =>
        a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
      }, s"qid $qid: rank order violates (exact desc, vec_id asc)")
    }
    val again = graft.SparkEntry
      .queries("q246_stream_graph_pq_serve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq, "streaming re-run diverged")
  }

  test("q247: exactly the two ranking modes, batch visited sets " +
    "bounded by QB*(NPROBE + HOPS*BEAM*DEG), recall counted in 1/80 " +
    "steps out of the per-query brute-force top-10s") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q247_batch_rank_mode_curve")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("adc", "exact"))
    val slots = Round7Final.QB * 10
    val bound = Round7Final.QB * (2 + 3 * 4 * 6)
    rows.foreach { case (mode, nv, nh, rec) =>
      assert(nv > 0 && nv <= bound, s"$mode visited $nv out of bounds")
      assert(nh >= 0 && nh <= slots, s"$mode n_hit $nh out of range")
      assert(rec == nh.toDouble / slots, s"$mode recall != n_hit/$slots")
    }
  }
}
