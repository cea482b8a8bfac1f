package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The vector codegen kernels must agree EXACTLY with the HOF
  * expression shapes they replace (Pq.intDot's zip_with/aggregate
  * fold, KMeans.dotFold's IEEE double fold, the per-subspace PQ
  * encode argmax and the ADC-from-codes sum) — cost optimizations,
  * never semantic changes. The HOF originals are inlined verbatim.
  */
class VecKernelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Functions.install(s)
    s
  }

  private val M = 4
  private val SUB = 16

  private def hofIntDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), " +
      "(acc, v) -> acc + v)"

  private def hofDoubleDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * " +
      "CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  private def hofCode(m: Int): String =
    s"-array_max(transform(filter(cbs, c -> c.sub = $m), " +
      s"c -> struct(${hofIntDot(s"slice(sv, ${m * SUB + 1}, $SUB)",
        "c.cs")} AS d, -c.cid AS nc))).nc"

  private def hofAdc: String =
    (0 until M).map { m =>
      hofIntDot(s"slice(qs, ${m * SUB + 1}, $SUB)",
        s"element_at(filter(cbs, c -> c.sub = $m AND c.cid = c$m), 1).cs")
    }.mkString("(", ") + (", ")")

  // deterministic fixed-point-ish vectors; includes ties (cs repeats)
  private def vecsDf = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 300).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextInt(1200001) - 600000).toLong))
    }.toDF("vec_id", "sv")
  }

  /** `mismatched` adds codebook entries whose cs length is not SUB: their
    * subspace dot is null (pq_encode's null-d branch), and in subspace
    * M-1 EVERY cs mismatches (the all-null-d tiebreak: smallest cid).
    * Those entries come in descending cid order, so the kernel's
    * min-cid updates run too.
    */
  private def cbsDf(mismatched: Boolean = false) = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val entries = for (m <- 0 until M; k <- 0 until 8) yield
      (m, k.toLong,
        if (k == 7) Seq.fill(SUB)(0L) // duplicate-distance tie bait
        else Seq.fill(SUB)((rnd.nextInt(1200001) - 600000).toLong))
    if (!mismatched)
      entries.toDF("sub", "cid", "cs")
        .agg(expr("array_sort(collect_list(struct(sub, cid, cs)))").as("cbs"))
    else {
      val r2 = new scala.util.Random(17)
      def vec(n: Int) = Seq.fill(n)((r2.nextInt(1200001) - 600000).toLong)
      val allNull = entries.map { case (m, k, cs) =>
        if (m == M - 1) (m, k, cs.take(SUB - 1 - (k % 3).toInt)) else (m, k, cs)
      }
      val extra = (0 until M - 1).flatMap(m => Seq(
        (m, 8L, vec(SUB - 3)), (m, 9L, vec(SUB + 2)), (m, 10L, Seq.empty[Long])))
      (allNull ++ extra).toDF("sub", "cid", "cs")
        .agg(expr("reverse(array_sort(collect_list(struct(sub, cid, cs))))")
          .as("cbs"))
    }
  }

  test("int_dot == HOF zip_with/aggregate fold (incl. length mismatch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val d = (0 until 200).map { i =>
      (Seq.fill(8 + i % 3)(rnd.nextLong() % 1000000L),
        Seq.fill(8 + (i + 1) % 3)(rnd.nextLong() % 1000000L))
    }.toDF("a", "b")
      .select(expr(hofIntDot("a", "b")).as("old"),
        expr("int_dot(a, b)").as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("double_dot == HOF IEEE fold on float x long arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val d = (0 until 200).map { _ =>
      (Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextLong() % 3000L))
    }.toDF("e", "cs")
      .select(expr(hofDoubleDot("e", "cs")).as("old"),
        expr("double_dot(e, cs)").as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("pq_encode == HOF per-subspace argmax chain (with ties)") {
    for (mismatched <- Seq(false, true)) {
      val d = vecsDf.crossJoin(cbsDf(mismatched))
        .select((0 until M).map(m => expr(hofCode(m)).as(s"o$m")) ++
          (0 until M).map(m =>
            element_at(expr("pq_encode(sv, cbs)"), m + 1).as(s"n$m")): _*)
      val bad = (0 until M).map(m => s"o$m IS DISTINCT FROM n$m")
        .mkString(" OR ")
      assert(d.filter(bad).count() === 0, s"mismatched=$mismatched")
    }
  }

  test("adc_codes == HOF ADC sum over stored codes") {
    val cols = Seq(col("vec_id"), col("sv").as("qs"), col("cbs")) ++
      (0 until M).map(m =>
        element_at(expr("pq_encode(sv, cbs)"), m + 1).as(s"c$m"))
    val coded = vecsDf.crossJoin(cbsDf()).select(cols: _*)
    val d = coded.select(expr(hofAdc).as("old"),
      expr(s"adc_codes(qs, cbs, array(${(0 until M).map(m => s"c$m")
        .mkString(", ")}))").as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }
}
