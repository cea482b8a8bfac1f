package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Property check of q193's winnowing guarantee (Schleimer et al.,
  * "Winnowing: Local Algorithms for Document Fingerprinting"): with
  * shingle size k=3 and window w=4, ANY shared run of at least
  * w + k - 1 = 6 tokens between two documents must put at least one
  * common hash value into both documents' selected fingerprint sets.
  * That local-similarity guarantee — not the per-doc digest — is what
  * makes winnowing usable as a near-dup blocking key at 100 TB, so it
  * is asserted directly here on adversarial synthetic pairs, plus the
  * ~2/(w+1) density bound that keeps the fingerprint index small.
  */
class WinnowingPropSpec extends AnyFunSuite {

  // winnowKeys runs on frames that never pass through Tables, so the
  // spec installs the function catalog (char_fold) itself
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.Functions.install(s)
    s
  }

  /** doc_id -> set of selected fingerprint HASHES (position stripped). */
  private def fingerprints(docs: Seq[(Long, String)]): Map[Long, Set[Long]] = {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    Round4Final.winnowKeys(df)
      .select($"doc_id", $"keys")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Long](1).map(_ / 1048576L).toSet)
      .toMap
  }

  private def randTokens(rnd: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)("t" + rnd.nextInt(30))

  test("any shared 6-token run yields a shared fingerprint (100 seeded pairs)") {
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 100).map { i =>
      val a = randTokens(rnd, 8 + rnd.nextInt(40))
      // copy a random 6..10-token run of A into a fresh doc B
      val runLen = 6 + rnd.nextInt(5)
      val start = rnd.nextInt(a.length - math.min(runLen, a.length - 1))
      val run = a.slice(start, math.min(start + runLen, a.length))
        .padTo(6, "t0") // degenerate slice near the tail still ≥ 6 tokens
      val b = randTokens(rnd, rnd.nextInt(15)) ++ run ++
        randTokens(rnd, rnd.nextInt(15))
      (i, a.mkString(" "), b.mkString(" "))
    }
    val docs = pairs.flatMap { case (i, a, b) =>
      Seq((2L * i, a), (2L * i + 1, b)) }
    val fp = fingerprints(docs)
    pairs.foreach { case (i, _, _) =>
      val shared = fp(2L * i).intersect(fp(2L * i + 1))
      assert(shared.nonEmpty,
        s"pair $i: documents share a >=6-token run but no fingerprint — " +
          "the winnowing guarantee is broken")
    }
  }

  test("identical documents select identical fingerprint sets") {
    val rnd = new scala.util.Random(7)
    val t = randTokens(rnd, 50).mkString(" ")
    val fp = fingerprints(Seq((0L, t), (1L, t)))
    assert(fp(0L) == fp(1L))
  }

  test("fingerprint density stays near 2/(w+1) of shingles") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 20).map(i =>
      (i.toLong, randTokens(rnd, 100 + rnd.nextInt(200)).mkString(" ")))
    import spark.implicits._
    val rows = Round4Final.winnowKeys(docs.toDF("doc_id", "text"))
      .select($"m", org.apache.spark.sql.functions.size($"keys"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    rows.foreach { case (m, nFp) =>
      val density = nFp.toDouble / m
      // expectation is 2/(w+1) = 0.4 on random input; allow wide noise
      // but fail on the two broken regimes: selecting every window
      // (no dedup, density ~1) or collapsing to a constant few
      assert(density > 0.15 && density < 0.7,
        s"fingerprint density $density is outside the winnowing regime")
    }
  }
}
