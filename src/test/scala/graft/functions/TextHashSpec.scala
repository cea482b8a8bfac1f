package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen text-hash kernels must agree EXACTLY with the HOF
  * expression shapes they replace (Dedup.sparkTokenHashes,
  * Round11Ops.sparkPosTokenHashes, Round12Ops.sparkPosGrams, the
  * q47/q238 MinHash signature) — they are cost optimizations, never
  * semantic changes. The HOF originals are inlined here verbatim so a
  * drift in either side fails the comparison.
  */
class TextHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val M = 1000000007L

  private val hofPosTokenHashes =
    "transform(split(text, ' '), " +
      "t -> aggregate(transform(filter(split(t, ''), c -> c != ''), " +
      s"c -> CAST(ascii(c) AS BIGINT)), 7L, (a, b) -> (a * 131 + b) % $M))"

  private val hofDistinctTokenHashes =
    "transform(array_distinct(split(text, ' ')), " +
      "t -> aggregate(transform(filter(split(t, ''), c -> c != ''), " +
      s"c -> CAST(ascii(c) AS BIGINT)), 7L, (a, b) -> (a * 131 + b) % $M))"

  private val hofMinHash = "transform(sequence(0, 7), i -> " +
    "array_min(transform(th, h -> ((2*i + 1) * h + 7919 * i) " +
    "% 1000000007)))"

  private def hofCharFold(c: String, seed: Long, mult: Long): String =
    s"aggregate(transform(filter(split($c, ''), ch -> ch != ''), " +
      s"ch -> CAST(ascii(ch) AS BIGINT)), ${seed}L, " +
      s"(a, b) -> (a * $mult + b) % $M)"

  // token soup: empties, repeats, multi-space runs, unicode incl. a
  // surrogate pair, long boilerplate runs (gram repeats)
  private def corpus: Seq[String] = {
    val toks = Seq("a", "bb", "ccc", "Zz09", "é", "中文", "😀",
      "the", "quick", "brown", "fox", "", "x")
    val rnd = new scala.util.Random(42)
    (0 until 400).map { i =>
      val n = rnd.nextInt(60)
      val sep = if (i % 7 == 0) "  " else " "
      (0 until n).map(_ => toks(rnd.nextInt(toks.length))).mkString(sep) +
        (if (i % 11 == 0) " " else "")
    } ++ Seq("", " ", "  ", "solo", "a b c d e f g h i j k l m n o p q r s t u v")
  }

  private def df = {
    import spark.implicits._
    corpus.toDF("text")
  }

  test("token_hashes_pos == HOF positional token hashes") {
    val d = df.select(expr(hofPosTokenHashes).as("old"),
      TextHash.tokenHashesPos(col("text")).as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("token_hashes (distinct) == HOF distinct token hashes") {
    val d = df.select(expr(hofDistinctTokenHashes).as("old"),
      TextHash.tokenHashesDistinct(col("text")).as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("pos_grams == HOF gram fold for every guarded width") {
    for (w <- Seq(2, 3, 5, 20)) {
      val d = df.select(expr(hofPosTokenHashes).as("th"))
        .filter(size(col("th")) >= w)
        .select(
          expr(s"transform(sequence(0, size(th) - $w), " +
            s"i -> aggregate(slice(th, i + 1, $w), CAST(0 AS BIGINT), " +
            s"(a, b) -> (a * 131 + b) % $M))").as("old"),
          TextHash.posGrams(col("th"), w).as("nw"))
      assert(d.filter("old IS DISTINCT FROM nw").count() === 0, s"w=$w")
    }
  }

  test("pos_grams returns empty below the guard width") {
    val d = df.select(expr(hofPosTokenHashes).as("th"))
      .filter(size(col("th")) < 20)
      .select(TextHash.posGrams(col("th"), 20).as("nw"))
    assert(d.filter("size(nw) != 0").count() === 0)
  }

  test("minhash_sig == HOF 8-function MinHash") {
    val d = df.select(expr(hofDistinctTokenHashes).as("th"))
      .select(expr(hofMinHash).as("old"),
        TextHash.minHashSig(col("th")).as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("pos_grams and minhash_sig == HOF on arrays with null elements " +
    "and an all-null array") {
    import spark.implicits._
    val rows: Seq[Seq[Option[Long]]] = Seq(
      Seq(Some(5L), None, Some(17L), Some(3L), Some(999999999L), None,
        Some(42L), Some(-7L)),
      Seq(None, Some(1L), Some(2L), Some(3L), Some(4L), Some(5L)),
      Seq(Some(1L), Some(2L), Some(3L), Some(4L), Some(5L), None),
      Seq(Some(8L), Some(9L), Some(10L), Some(11L), Some(12L)),
      Seq(None, None, None, None, None),
      Seq.empty)
    // as a local relation (interpreted eval, optimizer-folded) and
    // through an exchange (generated code)
    for (th <- Seq(rows.toDF("th"), rows.toDF("th").repartition(2))) {
      val mh = th.select(expr(hofMinHash).as("old"),
        TextHash.minHashSig(col("th")).as("nw"))
      assert(mh.filter("old IS DISTINCT FROM nw").count() === 0)
      for (w <- Seq(2, 3, 5)) {
        val g = th.filter(size(col("th")) >= w)
          .select(
            expr(s"transform(sequence(0, size(th) - $w), " +
              s"i -> aggregate(slice(th, i + 1, $w), CAST(0 AS BIGINT), " +
              s"(a, b) -> (a * 131 + b) % $M))").as("old"),
            TextHash.posGrams(col("th"), w).as("nw"))
        assert(g.count() > 0 && g.filter("old IS DISTINCT FROM nw")
          .count() === 0, s"w=$w")
      }
    }
  }

  test("char_fold == HOF char fold (md5 fingerprint shape)") {
    val d = df.select(md5(col("text")).as("h"))
      .select(expr(hofCharFold("h", 0L, 131L)).as("old"),
        TextHash.charFold(col("h"), 0L, 131L).as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
    val d31 = df.select(md5(col("text")).as("h"))
      .select(expr(hofCharFold("h", 0L, 31L)).as("old"),
        TextHash.charFold(col("h"), 0L, 31L).as("nw"))
    assert(d31.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("null text folds to null through both paths") {
    import spark.implicits._
    val d = Seq[Option[String]](None, Some("a b")).toDF("text")
      .select(expr(hofPosTokenHashes).as("old"),
        TextHash.tokenHashesPos(col("text")).as("nw"))
    assert(d.filter("old IS DISTINCT FROM nw").count() === 0)
  }

  test("kernels agree on the real documents corpus when present") {
    val dir = "/root/testdata/sf0.01"
    if (new java.io.File(s"$dir/documents.parquet").exists() ||
        new java.io.File(s"$dir/documents").exists()) {
      val docs = graft.Tables.table(spark, dir, "documents")
      val d = docs.select(
        expr(hofPosTokenHashes).as("o1"),
        TextHash.tokenHashesPos(col("text")).as("n1"),
        expr(hofDistinctTokenHashes).as("o2"),
        TextHash.tokenHashesDistinct(col("text")).as("n2"))
      assert(d.filter("o1 IS DISTINCT FROM n1 OR o2 IS DISTINCT FROM n2")
        .count() === 0)
      val g = docs.select(expr(hofPosTokenHashes).as("th"))
        .filter(size(col("th")) >= 20)
        .select(
          expr(s"transform(sequence(0, size(th) - 20), " +
            s"i -> aggregate(slice(th, i + 1, 20), CAST(0 AS BIGINT), " +
            s"(a, b) -> (a * 131 + b) % $M))").as("old"),
          TextHash.posGrams(col("th"), 20).as("nw"))
      assert(g.filter("old IS DISTINCT FROM nw").count() === 0)
    }
  }
}
