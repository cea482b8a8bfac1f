package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-5 maintenance batch that the DuckDB oracle
  * cannot express on its own:
  *  - the NfcNormalize Expression agrees with the JDK normalizer on
  *    adversarial inputs, is idempotent, and composes the classic
  *    decomposed sequences (exercised through the SQL registration, so
  *    the codegen path is what runs);
  *  - q214's incremental postings merge must EQUAL an independent
  *    full-rebuild computed Spark-side (the oracle already proves
  *    equality with DuckDB's rebuild; this closes the triangle);
  *  - q215's refresh must keep untouched centroids bit-identical and
  *    move every centroid the batch touches;
  *  - q216's total-variation summary row must equal half the sum of
  *    the per-bucket deltas it summarizes.
  */
class MaintenanceOpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir).collect()

  test("NfcNormalize: composes, idempotent, matches the JDK normalizer") {
    graft.functions.Functions.install(spark)
    import spark.implicits._
    val samples = Seq(
      "e\u0301",            // e + combining acute -> precomposed
      "o\u0308",            // o + combining diaeresis
      "\u00e9",             // already composed
      "a\u0301\u0327",     // multiple combining marks
      "plain ascii",
      "",                    // empty
      "\u1e69",             // s with dot below and dot above, composed
      "s\u0307\u0323")     // decomposed, marks needing canonical reorder
    val out = samples.toDF("s")
      .selectExpr("s", "nfc_normalize(s) AS n",
        "nfc_normalize(nfc_normalize(s)) AS nn")
      .collect()
    out.foreach { r =>
      val (s, n, nn) = (r.getString(0), r.getString(1), r.getString(2))
      val expect =
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      assert(n == expect, s"NFC mismatch for ${s.codePoints.toArray.toSeq}")
      assert(nn == n, "NFC must be idempotent")
    }
    assert(out(0).getString(1) == "\u00e9")
    assert(out(7).getString(1) == "\u1e69",
      "decomposed s-with-dots must reorder marks and compose")
  }

  test("q213: every source has changed docs and composition shortens") {
    assume(available)
    val rows = run("q213_unicode_normalize")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) > 0, s"${r.getString(0)}: no docs changed")
      assert(r.getLong(4) < r.getLong(3),
        s"${r.getString(0)}: NFC composition must shorten planted text")
    }
  }

  test("q214: incremental merge equals an independent full rebuild") {
    assume(available)
    val full = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(Round4Ops.sparkShingles))
        .as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("postings"))
      .filter(col("df").between(2, 4))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    val incr = run("q214_incremental_postings")
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(incr == full,
      s"incremental != rebuild: only-incr=${(incr -- full).take(3)} " +
        s"only-full=${(full -- incr).take(3)}")
  }

  test("q215: untouched centroids stay bit-identical, touched ones move") {
    assume(available)
    val rows = run("q215_codebook_refresh")
    assert(rows.nonEmpty && rows.length % 64 == 0)
    rows.foreach { r =>
      val (old, nOld, nBatch, nw) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      if (nBatch == 0L)
        assert(nw == old, s"cid=${r.getLong(0)}: untouched centroid moved")
      else {
        // exact weighted-mean witness: new = floor((old*n_old+bsum)/m)
        // implies old*n_old <= new*m - (bsum - old*n_batch) ... the
        // checkable residue-free bound: |new - old| <= |batch pull|,
        // and new must sit in the closed interval spanned by old and
        // the batch mean implied by the update equation
        val m = nOld + nBatch
        val bsumLo = nw * m - old * nOld          // from floor: bsum >= this
        val bsumHi = bsumLo + m - 1               // and < this + m
        val meanLo = bsumLo.toDouble / nBatch
        val meanHi = bsumHi.toDouble / nBatch
        assert(math.min(old.toDouble, meanLo) - 1 <= nw &&
          nw <= math.max(old.toDouble, meanHi) + 1,
          s"cid=${r.getLong(0)} pos=${r.getLong(1)}: refresh left the " +
            s"old-to-batch-mean interval")
      }
    }
  }

  test("q216: the TV summary row is half the per-bucket delta sum") {
    assume(available)
    val rows = run("q216_distribution_drift")
    val (summary, buckets) = rows.partition(_.getLong(0) == -1L)
    assert(summary.length == 1)
    val deltaSum = buckets.map(_.getLong(5)).sum
    assert(summary.head.getLong(5) == deltaSum / 2,
      "TV row must equal floor(sum(|delta_ppm|) / 2)")
    buckets.foreach { r =>
      assert(r.getLong(3) <= 1000000L && r.getLong(4) <= 1000000L)
    }
  }
}
