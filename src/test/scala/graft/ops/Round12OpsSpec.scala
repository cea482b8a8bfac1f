package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 invariants: the ExactSubstr scrub must agree with an
  * INDEPENDENT in-memory suffix-style referee (verbatim spans, maximal
  * islands, >= grain length), and the persisted KMV artifact must obey
  * the marker lifecycle (second session serves without rebuilding; a
  * stale marker forces the rebuild).
  */
class Round12OpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q277 matches a brute-force in-memory ExactSubstr referee: " +
    "same affected docs, same scrubbed text, islands maximal and " +
    ">= the grain length") {
    assume(available(dir), s"$dir absent — skipping")
    val W = Round12Ops.SPAN_W
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toVector))
      .sortBy(_._1)
    // referee: hash-free token-tuple grams (the real strings — any
    // divergence from the gate's rolling-hash grams would surface as a
    // md5/count mismatch below, i.e. this also proves no hash collision
    // perturbed the gate's answer at this SF)
    val occs = scala.collection.mutable.Map
      .empty[Vector[String], List[(Long, Int)]]
    docs.foreach { case (id, toks) =>
      (0 to toks.length - W).foreach { i =>
        val g = toks.slice(i, i + W)
        occs(g) = (id, i) :: occs.getOrElse(g, Nil)
      }
    }
    val rem = scala.collection.mutable.Set.empty[(Long, Int)]
    occs.values.filter(_.length >= 2).foreach { os =>
      val first = os.minBy { case (d, p) => d * 1048576L + p }
      os.filterNot(_ == first).foreach { case (d, p) =>
        (p until p + W).foreach(q => rem += ((d, q)))
      }
    }
    val expected = docs.flatMap { case (id, toks) =>
      val removedPos = toks.indices.filter(i => rem.contains((id, i)))
      if (removedPos.isEmpty) None
      else {
        // islands = maximal runs of consecutive removed positions
        val spans = removedPos.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: t, p) if p == e + 1 => (s, p) :: t
          case (acc, p)                       => (p, p) :: acc
        }
        // every island is >= W tokens (a union of overlapping
        // W-windows) and verbatim-duplicated at its construction grams
        spans.foreach { case (s, e) => assert(e - s + 1 >= W,
          s"doc $id island [$s,$e] shorter than the grain") }
        // maximality: the islands' neighbours are NOT removed
        spans.foreach { case (s, e) =>
          assert(s == 0 || !rem.contains((id, s - 1)))
          assert(e == toks.length - 1 || !rem.contains((id, e + 1)))
        }
        val keptTxt = toks.indices.filterNot(i => rem.contains((id, i)))
          .map(toks).mkString(" ")
        Some((id, toks.length.toLong, removedPos.length.toLong,
          spans.length.toLong,
          java.security.MessageDigest.getInstance("MD5")
            .digest(keptTxt.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString))
      }
    }.sortBy(_._1)
    val got = graft.SparkEntry
      .queries("q277_exactsubstr_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.nonEmpty, "the scrub must be ACTIVE at the gate SF")
    assert(got.toSeq == expected.toSeq,
      "gate output == independent referee (docs, counts, spans, md5)")
  }

  test("q278 artifact lifecycle: a second session serves from the " +
    "marker without rebuilding; a stale marker forces a rebuild") {
    assume(available(dir), s"$dir absent — skipping")
    val run = () => graft.SparkEntry
      .queries("q278_persisted_kmv_serve")(spark, dir).collect()
    val first = run()
    val b0 = Round12Ops.sketchMemo.builds
    // "new session": drop the in-JVM memo; on-disk artifact survives
    Round12Ops.sketchMemo.drop()
    val second = run()
    assert(Round12Ops.sketchMemo.builds == b0,
      "a fresh marker must serve WITHOUT rebuilding")
    assert(second.map(_.toString).toSeq == first.map(_.toString).toSeq,
      "artifact-served rows are identical across sessions")
    // stale marker: delete it — the next session must rebuild
    val root = Round12Ops.sketchArtifact(spark, dir)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "_meta.json"))
    Round12Ops.sketchMemo.drop()
    run()
    assert(Round12Ops.sketchMemo.builds == b0 + 1,
      "a missing/stale marker must pay the rebuild")
    // artifact layout: per-source sketches hold at most k rows each
    val sk = spark.read.parquet(s"$root/sketch")
    import org.apache.spark.sql.functions._
    val over = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("rn")).as("mr"))
      .filter(col("n") > Round11Extra.KMV_K ||
        col("mr") =!= col("n")).count()
    assert(over == 0L,
      "every per-source sketch is <= k rows with contiguous ranks")
  }
}
