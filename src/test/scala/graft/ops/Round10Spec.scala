package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 invariants beyond the DuckDB hash compare: metric bounds
  * on the eval harness, the batching win, k-anonymity event
  * accounting, backfill-manifest structure, incremental-vs-full
  * component equality, and the CDC edit-locality property.
  */
class Round10Spec extends AnyFunSuite {

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
    graft.SparkEntry.queries(name)(spark, dir)

  test("q251: metric bounds hold and rank-1 hits score full MRR") {
    assume(available)
    val rows = run("q251_retrieval_metrics").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nnRank, rr6, hits10) =
        (r.getAs[Long]("nn_rank"), r.getAs[Long]("rr6"),
          r.getAs[Long]("hits10"))
      assert(nnRank >= 0 && nnRank <= 10)
      assert(hits10 >= 0 && hits10 <= 10)
      if (nnRank == 1) assert(rr6 == 1000000L)
      if (nnRank == 0) assert(rr6 == 0L)
      assert(r.getAs[Long]("mrr6") >= 0 && r.getAs[Long]("mrr6") <= 1000000L)
    }
  }

  test("q252: length-sorted batching never pads more than arrival order") {
    assume(available)
    val rows = run("q252_length_bucket_batching").collect()
    def tot(strategy: String) = rows
      .filter(r => r.getAs[String]("strategy") == strategy
        && r.getAs[Long]("batch") == -1L)
      .map(_.getAs[Long]("pad_tokens")).head
    assert(tot("sorted") <= tot("arrival"))
  }

  test("q253: released + suppressed events account for every event") {
    assume(available)
    val rows = run("q253_k_anonymity").collect()
    val total = graft.Tables.table(spark, dir, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total)
    // every released row clears the threshold; exactly one audit row
    assert(rows.filter(_.getAs[Long]("level") < 2)
      .forall(_.getAs[Long]("n_users") >= 5))
    assert(rows.count(_.getAs[Long]("level") == 2L) <= 1)
  }

  test("q254: resume completes the manifest without recomputing pass-1 " +
    "buckets, and reruns are idempotent") {
    assume(available)
    val out1 = run("q254_backfill_resume").collect()
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_backfill_${VecIndex.dirDigest(dir)}")
    val mf = java.nio.file.Files.readString(root.resolve("manifest.json"))
    val mf1 = java.nio.file.Files.readString(
      root.resolve("manifest_pass1.json"))
    assert(mf.contains("[0,1,2,3,4,5,6,7]"), s"final manifest: $mf")
    assert(mf1.contains("[0,1]"), s"pass-1 manifest: $mf1")
    assert(out1.length == 8)
    assert(out1.count(_.getAs[Long]("precomputed") == 1L) == 2)
    // rerun from scratch must reproduce identical fingerprints
    val out2 = run("q254_backfill_resume").collect()
    assert(out1.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("fpsum")))
      .toSeq == out2.map(r =>
      (r.getAs[Long]("bucket"), r.getAs[Long]("fpsum"))).toSeq)
  }

  test("q255: observed stage counters decrease monotonically and match " +
    "direct recomputation") {
    assume(available)
    val rows = run("q255_observed_metrics").collect().sortBy(_.getLong(0))
    assert(rows.length == 3)
    val ns = rows.map(_.getAs[Long]("n_rows"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2))
    val docs = graft.Tables.table(spark, dir, "documents")
    assert(ns(0) == docs.count())
    assert(ns(1) == docs.filter(col("lang").isin("en", "de")).count())
  }

  test("q256: incremental merge equals a full recompute") {
    assume(available)
    val inc = run("q256_incremental_components").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // full recompute: band-bucket star edges over the whole corpus
    val M = 1000000007L
    val mhSig = "transform(sequence(0, 7), i -> " +
      s"array_min(transform(th, h -> ((2*i + 1) * h + 7919 * i) % $M)))"
    val sides = graft.Tables.table(spark, dir, "documents")
      .withColumn("th", expr(Dedup.sparkTokenHashes))
      .withColumn("mh", expr(mhSig))
      .select(col("doc_id"), posexplode(array(
        array_join(slice(col("mh"), 1, 4), "-"),
        array_join(slice(col("mh"), 5, 4), "-"))).as(Seq("bi", "bkey")))
    val roots = sides.groupBy(col("bi"), col("bkey"))
      .agg(min(col("doc_id")).as("root"))
    val edges = sides.join(roots, Seq("bi", "bkey"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("a"), col("root").as("b"))
    val full = Components.label(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    graft.Tables.table(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).foreach { d =>
        assert(inc(d) == full.getOrElse(d, d),
          s"doc $d: incremental ${inc(d)} != full ${full.getOrElse(d, d)}")
      }
  }

  test("q257: the A/B tally is consistent with the per-query winners") {
    assume(available)
    val rows = run("q257_shadow_ab_serve").collect()
    assert(rows.nonEmpty)
    val wins = rows.map(_.getAs[Long]("winner"))
    val (g, i, t) = (rows.head.getAs[Long]("n_graph_wins"),
      rows.head.getAs[Long]("n_ivf_wins"), rows.head.getAs[Long]("n_ties"))
    assert(g == wins.count(_ == 1L))
    assert(i == wins.count(_ == -1L))
    assert(t == wins.count(_ == 0L))
    assert(g + i + t == rows.length)
    rows.foreach { r =>
      val (hg, hi) = (r.getAs[Long]("hits_graph"), r.getAs[Long]("hits_ivf"))
      val expect = if (hg > hi) 1L else if (hi > hg) -1L else 0L
      assert(r.getAs[Long]("winner") == expect)
      assert(hg >= 0 && hg <= 10 && hi >= 0 && hi <= 10)
    }
  }

  test("q259: the chosen operating point is the cheapest that clears " +
    "the target") {
    assume(available)
    val rows = run("q259_operating_point").collect()
      .sortBy(_.getAs[Long]("nprobe"))
    val tgt = rows.head.getAs[Long]("target_hits")
    val chosen = rows.head.getAs[Long]("chosen_nprobe")
    val meeting = rows.filter(_.getAs[Long]("hits") >= tgt)
      .map(_.getAs[Long]("nprobe"))
    if (meeting.nonEmpty) assert(chosen == meeting.min)
    else assert(chosen == rows.map(_.getAs[Long]("nprobe")).max)
    assert(rows.count(_.getAs[Long]("selected") == 1L) == 1)
    assert(rows.find(_.getAs[Long]("nprobe") == chosen)
      .get.getAs[Long]("selected") == 1L)
  }

  test("q260: cohorts partition the corpus and the stationary corpus " +
    "does not trigger a retrain") {
    assume(available)
    val rows = run("q260_cell_drift_monitor").collect()
    val n = graft.Tables.table(spark, dir, "embeddings").count()
    assert(rows.map(r => r.getAs[Long]("n_early") + r.getAs[Long]("n_late"))
      .sum == n)
    assert(rows.map(_.getAs[Long]("retrain")).distinct.toSeq == Seq(0L))
    val tvd = rows.head.getAs[Long]("tvd6")
    assert(tvd >= 0 && tvd <= 1000000L)
    assert(tvd == rows.map(_.getAs[Long]("drift6")).sum / 2)
  }

  test("q261: dataset-card invariants hold and volumes cover the corpus") {
    assume(available)
    val rows = run("q261_dataset_card").collect()
    val docs = graft.Tables.table(spark, dir, "documents")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_uniq") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("p50_ntk") <= r.getAs[Long]("p90_ntk"))
      val s6 = r.getAs[Long]("simpson6")
      assert(s6 >= 0 && s6 < 1000000L)
      val u6 = r.getAs[Long]("uniq6")
      assert(u6 > 0 && u6 <= 1000000L)
    }
  }

  test("q262: brightness jitter changes the PNG bytes but never the " +
    "perceptual hash") {
    assume(available)
    // the same seed under different jitter classes: different bytes,
    // identical aHash — the invariance the dedup gate relies on
    for (seed <- Seq(0L, 7L, 33L)) {
      val variants = Seq(seed, seed + 64, seed + 128)
        .map(Round10Final.encodeJitterPng)
      assert(variants.map(_.toSeq).distinct.size == 3,
        s"seed $seed: jitter did not change the encoded bytes")
      assert(variants.map(Round10Final.aHash).distinct.size == 1,
        s"seed $seed: aHash not jitter-invariant")
    }
    val rows = run("q262_image_phash_dedup").collect()
    val docs = graft.Tables.table(spark, dir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_images")).sum == docs)
    // every group must absorb every jitter class present in the corpus
    assert(rows.forall(_.getAs[Long]("n_variants") >= 1))
  }

  test("q262 artifact lifecycle: a fresh session serves the persisted " +
    "hash table without re-decoding; a stale marker forces the rebuild") {
    assume(available)
    run("q262_image_phash_dedup").collect()
    val before = Round10Final.phashMemo.builds
    Round10Final.phashMemo.drop()
    run("q262_image_phash_dedup").collect()
    assert(Round10Final.phashMemo.builds == before,
      "fresh-marker serve re-ran the decode pass")
    val marker = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_phash_${VecIndex.dirDigest(dir)}", "_meta.json")
    java.nio.file.Files.writeString(marker, "{\"stale\":true}")
    Round10Final.phashMemo.drop()
    run("q262_image_phash_dedup").collect()
    assert(Round10Final.phashMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q263: the stream spans micro-batches and the streamed store " +
    "equals the batch-built store") {
    assume(available)
    val rows = run("q263_stream_chunk_store").collect()
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_chunkstream_${VecIndex.dirDigest(dir)}")
    val dirs = out.toFile.listFiles().filter(_.getName.startsWith("b"))
    assert(dirs.length >= 2,
      s"ingest did not span micro-batches: ${dirs.length} batch dirs")
    // streamed store totals == batch-path totals (q258's machinery)
    val batchChunks = Round10More.cdcChunks(
      graft.Tables.table(spark, dir, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")))
    val nDistinct = batchChunks
      .select(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.struct("chash", "n_tokens")))
      .head().getLong(0)
    val nTotal = batchChunks.count()
    assert(rows.head.getAs[Long]("total_chunks") == nDistinct)
    assert(rows.head.getAs[Long]("total_refs") == nTotal)
  }

  test("q258: an edit re-chunks only its neighborhood (CDC locality)") {
    assume(available)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val toks = Seq.fill(120)("t" + rnd.nextInt(5000))
    val edited = toks.updated(60, "EDITED")
    val docs = Seq((1L, toks.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = Round10More.cdcChunks(docs).collect()
    val h1 = chunks.filter(_.getLong(0) == 1L)
      .sortBy(_.getLong(1)).map(_.getAs[Long]("chash"))
    val h2 = chunks.filter(_.getLong(0) == 2L)
      .sortBy(_.getLong(1)).map(_.getAs[Long]("chash"))
    // shared prefix and suffix chunks survive the edit; only the
    // chunk(s) overlapping the 4-token rolling window around position
    // 60 may differ
    val prefixShared = h1.zip(h2).takeWhile { case (a, b) => a == b }.length
    val suffixShared = h1.reverse.zip(h2.reverse)
      .takeWhile { case (a, b) => a == b }.length
    assert(prefixShared > 0, "no shared prefix chunks survived the edit")
    assert(suffixShared > 0, "no shared suffix chunks survived the edit")
    assert(prefixShared + suffixShared >=
      math.min(h1.length, h2.length) - 3,
      s"edit perturbed more than its neighborhood: " +
        s"prefix=$prefixShared suffix=$suffixShared " +
        s"of ${h1.length}/${h2.length} chunks")
  }
}
