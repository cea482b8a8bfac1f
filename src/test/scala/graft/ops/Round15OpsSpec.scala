package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 invariants: the real-codec WAV loop behind q295 (encode →
  * container bytes → decode must reproduce the waveform's closed-form
  * features exactly), the persisted-artifact lifecycles that round-14's
  * verdict flagged (q295 audio column, q284 base gram store, q249
  * fragmented codes — each built once per corpus, rebuilt only on a
  * stale marker), and the tempRoot retention sweep.
  */
class Round15OpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  /** The closed-form features q295's oracle computes, replayed in
    * Scala: (sum_abs, max_abs, sum_sq, dec4_sum_abs) for doc `id`.
    */
  private def expected(id: Long): (Long, Long, Long, Long) = {
    var (sumAbs, maxAbs, sumSq, dec4) = (0L, 0L, 0L, 0L)
    for (i <- 0 until Round15Ops.N) {
      val v = Round15Ops.sampleAt(id, i).toLong
      val a = math.abs(v)
      sumAbs += a; maxAbs = math.max(maxAbs, a); sumSq += v * v
      if (i % 4 == 0) dec4 += a
    }
    (sumAbs, maxAbs, sumSq, dec4)
  }

  test("WAV encode/decode roundtrip reproduces the closed-form " +
    "features exactly for any id (real javax.sound container)") {
    for (id <- Seq(0L, 1L, 7L, 255L, 123456789L)) {
      val bytes = Round15Ops.encodeWav(id)
      // real WAV container: RIFF....WAVE magic present
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
      val (n, rate, sumAbs, maxAbs, sumSq, dec4) =
        Round15Ops.decodeWav(bytes)
      assert((n, rate) == (Round15Ops.N.toLong, 8000L))
      assert((sumAbs, maxAbs, sumSq, dec4) == expected(id), s"id=$id")
    }
  }

  test("q295 audio lifecycle: a fresh session reads the persisted " +
    "audio column without re-encoding; a stale marker forces rebuild") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry.queries("q295_audio_decode")(spark, dir)
      .collect()
    assert(rows.length ==
      graft.Tables.table(spark, dir, "documents").count())
    // decoded features match the closed form (spot rows)
    rows.take(5).foreach { r =>
      val id = r.getLong(0)
      assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
        == expected(id), s"doc $id decoded features drifted")
    }
    val before = Round15Ops.audioMemo.builds
    Round15Ops.audioMemo.drop()
    graft.SparkEntry.queries("q295_audio_decode")(spark, dir).collect()
    assert(Round15Ops.audioMemo.builds == before,
      "fresh-marker run re-encoded the audio column")
    val marker = ArtifactStore.markerPath(ArtifactStore.root(
      s"graft_audio_${VecIndex.dirDigest(dir)}"))
    ArtifactStore.writeString(marker, "{\"stale\":true}")
    Round15Ops.audioMemo.drop()
    graft.SparkEntry.queries("q295_audio_decode")(spark, dir).collect()
    assert(Round15Ops.audioMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q284 gram-store lifecycle: the base slice is built once per " +
    "corpus; re-runs serve the O(delta + state) merge from the files") {
    assume(available, s"$dir absent — skipping")
    graft.SparkEntry.queries("q284_exactsubstr_incremental")(spark, dir)
      .collect()
    val before = Round12Extra.gramMemo.builds
    Round12Extra.gramMemo.drop()
    graft.SparkEntry.queries("q284_exactsubstr_incremental")(spark, dir)
      .collect()
    assert(Round12Extra.gramMemo.builds == before,
      "fresh-marker run rebuilt the base gram store inside the gate")
    val marker = ArtifactStore.markerPath(ArtifactStore.root(
      s"graft_gramstore_${VecIndex.dirDigest(dir)}"))
    ArtifactStore.writeString(marker, "{\"stale\":true}")
    Round12Extra.gramMemo.drop()
    graft.SparkEntry.queries("q284_exactsubstr_incremental")(spark, dir)
      .collect()
    assert(Round12Extra.gramMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }

  test("q249 fragment lifecycle: the fragmented codes artifact is " +
    "pinned on disk; the timed pass only reads + compacts it") {
    assume(new java.io.File(dir, "embeddings.parquet").exists(),
      s"$dir absent — skipping")
    graft.SparkEntry.queries("q249_codes_artifact_compaction")(spark, dir)
      .collect()
    val before = Round9More.fragMemo.builds
    Round9More.fragMemo.drop()
    val rows = graft.SparkEntry
      .queries("q249_codes_artifact_compaction")(spark, dir).collect()
    assert(Round9More.fragMemo.builds == before,
      "fresh-marker run re-fragmented the codes artifact")
    // the content-identity proof still holds against the pinned set
    rows.foreach { r =>
      assert(r.getAs[Int]("was_fragmented") == 1)
      assert(r.getAs[Int]("one_file_per_cell") == 1)
      assert(r.getAs[Long]("nr_delta") == 0L)
      assert(r.getAs[Long]("fp_delta") == 0L)
    }
    val marker = ArtifactStore.markerPath(ArtifactStore.root(
      s"graft_idxfrag_${VecIndex.dirDigest(dir)}"))
    ArtifactStore.writeString(marker, "{\"stale\":true}")
    Round9More.fragMemo.drop()
    graft.SparkEntry.queries("q249_codes_artifact_compaction")(spark, dir)
      .collect()
    assert(Round9More.fragMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }
}
