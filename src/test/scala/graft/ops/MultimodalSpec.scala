package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The real-codec invariant behind q61: encoding the closed-form test
  * pattern to PNG via javax.imageio and decoding it back must reproduce
  * the pattern's statistics exactly (PNG is lossless), for any id.
  */
class MultimodalSpec extends AnyFunSuite {

  private def expected(id: Long): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (y <- 0 until Multimodal.H; x <- 0 until Multimodal.W) {
      sr += (id * 31 + x * 7 + y * 13) % 256
      sg += (id * 17 + x * 3 + y * 5) % 256
      sb += (id * 11 + x * 13 + y * 7) % 256
    }
    (sr, sg, sb)
  }

  test("PNG encode/decode roundtrip is lossless for the pattern stats") {
    for (id <- Seq(0L, 1L, 7L, 255L, 123456789L)) {
      val bytes = Multimodal.encodePng(id)
      // real PNG container: magic header present
      assert(bytes.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
      val (w, h, sr, sg, sb) = Multimodal.decodePng(bytes)
      val (er, eg, eb) = expected(id)
      assert((w, h) == (Multimodal.W.toLong, Multimodal.H.toLong))
      assert((sr, sg, sb) == (er, eg, eb), s"id=$id")
    }
  }

  test("NN 2x resize through the codec matches the closed form (q188)") {
    def expectedResized(id: Long): (Long, Long, Long) = {
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until Multimodal.H / 2; x <- 0 until Multimodal.W / 2) {
        sr += (id * 31 + 2 * x * 7 + 2 * y * 13) % 256
        sg += (id * 17 + 2 * x * 3 + 2 * y * 5) % 256
        sb += (id * 11 + 2 * x * 13 + 2 * y * 7) % 256
      }
      (sr, sg, sb)
    }
    for (id <- Seq(0L, 3L, 199L)) {
      val (w, h, sr, sg, sb) = Multimodal.resizeNN2x(Multimodal.encodePng(id))
      assert((w, h) == (Multimodal.W.toLong / 2, Multimodal.H.toLong / 2))
      assert((sr, sg, sb) == expectedResized(id), s"id=$id")
    }
  }

  test("frame seeding: sampled frame f of video id decodes as pattern id*4+f") {
    val id = 15L
    for (f <- Seq(0, 2)) {
      val (w, h, sr, sg, sb) =
        Multimodal.decodePng(Multimodal.encodePng(id * 4 + f))
      val (er, eg, eb) = expected(id * 4 + f)
      assert((w, h) == (Multimodal.W.toLong, Multimodal.H.toLong))
      assert((sr, sg, sb) == (er, eg, eb), s"frame=$f")
    }
  }

  test("q61 media lifecycle: a fresh session reads the persisted media " +
    "column without re-encoding; a stale marker forces the rebuild") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir, "documents.parquet").exists(),
      s"$dir absent — skipping")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.SparkEntry.queries("q61_multimodal_decode")(spark, dir).collect()
    val before = Multimodal.mediaMemo.builds
    Multimodal.mediaMemo.drop()
    val again = graft.SparkEntry
      .queries("q61_multimodal_decode")(spark, dir).collect()
    assert(Multimodal.mediaMemo.builds == before,
      "fresh-marker run re-encoded the media column")
    // the stored payloads really are the corpus media: every doc
    // decodes to its closed-form stats through the real codec
    assert(again.length ==
      graft.Tables.table(spark, dir, "documents").count())
    val marker = ArtifactStore.markerPath(ArtifactStore.root(
      s"graft_media_${VecIndex.dirDigest(dir)}"))
    ArtifactStore.writeString(marker, "{\"stale\":true}")
    Multimodal.mediaMemo.drop()
    graft.SparkEntry.queries("q61_multimodal_decode")(spark, dir).collect()
    assert(Multimodal.mediaMemo.builds == before + 1,
      "stale marker did not force a rebuild")
  }
}
