package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column handling (SURVEY.md §2.3 E9 + training-data mandate):
  * media payloads modeled as opaque binary columns with typed metadata;
  * decode/feature-extraction runs per-partition over batches through a REAL
  * image codec (javax.imageio PNG — public JDK API), so the full pipeline a
  * production image corpus runs — binary column in, decoder init per
  * partition, typed feature batch out — is exercised end-to-end on real
  * bytes, not a stand-in.
  */
object Multimodal {

  /** Deterministic RGB test pattern for `doc_id`: pixel (x, y) has
    * channels ((id*31 + x*7 + y*13) % 256, (id*17 + x*3 + y*5) % 256,
    * (id*11 + x*13 + y*7) % 256). Closed-form, so the DuckDB oracle can
    * recompute every decoded statistic without running a codec.
    */
  private[ops] val W = 12
  private[ops] val H = 8

  /** ENCODE: real PNG bytes via javax.imageio. Runs inside mapPartitions —
    * this is the writer-side twin of the decode path below.
    */
  private[ops] def encodePng(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 3 + y * 5) % 256).toInt
        val b = ((id * 11 + x * 13 + y * 7) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** DECODE: real PNG decode via javax.imageio + per-channel pixel stats —
    * the feature-extraction kernel of the decode stage. Pure function of
    * the payload bytes; constant memory per image.
    */
  private[ops] def decodePng(payload: Array[Byte])
      : (Long, Long, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    (img.getWidth.toLong, img.getHeight.toLong, sr, sg, sb)
  }

  /** RESIZE: decode, 2× nearest-neighbor downsample (out(x,y) =
    * in(2x, 2y) — NN is chosen over smoothing filters because it is
    * bit-deterministic and closed-form recomputable; an interpolating
    * resample would tie the oracle to one library's filter kernel),
    * then the same per-channel stats as decodePng.
    */
  private[ops] def resizeNN2x(payload: Array[Byte])
      : (Long, Long, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    val (w2, h2) = (img.getWidth / 2, img.getHeight / 2)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val p = img.getRGB(2 * x, 2 * y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    (w2.toLong, h2.toLong, sr, sg, sb)
  }

  // dir -> the persisted MEDIA column for q61. A production corpus
  // stores PNG bytes in a parquet binary column at INGEST; synthesizing
  // them per query made q61 time the fixture encoder (~85% of its bench
  // cost, slope 0.87 at sf1 — round-13 verdict task 4). The encode runs
  // once per corpus; the gate reads the stored bytes and times the
  // DECODE path — the honest E9 shape.
  private[ops] val mediaMemo = new ArtifactStore.Memo[String, Unit]

  private[ops] def mediaArtifact(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lazy val docs = Tables.table(s, dir, "documents")
    mediaMemo(dir, VecIndex.tableFileSig(dir, "documents"))(
      (ArtifactStore.root(s"graft_media_${VecIndex.dirDigest(dir)}"),
        Round12Ops.docsMarker(docs), ())) { (p, _) =>
      import s.implicits._
      docs.select(col("doc_id")).as[Long]
        .mapPartitions(batch => batch.map(id => (id, encodePng(id))))
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(s"$p/media")
    }._1
  }

  val queries: Seq[Q] = Seq(
    // E9: binary payload + typed metadata, all relational: byte length,
    // content digest, and a deterministic feature vector (first-4-
    // codepoint intensities) — the metadata sidecar of a media column.
    Q(
      "q60_multimodal_meta",
      """WITH f AS (
        |  SELECT doc_id,
        |    octet_length(encode(text)) AS n_bytes,
        |    md5(text) AS digest,
        |    list_transform(range(4), i ->
        |      ROUND(CAST(unicode(substr(text, i + 1, 1)) AS DOUBLE) / 255.0, 6))
        |      AS ff
        |  FROM documents
        |  WHERE doc_id < 100)
        |SELECT doc_id, n_bytes, digest,
        |  ff[1] AS f0, ff[2] AS f1, ff[3] AS f2, ff[4] AS f3
        |FROM f
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the feature vector is computed as an array; the gate projection
      // indexes it to scalars (the driver's pandas compare can't sort
      // raw array cells)
      val feats = expr("transform(sequence(0, 3), i -> " +
        "ROUND(CAST(ascii(substr(text, i + 1, 1)) AS DOUBLE) / 255.0, 6))")
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          octet_length(col("text")).cast("bigint").as("n_bytes"),
          md5(col("text")).as("digest"),
          feats.as("ff"))
        .select(col("doc_id"), col("n_bytes"), col("digest"),
          element_at(col("ff"), 1).as("f0"), element_at(col("ff"), 2).as("f1"),
          element_at(col("ff"), 3).as("f2"), element_at(col("ff"), 4).as("f3"))
        .orderBy(col("doc_id"))
    },

    // E9: the REAL-CODEC decode path. An opaque binary image column (PNG
    // bytes, produced once per corpus by the javax.imageio encoder from
    // a closed-form test pattern and PERSISTED as an ingest artifact —
    // mediaArtifact) is decoded through javax.imageio inside
    // mapPartitions — one decoder scope per partition, streaming batch
    // through it — and reduced to typed features (dimensions + per-channel
    // pixel sums). The oracle recomputes the features from the pattern's
    // closed form, so a green row proves the ENTIRE encode→bytes→decode→
    // features loop is bit-exact through a real codec. At 100 TB both
    // stages are pure map work: no shuffle, constant memory per image,
    // decoder init amortized per partition (the place a GPU/native codec
    // handle would be created).
    Q(
      "q61_multimodal_decode",
      """SELECT doc_id,
        |  CAST(12 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(8), y ->
        |    list_transform(range(12), x -> (doc_id*31 + x*7 + y*13) % 256))))
        |    AS BIGINT) AS sum_r,
        |  CAST(list_sum(flatten(list_transform(range(8), y ->
        |    list_transform(range(12), x -> (doc_id*17 + x*3 + y*5) % 256))))
        |    AS BIGINT) AS sum_g,
        |  CAST(list_sum(flatten(list_transform(range(8), y ->
        |    list_transform(range(12), x -> (doc_id*11 + x*13 + y*7) % 256))))
        |    AS BIGINT) AS sum_b
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // the media column is a PERSISTED artifact (mediaArtifact): a
      // production corpus stores its PNG bytes at ingest, so the gate
      // reads the binary column and times the DECODE path through the
      // real codec — the fixture encoder runs once per corpus, behind
      // the marker, like q262's hash table
      val media =
        ArtifactStore.readParquet(s, s"${mediaArtifact(s, dir)}/media")
      // decode stage: binary column -> typed features through the codec
      media.as[(Long, Array[Byte])].mapPartitions { batch =>
        // per-partition decoder init would happen here (native codec
        // handles, GPU context, ...) — then stream the batch through it
        batch.map { case (id, payload) =>
          val (w, h, sr, sg, sb) = decodePng(payload)
          (id, w, h, sr, sg, sb)
        }
      }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
        .orderBy(col("doc_id"))
    },

    // E9: RESIZE through the real codec — decode PNG, 2× nearest-
    // neighbor downsample (out(x,y) = in(2x,2y)), per-channel stats of
    // the RESIZED image. NN is deliberate: it is the one resampling
    // whose output is closed-form recomputable by the oracle (resized
    // pixel (x,y) = pattern(id, 2x, 2y)); an interpolating filter would
    // pin the gate to a specific library kernel. Same scale shape as
    // q61: two pure map stages, decoder+resizer init amortized per
    // partition, no shuffle beyond the presentation sort. Subset
    // doc_id < 200 keeps the encode-fixture cost (q61's NOTE) out of
    // the timed hot path at big SFs.
    Q(
      "q188_multimodal_resize",
      """SELECT doc_id,
        |  CAST(6 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(4), y ->
        |    list_transform(range(6), x -> (doc_id*31 + 2*x*7 + 2*y*13) % 256))))
        |    AS BIGINT) AS sum_r,
        |  CAST(list_sum(flatten(list_transform(range(4), y ->
        |    list_transform(range(6), x -> (doc_id*17 + 2*x*3 + 2*y*5) % 256))))
        |    AS BIGINT) AS sum_g,
        |  CAST(list_sum(flatten(list_transform(range(4), y ->
        |    list_transform(range(6), x -> (doc_id*11 + 2*x*13 + 2*y*7) % 256))))
        |    AS BIGINT) AS sum_b
        |FROM documents
        |WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ids = Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { batch =>
        batch.map(id => (id, encodePng(id)))
      }.toDF("doc_id", "payload")
      media.as[(Long, Array[Byte])].mapPartitions { batch =>
        batch.map { case (id, payload) =>
          val (w, h, sr, sg, sb) = resizeNN2x(payload)
          (id, w, h, sr, sg, sb)
        }
      }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
        .orderBy(col("doc_id"))
    },

    // E9: FRAME SAMPLING — the video-column pattern. Every doc_id % 5
    // == 0 document carries a 4-frame "video" (an array<binary> of real
    // PNG frames, frame f's pattern seeded by doc_id*4 + f — an actual
    // container format would add a demuxer in the same mapPartitions
    // slot). Stride-2 sampling keeps frames {0, 2}, and ONLY sampled
    // frames are decoded — the whole point of frame sampling at 100 TB
    // is that decode cost scales with frames KEPT, not frames stored.
    // Scale shape: pure map stages; posexplode of the sampled-frame
    // array; per-partition codec init; no shuffle beyond the
    // presentation sort. Subset doc_id < 200 for the same fixture-cost
    // reason as q188.
    Q(
      "q189_frame_sample",
      """WITH v AS (
        |  SELECT doc_id, unnest([0, 2]) AS frame_idx
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 200),
        |seeded AS (SELECT doc_id, frame_idx, doc_id*4 + frame_idx AS sd FROM v)
        |SELECT doc_id, frame_idx,
        |  CAST(12 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(8), y ->
        |    list_transform(range(12), x -> (sd*31 + x*7 + y*13) % 256))))
        |    AS BIGINT) AS sum_r,
        |  CAST(list_sum(flatten(list_transform(range(8), y ->
        |    list_transform(range(12), x -> (sd*17 + x*3 + y*5) % 256))))
        |    AS BIGINT) AS sum_g,
        |  CAST(list_sum(flatten(list_transform(range(8), y ->
        |    list_transform(range(12), x -> (sd*11 + x*13 + y*7) % 256))))
        |    AS BIGINT) AS sum_b
        |FROM seeded
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ids = Tables.table(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0 && col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
      // container-build stage (fixture): 4 real PNG frames per video
      val media = ids.mapPartitions { batch =>
        batch.map { id =>
          (id, (0 until 4).map(f => encodePng(id * 4 + f)).toArray)
        }
      }.toDF("doc_id", "frames")
      // sample stage: SELECT the frames to keep (stride 2) WITHOUT
      // decoding — array indexing on the binary column, pure relational
      val sampled = media.select(col("doc_id"),
        explode(expr("transform(array(0, 2), " +
          "f -> struct(f AS frame_idx, frames[f] AS payload))")).as("s"))
        .select(col("doc_id"), col("s.frame_idx").as("frame_idx"),
          col("s.payload").as("payload"))
      // decode stage: only sampled frames pay the codec
      sampled.as[(Long, Int, Array[Byte])].mapPartitions { batch =>
        batch.map { case (id, f, payload) =>
          val (w, h, sr, sg, sb) = decodePng(payload)
          (id, f, w, h, sr, sg, sb)
        }
      }.toDF("doc_id", "frame_idx", "width", "height",
          "sum_r", "sum_g", "sum_b")
        .orderBy(col("doc_id"), col("frame_idx"))
    })
}
