package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Round-11 sketch / tokenizer-fit / artifact-maintenance shapes.
  *
  *  - q272 KMV DISTINCT SKETCH: the k-minimum-values sketch — keep the
  *    k smallest distinct hash values per group; estimate distinct
  *    count as (k-1)·M / h_k. Unlike the engine-native HLL (q24/q77),
  *    KMV is EXACTLY reproducible across engines (pure integer order
  *    statistics) and MERGEABLE by unioning value sets — the '*' row
  *    demonstrates the merge in-band: the global estimate is computed
  *    from the UNION of the 20 per-source sketches, never from the raw
  *    data. Per-source exact counts referee the error. Sketched over
  *    bigram hashes (the unigram vocabulary of this template corpus is
  *    31 tokens — every sketch would saturate).
  *  - q273 HELD-OUT TOKENIZER FIT: train the q203 BPE merge table on a
  *    2/3 base slice (doc_id % 3 != 0), then encode BOTH slices with it
  *    and report, per source, the held-out compression ratio against
  *    the in-sample ratio — the generalization gap a training run
  *    checks before committing a vocab (q210 measures in-sample
  *    compression only).
  *  - q274 DEDUP-STORE COMPACTION: rewrite q268's append-accumulated
  *    fingerprint store (one small file per streamed wave) into one
  *    file per 16-way fingerprint bucket, then serve the SAME dedup
  *    report from the compacted artifact — hash equality with q268's
  *    oracle proves compaction is content-preserving, and the spec
  *    asserts the one-file-per-bucket layout (q249's discipline applied
  *    to the round's new store).
  *
  * Reference scope: PalNilsson/ask-duckdb has no sketch, tokenizer or
  * artifact-maintenance surface (README.md:1-65); 100 TB mandate.
  */
object Round11Extra {

  private[ops] val M = 1000000007L
  private[ops] val KMV_K = 64
  private val HOLD_MOD = 3 // held-out slice: doc_id % 3 == 0
  private val NBKT = 16 // compacted store buckets

  /** Per-doc (source, bigram-hash) pairs — q267's shared positional
    * bigram kernel, deduplicated at the (source, b) grain and SHIFTED
    * to [1, M]: a raw hash of exactly 0 would both divide-by-zero the
    * KMV estimator and collide with the kth_hash = 0 saturation
    * sentinel.
    */
  private[ops] def bigrams(docs: DataFrame): DataFrame =
    docs.withColumn("th", TextHash.tokenHashesPos(col("text")))
      // 1-token guard mirrors q267: sequence(0, -1) descends and
      // element_at(th, 0) errors on a general corpus
      .filter(size(col("th")) >= 2)
      .select(col("source"),
        explode(expr(
          s"transform(${Round11Ops.sparkBigramHashes()}, x -> x + 1)"))
          .as("b"))
      .distinct()

  private[ops] val duckBigrams: String =
    s"""bgd AS MATERIALIZED (
       |  SELECT DISTINCT source, b FROM (
       |    SELECT source,
       |      unnest(list_transform(${Round11Ops.duckBigramHashes()},
       |        x -> x + 1)) AS b
       |    FROM (SELECT source, ${Round11Ops.duckPosTokenHashes} AS th
       |          FROM documents)
       |    WHERE len(th) >= 2))""".stripMargin

  val queries: Seq[Q] = Seq(
    // E4: mergeable KMV distinct sketch vs exact referee. kth_hash = 0
    // marks a saturated sketch (fewer distinct values than k — the
    // estimate is then exact by definition). The '*' row's sketch is
    // the union-merge of the per-source sketches: the property that
    // lets 1000 executors sketch independently and a coordinator merge
    // k values per group instead of re-scanning 100 TB.
    Q(
      "q272_kmv_distinct_sketch",
      s"""WITH $duckBigrams,
         |ranked AS MATERIALIZED (
         |  SELECT source, b,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY b) AS rn
         |  FROM bgd),
         |kept AS MATERIALIZED (
         |  SELECT source, b, rn FROM ranked WHERE rn <= $KMV_K),
         |persrc AS (
         |  SELECT r.source,
         |    CAST(MAX(r.rn) AS BIGINT) AS n_kept,
         |    CAST((SELECT COUNT(*) FROM bgd g WHERE g.source = r.source)
         |      AS BIGINT) AS n_exact,
         |    CAST(MAX(CASE WHEN r.rn = $KMV_K THEN r.b END) AS BIGINT)
         |      AS kth
         |  FROM kept r GROUP BY r.source),
         |msk AS MATERIALIZED (
         |  SELECT b, ROW_NUMBER() OVER (ORDER BY b) AS rn
         |  FROM (SELECT DISTINCT b FROM kept)),
         |mrow AS (
         |  SELECT '*' AS source,
         |    CAST((SELECT MAX(rn) FROM msk WHERE rn <= $KMV_K)
         |      AS BIGINT) AS n_kept,
         |    CAST((SELECT COUNT(DISTINCT b) FROM bgd) AS BIGINT)
         |      AS n_exact,
         |    CAST((SELECT MAX(CASE WHEN rn = $KMV_K THEN b END)
         |      FROM msk) AS BIGINT) AS kth),
         |allrows AS (
         |  SELECT * FROM persrc UNION ALL SELECT * FROM mrow),
         |est AS (
         |  SELECT source, n_exact,
         |    CAST(CASE WHEN kth IS NULL THEN n_kept
         |      ELSE (CAST(${KMV_K - 1} AS BIGINT) * $M) // kth END AS BIGINT) AS est,
         |    CAST(COALESCE(kth, 0) AS BIGINT) AS kth_hash
         |  FROM allrows)
         |SELECT source, n_exact, est, kth_hash,
         |  CAST((ABS(est - n_exact) * 1000000) // n_exact AS BIGINT)
         |    AS err6
         |FROM est
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val bgd = bigrams(Tables.table(s, dir, "documents"))
      val wsrc = Window.partitionBy(col("source")).orderBy(col("b"))
      val kept = bgd.withColumn("rn", row_number().over(wsrc))
        .filter(col("rn") <= KMV_K)
      val exact = bgd.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_exact"))
      val persrc = kept.groupBy(col("source"))
        .agg(max(col("rn")).cast("bigint").as("n_kept"),
          max(when(col("rn") === KMV_K, col("b"))).cast("bigint")
            .as("kth"))
        .join(broadcast(exact), "source")
      // union-merge: re-rank the UNION of the per-source k-min sets —
      // O(sources·k) rows, a deliberately tiny global window (the
      // coordinator-side merge step; never corpus-sized)
      val merged = kept.select(col("b")).distinct()
        .withColumn("rn", row_number().over(Window.orderBy(col("b"))))
        .filter(col("rn") <= KMV_K)
      val mrow = merged.agg(
        max(col("rn")).cast("bigint").as("n_kept"),
        max(when(col("rn") === KMV_K, col("b"))).cast("bigint")
          .as("kth"))
        .crossJoin(broadcast(bgd.select(col("b")).distinct()
          .agg(count(lit(1)).cast("bigint").as("n_exact"))))
        .withColumn("source", lit("*"))
      persrc.select(col("source"), col("n_kept"), col("n_exact"),
          col("kth"))
        .unionByName(mrow.select(col("source"), col("n_kept"),
          col("n_exact"), col("kth")))
        .select(col("source"), col("n_exact"),
          when(col("kth").isNull, col("n_kept"))
            .otherwise(expr(s"(${KMV_K - 1}L * ${M}L) div kth"))
            .cast("bigint").as("est"),
          coalesce(col("kth"), lit(0L)).cast("bigint").as("kth_hash"))
        .withColumn("err6",
          expr("(ABS(est - n_exact) * 1000000) div n_exact")
            .cast("bigint"))
        .orderBy(col("source"))
    },

    // E8: held-out tokenizer fit. The merge table is trained ONLY on
    // the base slice; both slices are then encoded with it and scored
    // per source: held-out compression ratio vs in-sample ratio, and
    // the signed generalization gap (positive = the vocab compresses
    // unseen text worse — the staleness signal). Both apply stages
    // ride word-frequency tables (Heaps-bounded), exactly like q210.
    Q(
      "q273_heldout_tokenizer_fit",
      s"""WITH ${Bpe.trainCtes(s"WHERE doc_id % $HOLD_MOD <> 0")},
         |${Seq(("h", "="), ("v", "<>")).map { case (tag, op) =>
        s"""x${tag}0 AS (
           |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f,
           |    regexp_replace(w, '(.)', '|\\1|', 'g') AS s
           |  FROM (SELECT source, lower(unnest(string_split(text, ' ')))
           |          AS w
           |        FROM documents WHERE doc_id % $HOLD_MOD $op 0)
           |  WHERE regexp_matches(w, '^[a-z]+$$')
           |  GROUP BY source, w),
           |${(1 to Bpe.STEPS).map { t =>
          s"""x$tag$t AS (
             |  SELECT x.source, x.w, x.f,
             |    replace(x.s, '|' || b.pa || '||' || b.pb || '|',
             |      '|' || b.pa || b.pb || '|') AS s
             |  FROM x$tag${t - 1} x, b$t b)""".stripMargin
        }.mkString(",\n")},
           |r$tag AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_forms,
           |    CAST(SUM(f * length(w)) AS BIGINT) AS n_chars,
           |    CAST(SUM(f * ((length(s) - length(replace(s, '|', '')))
           |      // 2)) AS BIGINT) AS n_tokens_enc,
           |    CAST((SUM(f * ((length(s) -
           |      length(replace(s, '|', ''))) // 2)) * 1000000)
           |      // SUM(f * length(w)) AS BIGINT) AS ratio_ppm
           |  FROM x$tag${Bpe.STEPS}
           |  GROUP BY source)""".stripMargin
      }.mkString(",\n")}
         |SELECT h.source, h.n_forms, h.n_chars, h.n_tokens_enc,
         |  h.ratio_ppm, v.ratio_ppm AS base_ratio_ppm,
         |  CAST(h.ratio_ppm - v.ratio_ppm AS BIGINT) AS gap_ppm
         |FROM rh h JOIN rv v ON v.source = h.source
         |ORDER BY h.source""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
      val base = d.filter(col("doc_id") % HOLD_MOD =!= 0)
      val held = d.filter(col("doc_id") % HOLD_MOD === 0)
      val bests = Bpe.trainSteps(s, Bpe.globalWords(base)).map(_._1)
      def encode(slice: DataFrame): DataFrame = {
        var enc = slice
          .select(col("source"),
            explode(split(col("text"), " ")).as("w0"))
          .select(col("source"), lower(col("w0")).as("w"))
          .filter(col("w").rlike("^[a-z]+$"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("f"))
          .select(col("source"), col("w"), col("f"),
            regexp_replace(col("w"), "(.)", "|$1|").as("s"))
        for (b <- bests) {
          enc = enc.crossJoin(broadcast(b))
            .withColumn("s", expr(
              "replace(s, '|' || pa || '||' || pb || '|', " +
                "'|' || pa || pb || '|')"))
            .select(col("source"), col("w"), col("f"), col("s"))
        }
        enc.groupBy(col("source"))
          .agg(count(lit(1)).cast("bigint").as("n_forms"),
            sum(col("f") * length(col("w"))).cast("bigint")
              .as("n_chars"),
            expr(Bpe.nSyms).cast("bigint").as("n_tokens_enc"))
          .withColumn("ratio_ppm",
            expr("(n_tokens_enc * 1000000) div n_chars").cast("bigint"))
      }
      val rh = encode(held)
      val rv = encode(base).select(col("source"),
        col("ratio_ppm").as("base_ratio_ppm"))
      rh.join(broadcast(rv), "source")
        .select(col("source"), col("n_forms"), col("n_chars"),
          col("n_tokens_enc"), col("ratio_ppm"), col("base_ratio_ppm"),
          (col("ratio_ppm") - col("base_ratio_ppm")).cast("bigint")
            .as("gap_ppm"))
        .orderBy(col("source"))
    },

    // Maintenance: compact q268's wave-accumulated store into one file
    // per 16-way fingerprint bucket and serve the SAME report from the
    // compacted artifact. The oracle is q268's — hash equality IS the
    // content-preservation proof; the layout claim (exactly one file
    // per bucket, wave files gone) is asserted by Round11ExtraSpec.
    Q(
      "q274_dedup_store_compaction",
      s"""WITH fp AS MATERIALIZED (
         |  SELECT doc_id, source, md5(text) AS h,
         |    CASE WHEN doc_id % 7 < 4
         |      THEN LEAST(doc_id % 4, doc_id % 7)
         |      ELSE doc_id % 4 END AS aw
         |  FROM documents),
         |win AS MATERIALIZED (
         |  SELECT h, MIN(aw * 100000000000 + doc_id) AS wk
         |  FROM fp GROUP BY h),
         |winner AS MATERIALIZED (
         |  SELECT f.source, f.doc_id
         |  FROM fp f JOIN win w
         |    ON f.h = w.h AND f.aw * 100000000000 + f.doc_id = w.wk)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(SUM(doc_id) % $M AS BIGINT) AS kept_id_sum,
         |  CAST(COUNT(DISTINCT doc_id % $NBKT) AS BIGINT) AS n_buckets
         |FROM winner
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val store = Round11More.buildDedupStore(s, dir)
      val compacted = StreamOps.scratchDir(
        s"graft_dedupstore_c_${VecIndex.dirDigest(dir)}")
      // one shuffle keyed on the bucket → exactly one file per bucket
      s.read.parquet(store)
        .withColumn("hb", (col("doc_id") % NBKT).cast("int"))
        .repartition(NBKT, col("hb"))
        .write.mode("overwrite").partitionBy("hb").parquet(compacted)
      s.read.parquet(compacted)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          (sum(col("doc_id")) % M).cast("bigint").as("kept_id_sum"),
          countDistinct(col("hb")).cast("bigint").as("n_buckets"))
        .orderBy(col("source"))
    })
}
