package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Training-data pipeline operators beyond SURVEY.md §2's inventory — the
  * corpus-preparation passes a 100 TB LLM data pipeline runs between raw
  * ingestion and tokenization: benchmark decontamination, repetition /
  * Zipf / PMI corpus analysis, deterministic sampling (stratified, exact
  * quota, quality-weighted), sequence packing, scrubbing, token pricing,
  * embedding quantization, incremental dedup, BM25 + hybrid retrieval,
  * duplicate-passage detection, and the whole pass composed in one plan
  * (q150). All arithmetic is integer or DECIMAL-stabilized — double
  * additions happen in fixed (fold or pivot) order — so the DuckDB
  * oracle matches bit-for-bit.
  */
object PipelineOps {

  /** Oracle for the end-to-end dedup apply (q141 and the contraction-
    * forced q174): near-dup pairs → connected components via a recursive
    * reachability CTE → survivor accounting per language.
    */
  private[ops] val dedupApplyOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang, n_chars,
      |    list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |prs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM toks a JOIN toks b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id
      |   AND abs(a.n_chars - b.n_chars) <= 5
      |  WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.8),
      |edges AS (
      |  SELECT a, b FROM prs
      |  UNION SELECT b, a FROM prs
      |  UNION SELECT a, a FROM prs
      |  UNION SELECT b, b FROM prs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, MIN(b) AS component
      |         FROM reach GROUP BY a)
      |SELECT d.lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_before,
      |  CAST(SUM(CASE WHEN c.doc_id IS NULL OR c.component = d.doc_id
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
      |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL AND c.component <> d.doc_id
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  /** Spark side of q141/q174: banded near-dup pairs → Components.label
    * (strategy picked by `maxSingleTaskEdges` — q174 forces 0 so the gate
    * exercises the distributed min-label contraction loop, the code path
    * that runs at 100 TB edge counts) → survivor corpus accounting.
    */
  private[ops] def dedupApply(
      s: SparkSession, dir: String, maxSingleTaskEdges: Long): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(split(col("text"), " ")).as("tk"))
    val jac = expr("token_jaccard(tk_a, tk_b)")
    val pairs = Dedup.prefixBandPairs(docs, "tk")
      .filter(jac >= 0.8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comp = Components.label(s, pairs, maxSingleTaskEdges)
      .withColumnRenamed("doc_id", "cid")
    val survivor = col("cid").isNull || col("component") === col("doc_id")
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(comp, col("doc_id") === col("cid"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(survivor, 1).otherwise(0)).as("n_after"),
        sum(when(!survivor, 1).otherwise(0)).as("n_removed"))
      .orderBy(col("lang"))
  }

  /** DuckDB CTE chain ending in `scored(doc_id, bm25)` — BM25 (k1=1.2,
    * b=0.75) for the fixed query {spark, join, stream}. Shared by q147
    * (lexical top-k) and q148 (hybrid fusion). Per-term scores are
    * pivoted to columns and added in FIXED textual order so the sum is
    * not partial-agg order-dependent.
    */
  private val bm25Cte: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM toks WHERE term IN ('spark', 'join', 'stream')
      |  GROUP BY doc_id, term),
      |dl AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |  FROM toks GROUP BY doc_id),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |dfq AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id,
      |    COALESCE(MAX(CASE WHEN tf.term = 'join' THEN
      |      ln(1 + (nn.n - dfq.df + 0.5) / (dfq.df + 0.5))
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)) END), 0)
      |    + COALESCE(MAX(CASE WHEN tf.term = 'spark' THEN
      |      ln(1 + (nn.n - dfq.df + 0.5) / (dfq.df + 0.5))
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)) END), 0)
      |    + COALESCE(MAX(CASE WHEN tf.term = 'stream' THEN
      |      ln(1 + (nn.n - dfq.df + 0.5) / (dfq.df + 0.5))
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)) END), 0)
      |    AS bm25
      |  FROM tf
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  JOIN dfq ON tf.term = dfq.term
      |  CROSS JOIN nn CROSS JOIN ad
      |  GROUP BY tf.doc_id)""".stripMargin

  /** Spark build of the same `scored(doc_id, bm25)` frame. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "spark", "stream") // fixed addition order
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.filter(col("term").isin("spark", "join", "stream"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val nn = Tables.table(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("n"))
    val ad = dl.agg((sum(col("dl")).cast("double") / count(lit(1)))
      .as("avgdl"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val part = log(lit(1) + (col("n") - col("df") + 0.5)
        / (col("df") + 0.5)) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl")
        / col("avgdl")))
    val bm25 = terms.map { t =>
      coalesce(max(when(col("term") === t, part)), lit(0.0))
    }.reduce(_ + _)
    tf.join(dl, "doc_id")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(nn)).crossJoin(broadcast(ad))
      .groupBy(col("doc_id"))
      .agg(bm25.as("bm25"))
  }

  val queries: Seq[Q] = Seq(
    // Benchmark decontamination: flag eval-split documents whose word
    // 5-grams appear anywhere in the train split (the standard n-gram
    // overlap check run before training on scraped corpora). Scale shape:
    // the only join is an EQUI-join on the shingle value — shuffle on the
    // shingle key, train side pre-distincted (map-side partial) — never a
    // doc×doc comparison. At 100 TB the shingle string is replaced by its
    // 64-bit hash to cut shuffle width; semantics are identical.
    Q(
      "q126_decontamination",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))))
        |    AS ng
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |train AS (SELECT DISTINCT ng FROM sh WHERE doc_id % 10 <> 0),
        |ev AS (SELECT doc_id, ng FROM sh WHERE doc_id % 10 = 0)
        |SELECT ev.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |  CAST(SUM(CASE WHEN train.ng IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_contaminated,
        |  ROUND(CAST(SUM(CASE WHEN train.ng IS NOT NULL THEN 1 ELSE 0 END)
        |             AS DOUBLE) / COUNT(*), 6) AS contamination
        |FROM ev LEFT JOIN train ON ev.ng = train.ng
        |GROUP BY ev.doc_id
        |ORDER BY ev.doc_id""".stripMargin) { (s, dir) =>
      // token array materialized BELOW the generator (q79's pattern) so
      // the shingle lambda reads a bound attribute, not a re-split
      val sh = Tables.table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 5), " +
            "i -> concat_ws(' ', slice(toks, i + 1, 5)))"))).as("ng"))
      val train = sh.filter(col("doc_id") % 10 =!= 0)
        .select(col("ng").as("tng")).distinct()
      val hit = sum(when(col("tng").isNotNull, 1).otherwise(0))
      sh.filter(col("doc_id") % 10 === 0)
        .join(train, col("ng") === col("tng"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"),
          hit.as("n_contaminated"),
          round(hit.cast("double") / count(lit(1)), 6).as("contamination"))
        .orderBy(col("doc_id"))
    },

    // Repetition quality signals (the Gopher-rule family): distinct-token
    // fraction, most-frequent-token fraction, duplicate-bigram fraction.
    // Token counts go through one explode + two hash aggregations (all
    // partial-agg pipelines); bigram stats are computed map-side from the
    // token array. One shuffle on doc_id at any scale.
    Q(
      "q127_repetition_quality",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) - 1 AS n_bigrams,
        |    len(list_distinct(list_transform(
        |      range(len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2]))) AS n_uniq_bigrams
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_uniq, CAST(MAX(c) AS BIGINT) AS top_cnt
        |  FROM cnt GROUP BY doc_id)
        |SELECT a.doc_id, a.n_tokens,
        |  ROUND(CAST(a.n_uniq AS DOUBLE) / a.n_tokens, 6) AS uniq_frac,
        |  ROUND(CAST(a.top_cnt AS DOUBLE) / a.n_tokens, 6) AS top_frac,
        |  ROUND(1.0 - CAST(b.n_uniq_bigrams AS DOUBLE) / b.n_bigrams, 6)
        |    AS dup_bigram_frac
        |FROM agg a JOIN bg b ON a.doc_id = b.doc_id
        |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val bg = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          (size(col("toks")) - 1).as("n_bigrams"),
          size(array_distinct(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> concat_ws(' ', element_at(toks, i + 1), " +
              "element_at(toks, i + 2)))"))).as("n_uniq_bigrams"))
      val agg = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_uniq"),
          max(col("c")).as("top_cnt"))
      agg.join(bg, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_uniq").cast("double") / col("n_tokens"), 6)
            .as("uniq_frac"),
          round(col("top_cnt").cast("double") / col("n_tokens"), 6)
            .as("top_frac"),
          round(lit(1.0) - col("n_uniq_bigrams").cast("double")
            / col("n_bigrams"), 6).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // Deterministic stratified sampling + language rebalancing: the
    // sampling decision is a pure integer hash of doc_id (reproducible
    // across runs/engines/cluster layouts — rand() is none of those), and
    // the per-language balance weight is what a mixture-targeting pipeline
    // multiplies into its sampling rate to flatten the language skew.
    // Pure map + one aggregate; the total is a 5-row window, not a
    // driver collect.
    Q(
      "q128_stratified_sample",
      """WITH s AS (
        |  SELECT lang,
        |    ((doc_id * 1103515245 + 12345) % 2147483648) % 100 AS h
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
        |    CAST(SUM(CASE WHEN h < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sampled
        |  FROM s GROUP BY lang)
        |SELECT lang, n_total, n_sampled,
        |  ROUND(CAST(n_sampled AS DOUBLE) / n_total, 6) AS sample_rate,
        |  ROUND(LEAST(1.0,
        |    (CAST(SUM(n_total) OVER () AS DOUBLE) / COUNT(*) OVER ())
        |      / n_total), 6) AS balance_weight
        |FROM g
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val h = ((col("doc_id") * 1103515245L + 12345L) % 2147483648L) % 100
      val g = Tables.table(s, dir, "documents")
        .select(col("lang"), h.as("h"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("h") < 20, 1).otherwise(0)).as("n_sampled"))
      val w = Window.partitionBy()
      g.select(col("lang"), col("n_total"), col("n_sampled"),
        round(col("n_sampled").cast("double") / col("n_total"), 6)
          .as("sample_rate"),
        round(least(lit(1.0),
          (sum(col("n_total")).over(w).cast("double")
            / count(lit(1)).over(w)) / col("n_total")), 6)
          .as("balance_weight"))
        .orderBy(col("lang"))
    },

    // Sequence packing: assign documents to fixed token-budget chunks via
    // a running-sum window per language — the streaming form of the
    // pre-tokenization packing pass (docs may straddle a boundary; the
    // chunk is decided by each doc's START offset, which makes assignment
    // order-deterministic and engine-independent). At 100 TB the partition
    // key becomes (lang, shard) so no single window partition exceeds a
    // task; the in-shard running sum is unchanged.
    Q(
      "q129_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS off
        |  FROM t)
        |SELECT lang, CAST(FLOOR(off / 2048) AS BIGINT) AS chunk_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c
        |GROUP BY lang, chunk_id
        |ORDER BY lang, chunk_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"))
        .withColumn("off", sum(col("n_tok")).over(w) - col("n_tok"))
        .groupBy(col("lang"),
          floor(col("off") / 2048).cast("bigint").as("chunk_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("lang"), col("chunk_id"))
    },

    // Stopword scrub: filter the token stream, emit before/after counts
    // and a digest of the scrubbed text (the downstream-identity check a
    // cleaning pass ships instead of the full rewritten corpus). Pure
    // map-side lambda over the token array — scan-speed at any scale.
    Q(
      "q130_stopword_scrub",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t NOT IN ('a', 'the'))) AS BIGINT) AS n_after,
        |  md5(array_to_string(list_filter(string_split(text, ' '),
        |    t -> t NOT IN ('a', 'the')), ' ')) AS scrub_digest
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_before"),
          size(expr("filter(toks, t -> NOT t IN ('a', 'the'))"))
            .cast("bigint").as("n_after"),
          md5(concat_ws(" ",
            expr("filter(toks, t -> NOT t IN ('a', 'the'))")))
            .as("scrub_digest"))
        .orderBy(col("doc_id"))
    },

    // Int8 embedding quantization: the 4× storage-compression pass a
    // 100 TB embedding store runs before indexing. Per-vector symmetric
    // scale (max|x|/127), round-half-up to int8, plus the round-trip
    // metrics that gate the compression (reconstruction MSE and
    // original↔dequantized cosine). Every number is a sequential
    // left-to-right fold over dimensions — identical in both engines —
    // and the op is a pure map stage: no shuffle at any scale.
    Q(
      "q132_embedding_quantize",
      """WITH q AS (
        |  SELECT vec_id, label, embedding,
        |    NULLIF(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127, 0) AS qscale
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, label, qscale, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / qscale + 0.5) AS BIGINT))
        |      AS qi
        |  FROM q)
        |SELECT vec_id, label,
        |  ROUND(qscale, 6) AS qscale_r,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(qi, x -> abs(x))), (a, b) -> a + b) AS BIGINT)
        |    AS l1q,
        |  ROUND(list_reduce(list_transform(range(len(embedding)),
        |    i -> (CAST(embedding[i+1] AS DOUBLE) - qi[i+1] * qscale)
        |       * (CAST(embedding[i+1] AS DOUBLE) - qi[i+1] * qscale)),
        |    (a, b) -> a + b) * 1000000 / len(embedding), 4) AS mse_ppm,
        |  ROUND(list_reduce(list_transform(range(len(embedding)),
        |      i -> CAST(embedding[i+1] AS DOUBLE) * qi[i+1] * qscale),
        |      (a, b) -> a + b)
        |    / sqrt(list_reduce(list_transform(range(len(embedding)),
        |      i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)),
        |      (a, b) -> a + b))
        |    / sqrt(list_reduce(list_transform(range(len(embedding)),
        |      i -> (qi[i+1] * qscale) * (qi[i+1] * qscale)),
        |      (a, b) -> a + b)), 6) AS cos_roundtrip
        |FROM qq
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      def fold(body: String): String =
        s"aggregate(sequence(0, size(embedding) - 1), CAST(0 AS DOUBLE), " +
          s"(acc, i) -> acc + ($body))"
      Tables.table(s, dir, "embeddings")
        // nullif: an all-zero vector gives qscale=0, where Spark's Divide
        // returns NULL but DuckDB's IEEE float division gives inf/NaN —
        // NULL-ing the scale makes both engines agree on degenerate rows
        .withColumn("qscale", expr(
          "nullif(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127, 0D)"))
        .withColumn("qi", expr(
          "transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) / qscale + 0.5) AS BIGINT))"))
        .select(col("vec_id"), col("label"),
          round(col("qscale"), 6).as("qscale_r"),
          expr("aggregate(qi, CAST(0 AS BIGINT), (a, b) -> a + abs(b))")
            .as("l1q"),
          round(expr(fold(
            "(CAST(element_at(embedding, i+1) AS DOUBLE) - element_at(qi, i+1) * qscale)" +
              " * (CAST(element_at(embedding, i+1) AS DOUBLE) - element_at(qi, i+1) * qscale)"))
            * 1000000 / size(col("embedding")), 4).as("mse_ppm"),
          round(expr(fold(
            "CAST(element_at(embedding, i+1) AS DOUBLE) * element_at(qi, i+1) * qscale"))
            / sqrt(expr(fold(
              "CAST(element_at(embedding, i+1) AS DOUBLE) * CAST(element_at(embedding, i+1) AS DOUBLE)")))
            / sqrt(expr(fold(
              "(element_at(qi, i+1) * qscale) * (element_at(qi, i+1) * qscale)"))),
            6).as("cos_roundtrip"))
        .orderBy(col("vec_id"))
    },

    // Deterministic corpus shuffle: training-epoch order as a pure integer
    // hash of doc_id — reproducible across engines, runs, and partition
    // layouts (ORDER BY rand() is none of those). At 100 TB this is a
    // range partition on the hash key (one shuffle, totally ordered
    // output files); the gate query reads the head of that order.
    Q(
      "q133_deterministic_shuffle",
      """SELECT doc_id,
        |  ((doc_id * 1103515245 + 12345) % 2147483648) AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          ((col("doc_id") * 1103515245L + 12345L) % 2147483648L)
            .as("shuffle_key"))
        .orderBy(col("shuffle_key"), col("doc_id"))
        .limit(20)
    },

    // Incremental ingestion dedup: a new batch (10% of docs) checked
    // against the standing corpus WITHOUT re-deduplicating the corpus —
    // exact dups via content-digest equi-join, near-dups via the
    // asymmetric (lang, length-band) banded probe (Dedup.bandedProbe) +
    // exact token Jaccard. Each batch doc gets the triage verdict an
    // ingestion pipeline acts on. This is the nightly shape at 100 TB:
    // cost scales with the batch, not the corpus.
    Q(
      "q134_incremental_dedup",
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars, md5(text) AS h,
        |    list_distinct(string_split(text, ' ')) AS tk
        |  FROM documents),
        |b AS (SELECT * FROM d WHERE doc_id % 10 = 7),
        |c AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
        |ex AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.h = c.h),
        |nd AS (
        |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b JOIN c
        |    ON b.lang = c.lang AND abs(b.n_chars - c.n_chars) <= 5
        |  WHERE CAST(len(list_intersect(b.tk, c.tk)) AS DOUBLE)
        |      / len(list_distinct(list_concat(b.tk, c.tk))) >= 0.8
        |  GROUP BY b.doc_id)
        |SELECT b.doc_id,
        |  ex.doc_id IS NOT NULL AS exact_dup,
        |  CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_neardup,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'drop_exact'
        |       WHEN COALESCE(nd.n, 0) > 0 THEN 'drop_neardup'
        |       ELSE 'keep' END AS action
        |FROM b LEFT JOIN ex ON b.doc_id = ex.doc_id
        |LEFT JOIN nd ON b.doc_id = nd.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text")).as("h"),
          array_distinct(split(col("text"), " ")).as("tk"))
      val isBatch = col("doc_id") % 10 === 7
      val b = d.filter(isBatch)
      val c = d.filter(!isBatch)
      val exact = b.select(col("doc_id"), col("h"))
        .join(c.select(col("h").as("ch")).distinct(),
          col("h") === col("ch"), "left")
        .groupBy(col("doc_id"))
        .agg(max(col("ch").isNotNull).as("exact_dup"))
      val near = Dedup.bandedProbe(b, c, "tk")
        .filter(expr("token_jaccard(tk_a, tk_b)") >= 0.8)
        .groupBy(col("batch_id").as("doc_id"))
        .agg(count(lit(1)).as("n_neardup"))
      b.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
          coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
          when(col("exact_dup"), "drop_exact")
            .when(coalesce(col("n_neardup"), lit(0L)) > 0, "drop_neardup")
            .otherwise("keep").as("action"))
        .orderBy(col("doc_id"))
    },

    // Bigram PMI (pointwise mutual information): the collocation score
    // corpus linguists and tokenizer-vocabulary builders rank candidate
    // merges by. Unigram and bigram counts are partial-agg explodes; the
    // totals are 1-row broadcasts; the per-bigram join against the two
    // unigram counts is an equi-join on the token — no quadratic step
    // anywhere, so it runs at corpus scale.
    Q(
      "q138_pmi_cooccurrence",
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS tk FROM documents),
        |uni AS (
        |  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t),
        |bi AS (
        |  SELECT b AS bigram, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_transform(range(len(tk) - 1),
        |          i -> tk[i+1] || ' ' || tk[i+2])) AS b
        |        FROM toks WHERE len(tk) >= 2)
        |  GROUP BY b),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni),
        |btot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_bi FROM bi)
        |SELECT bi.bigram, bi.c AS n,
        |  ROUND(ln((bi.c / btot.n_bi)
        |    / ((ua.c / tot.n_uni) * (ub.c / tot.n_uni))), 6) AS pmi
        |FROM bi
        |JOIN uni ua ON ua.tok = string_split(bi.bigram, ' ')[1]
        |JOIN uni ub ON ub.tok = string_split(bi.bigram, ' ')[2]
        |CROSS JOIN tot CROSS JOIN btot
        |WHERE bi.c >= 20
        |ORDER BY pmi DESC, bigram
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = Tables.table(s, dir, "documents")
        .select(split(col("text"), " ").as("tk"))
      val uni = toks.select(explode(col("tk")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val bi = toks.filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(tk) - 2), " +
            "i -> concat_ws(' ', element_at(tk, i + 1), element_at(tk, i + 2)))"))
          .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).cast("double").as("n_uni"))
      val btot = bi.agg(sum(col("c")).cast("double").as("n_bi"))
      bi.filter(col("c") >= 20)
        .join(uni.select(col("tok").as("ta"), col("c").as("ca")),
          expr("element_at(split(bigram, ' '), 1)") === col("ta"))
        .join(uni.select(col("tok").as("tb"), col("c").as("cb")),
          expr("element_at(split(bigram, ' '), 2)") === col("tb"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
        .select(col("bigram"), col("c").as("n"),
          round(log((col("c") / col("n_bi"))
            / ((col("ca") / col("n_uni")) * (col("cb") / col("n_uni")))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(20)
    },

    // LSH bucket diagnostics: the bucket-size histogram of q47's MinHash
    // band keys — the observability check that catches degenerate
    // featurization BEFORE a quadratic bucket join runs (the q53 lesson:
    // un-shingled tokens collapse every doc into a handful of buckets).
    // Two partial-agg group-bys; output is O(distinct bucket sizes).
    Q(
      "q139_lsh_bucket_stats",
      s"""WITH th AS (
         |  SELECT doc_id, ${Dedup.duckTokenHashes} AS hashes FROM documents),
         |bands AS (
         |  SELECT doc_id, array_to_string(list_transform(range(4), i ->
         |    list_min(list_transform(hashes,
         |      h -> ((2*i + 1) * h + 7919 * i) % 1000000007))), '-') AS b0
         |  FROM th),
         |buckets AS (
         |  SELECT b0, CAST(COUNT(*) AS BIGINT) AS bucket_size
         |  FROM bands GROUP BY b0)
         |SELECT bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(bucket_size * (bucket_size - 1) / 2) AS BIGINT)
         |    AS candidate_pairs
         |FROM buckets
         |GROUP BY bucket_size
         |ORDER BY bucket_size""".stripMargin) { (s, dir) =>
      // explode + partial-agg min per hash function (q48's formulation):
      // each token's rolling hash is computed ONCE; the transform-inside-
      // transform form re-inlines the char fold into every minhash lambda
      // (projection collapse) — measured ~4× slower at sf0.1
      val perToken = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextHash.tokenHashesDistinct(col("text"))).as("h"))
      val mins = (0 until 4).map { i =>
        min(expr(s"((2*$i + 1) * h + ${7919 * i}) % 1000000007")).as(s"m$i")
      }
      perToken.groupBy(col("doc_id"))
        .agg(mins.head, mins.tail: _*)
        .select(concat_ws("-", (0 until 4).map(i => col(s"m$i")): _*).as("b0"))
        .groupBy(col("b0")).agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("bucket_size"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("bucket_size") * (col("bucket_size") - 1) / 2)
            .cast("bigint").as("candidate_pairs"))
        .orderBy(col("bucket_size"))
    },

    // Dedup APPLIED end-to-end: near-dup pairs (q46's banded join) →
    // connected components (q114's Components.label) → survivor corpus
    // (min-doc_id representative per cluster, everything unclustered
    // kept) → per-language before/after accounting. This is the pass
    // that actually shrinks the corpus; everything upstream only
    // identifies. The label join is a plain equi-join on doc_id (AQE
    // broadcasts it when the clustered set is small; at a high dup rate
    // on 100 TB it is a co-partitioned shuffle join — never quadratic).
    Q(
      "q141_dedup_apply",
      dedupApplyOracle) { (s, dir) =>
      dedupApply(s, dir, Components.SingleTaskMaxEdges)
    },

    // BPE-ish token counting: subword-piece estimates without a trained
    // vocabulary — alpha-run segmentation via regex, ceil(len/4) pieces
    // per run (the standard ~4-chars/token budgeting heuristic), plus the
    // raw chars/4 estimate. This is how a pipeline prices a corpus in
    // tokens before the real tokenizer ever runs. Pure map stage.
    Q(
      "q143_bpe_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
        |    AS n_alpha_runs,
        |  CAST(COALESCE(list_sum(list_transform(
        |    regexp_extract_all(text, '[a-z]+'),
        |    r -> (len(r) + 3) // 4)), 0) AS BIGINT) AS n_bpe_tokens,
        |  CAST((n_chars + 3) // 4 AS BIGINT) AS n_est_char4
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)"))
            .cast("bigint").as("n_alpha_runs"),
          expr("aggregate(transform(regexp_extract_all(text, '[a-z]+', 0), " +
            "r -> (length(r) + 3) div 4), CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("n_bpe_tokens"),
          expr("(n_chars + 3) div 4").cast("bigint").as("n_est_char4"))
        .orderBy(col("doc_id"))
    },

    // Zipf's-law fit: slope of log-frequency vs log-rank over the top-100
    // vocabulary — the corpus-health statistic that flags synthetic or
    // template-heavy text (natural corpora sit near slope -1). The
    // regression sums go through DECIMAL so partial-agg order cannot
    // perturb them (ln() ulp noise is absorbed by round-6 first, the q113
    // precedent); the final slope arithmetic runs on ONE row.
    Q(
      "q144_zipf_fit",
      """WITH uni AS (
        |  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY t),
        |ranked AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM uni),
        |pts AS (
        |  SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,9)) AS x,
        |         CAST(ROUND(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,9)) AS y
        |  FROM ranked WHERE r <= 100),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
        |FROM agg""".stripMargin) { (s, dir) =>
      val uni = Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c").desc, col("tok"))
      val pts = uni
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= 100)
        .select(
          round(log(col("r").cast("double")), 6).cast("decimal(18,9)").as("x"),
          round(log(col("c").cast("double")), 6).cast("decimal(18,9)").as("y"))
      pts.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .select(col("n").cast("bigint").as("n_points"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"))
    },

    // Exact quota sampling: EXACTLY min(quota, n) documents per stratum,
    // chosen by deterministic hash order (q128's rate sampling hits the
    // quota only in expectation — audits and eval sets need exact
    // counts). One rank window per stratum; emitted as per-stratum
    // accounting plus an order-independent id checksum so the oracle
    // pins the exact membership, not just the counts.
    Q(
      "q145_quota_sample",
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    ((doc_id * 1103515245 + 12345) % 2147483648) AS hk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h)
        |SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN doc_id ELSE 0 END) AS BIGINT)
        |    AS kept_id_sum
        |FROM r GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val hk = (col("doc_id") * 1103515245L + 12345L) % 2147483648L
      val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), hk.as("hk"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") <= 50, 1).otherwise(0)).as("n_kept"),
          sum(when(col("rn") <= 50, col("doc_id")).otherwise(0L))
            .as("kept_id_sum"))
        .orderBy(col("lang"))
    },

    // Quality-weighted acceptance sampling (the DCLM/FineWeb shape):
    // acceptance probability scales with the document's quality signal —
    // here the distinct-token fraction — and the accept decision is the
    // deterministic hash-vs-threshold compare, so the sampled corpus is
    // reproducible. All map-side except the final decile rollup.
    Q(
      "q146_quality_weighted_sample",
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS quality,
        |    ((doc_id * 1103515245 + 12345) % 2147483648) / 2147483648.0
        |      AS u
        |  FROM documents),
        |d AS (
        |  SELECT CAST(FLOOR(quality * 10) AS BIGINT) AS decile,
        |    CASE WHEN u < quality THEN 1 ELSE 0 END AS kept
        |  FROM q)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS accept_rate
        |FROM d GROUP BY decile
        |ORDER BY decile""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val quality = size(array_distinct(toks)).cast("double") / size(toks)
      val u = ((col("doc_id") * 1103515245L + 12345L) % 2147483648L) /
        lit(2147483648.0)
      Tables.table(s, dir, "documents")
        .select(floor(quality * 10).cast("bigint").as("decile"),
          when(u < quality, 1).otherwise(0).as("kept"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
          round(sum(col("kept")).cast("double") / count(lit(1)), 6)
            .as("accept_rate"))
        .orderBy(col("decile"))
    },

    // BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    // the lexical half of a retrieval stack, built from the same
    // partial-agg tf/df machinery as q113's TF-IDF. Per-term scores are
    // pivoted to columns and added in FIXED textual order (a SUM over a
    // shuffled group would be order-dependent in the last ulp); corpus
    // stats (N, avgdl, df) are 1-row/3-row broadcasts.
    Q(
      "q147_bm25_topk",
      s"""WITH $bm25Cte
         |SELECT doc_id, ROUND(bm25, 6) AS bm25
         |FROM scored
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      bm25Scored(s, dir)
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    },

    // Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 lexical
    // ranking with the embedding-cosine ranking for probe vector 0 —
    // the modern two-tower search stack in one query. Both rankings are
    // global windows over already-aggregated frames (tiny); the fusion is
    // a full-outer join on the doc id with fixed-order addition of the
    // two reciprocal terms. At 100 TB each ranking comes from its own
    // index (inverted / ANN); the fusion cost is O(candidates).
    Q(
      "q148_hybrid_rrf",
      s"""WITH $bm25Cte,
         |rb AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY ROUND(bm25, 6) DESC, doc_id) AS r
         |  FROM scored),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ra AS (
         |  SELECT vec_id,
         |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r
         |  FROM (SELECT e.vec_id,
         |          ROUND(${Similarity.duckDot("e.embedding", "qv.qe")}, 6)
         |            AS cos
         |        FROM embeddings e, qv WHERE e.vec_id <> 0))
         |SELECT COALESCE(rb.doc_id, ra.vec_id) AS doc_id,
         |  ROUND(COALESCE(1.0 / (60 + rb.r), 0)
         |      + COALESCE(1.0 / (60 + ra.r), 0), 6) AS rrf
         |FROM rb FULL OUTER JOIN ra ON rb.doc_id = ra.vec_id
         |ORDER BY rrf DESC, doc_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      val wb = Window.orderBy(round(col("bm25"), 6).desc, col("doc_id"))
      val rb = bm25Scored(s, dir)
        .withColumn("r", row_number().over(wb))
        .select(col("doc_id"), col("r").as("rb"))
      val e = Tables.table(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val wa = Window.orderBy(col("cos").desc, col("vec_id"))
      val ra = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(expr("array_dot(embedding, qe)"), 6).as("cos"))
        .withColumn("r", row_number().over(wa))
        .select(col("vec_id"), col("r").as("ra"))
      rb.join(ra, col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // Duplicate-passage detection: 8-gram shingles repeated across ≥ 2
    // documents — the passage-level signal (boilerplate, licenses,
    // templates) that document-level dedup misses. Per-doc distinct
    // shingles → one partial-agg group-by on the shingle; at 100 TB the
    // shingle string becomes its 64-bit hash and the HAVING ≥ 2 filter
    // runs map-side-combined, so output is only the repeated tail.
    Q(
      "q149_duplicate_passages",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(toks) - 7),
        |    i -> array_to_string(toks[i+1:i+8], ' ')))) AS ng
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 8),
        |rep AS (
        |  SELECT ng, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM sh GROUP BY ng HAVING COUNT(*) >= 2)
        |SELECT ng AS passage, n_docs
        |FROM rep
        |ORDER BY n_docs DESC, passage
        |LIMIT 10""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 8), " +
            "i -> concat_ws(' ', slice(toks, i + 1, 8)))"))).as("ng"))
        .groupBy(col("ng")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("ng").as("passage"), col("n_docs"))
        .orderBy(col("n_docs").desc, col("passage"))
        .limit(10)
    },

    // The full pre-training corpus pass as ONE declarative plan: raw →
    // quality gate (type-token ratio + length) → exact dedup (min-doc_id
    // survivor per content digest) → per-language quota sample —
    // with doc/token accounting after every stage. Each stage is the
    // already-proven operator from this module; composing them in one
    // query is the point: Catalyst sees the whole pipeline and the
    // intermediate corpora never materialize.
    Q(
      "q150_pipeline_composed",
      """WITH base AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    string_split(text, ' ') AS toks
        |  FROM documents),
        |s1 AS (
        |  SELECT * FROM base
        |  WHERE n_chars >= 100
        |    AND len(list_distinct(toks)) >= 0.4 * len(toks)),
        |s2 AS (
        |  SELECT * FROM s1
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM s1 GROUP BY md5(text))),
        |s3 AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id * 1103515245 + 12345) % 2147483648),
        |               doc_id) AS rn
        |    FROM s2)
        |  WHERE rn <= 50)
        |SELECT 'p0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens FROM base
        |UNION ALL
        |SELECT 'p1_quality', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(len(toks)) AS BIGINT) FROM s1
        |UNION ALL
        |SELECT 'p2_exact_dedup', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(len(toks)) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT 'p3_quota', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(len(toks)) AS BIGINT) FROM s3
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"),
          split(col("text"), " ").as("toks"))
      val s1 = base.filter(col("n_chars") >= 100 &&
        size(array_distinct(col("toks"))).cast("double")
          >= lit(0.4) * size(col("toks")))
      val reps = s1.groupBy(md5(col("text")).as("dg"))
        .agg(min(col("doc_id")).as("rep_id"))
        .select(col("rep_id"))
      val s2 = s1.join(reps, col("doc_id") === col("rep_id"), "left_semi")
      val w = Window.partitionBy(col("lang"))
        .orderBy((col("doc_id") * 1103515245L + 12345L) % 2147483648L,
          col("doc_id"))
      val s3 = s2.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
      def acct(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      acct("p0_raw", base)
        .unionByName(acct("p1_quality", s1))
        .unionByName(acct("p2_exact_dedup", s2))
        .unionByName(acct("p3_quota", s3))
        .orderBy(col("stage"))
    },

    // Join-key skew diagnosis: the distribution of per-key group sizes —
    // the pre-flight probe that decides whether a shuffle join needs
    // salting (q65) or AQE skew handling BEFORE it runs. One partial-agg
    // group-by plus a 1-row ordered-set aggregate over the (small) key
    // histogram; cost is O(distinct keys), never O(rows).
    Q(
      "q151_skew_stats",
      """WITH g AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MIN(n) AS BIGINT) AS min_n,
        |  CAST(quantile_disc(n, 0.5) AS BIGINT) AS med_n,
        |  CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_n,
        |  CAST(MAX(n) AS BIGINT) AS max_n,
        |  ROUND(CAST(MAX(n) AS DOUBLE) / quantile_disc(n, 0.5), 6)
        |    AS skew_ratio
        |FROM g""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"),
          min(col("n")).as("min_n"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
            .cast("bigint").as("med_n"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n)")
            .cast("bigint").as("p99_n"),
          max(col("n")).as("max_n"),
          round(max(col("n")).cast("double")
            / expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)"), 6)
            .as("skew_ratio"))
    },

    // Corpus mix report: the per-(source, language) doc/token shares a
    // mixture-weighted training run is configured from. One scan + one
    // aggregate; the corpus-total denominator is a window over the tiny
    // grouped result, not a second scan.
    Q(
      "q131_corpus_mix",
      """WITH g AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |  ROUND(CAST(n_tokens AS DOUBLE)
        |    / SUM(n_tokens) OVER (), 6) AS token_share
        |FROM g
        |ORDER BY source, lang""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy()
      Tables.table(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("n_tokens"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double")
            / sum(col("n_tokens")).over(w), 6).as("token_share"))
        .orderBy(col("source"), col("lang"))
    })
}
