package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Round-12 serving + planning wave (second half of the round):
  *
  *  - q285 N-GRAM CONTINUATION SERVE: the infini-gram serving shape
  *    (Liu et al. 2024, "Infini-gram: Scaling Unbounded n-gram Language
  *    Models to a Trillion Tokens") — corpus n-gram statistics as a
  *    PERSISTED artifact (context-gram counts + continuation counts),
  *    served from the artifact alone: occurrence count, doc frequency,
  *    distinct continuations and the argmax next-token with its
  *    probability share, for a deterministic top-16 query batch. The
  *    oracle recomputes everything from the raw corpus, so the hash
  *    compare proves serve-from-artifact == recompute.
  *  - q286 EPOCH-MIX PLAN: the data-mixing repetition plan (how many
  *    epochs of each stratum fit a token budget) — sqrt-temperature
  *    weights, EXACT largest-remainder token allocation (q281's
  *    discipline), a 1.75-epoch repetition cap, and one exact
  *    redistribution round of the capped excess to uncapped strata.
  *    Pure integer arithmetic end to end on an O(strata) frame.
  *  - q287 PACK BOUNDARY AUDIT: for q264's concat-split packing, the
  *    cross-document attention audit — per packed sequence, the number
  *    of (i, j) token pairs whose attention crosses a document
  *    boundary inside the sequence: cross = (T^2 - sum(seg^2)) / 2
  *    over the sequence's per-doc segment lengths. This is the number
  *    that decides whether a run needs document-masked attention.
  *
  * Reference scope: PalNilsson/ask-duckdb serves no corpus statistics
  * and plans nothing (query_llm.py:419-506); 100 TB training-data mandate.
  */
object Round12Serve {

  private val M = 1000000007L
  // Continuation argmax encoding base: MAX(c * M1 + (M - nxt)) packs
  // (count, tie-break) into one BIGINT so the argmax is a plain
  // partial-aggregable MAX in both engines. BOUND: the product needs
  // c < 2^63 / M1 ≈ 9.2e9 occurrences of a single context gram —
  // beyond that Spark wraps silently while DuckDB errors on overflow
  // (round-12 advice). A corpus approaching that per-gram count (only
  // ~degenerate single-token contexts at web scale) must switch to a
  // struct-max argmax: max(struct(c, M - nxt)) avoids the product at
  // the cost of a non-codegen'd struct comparator.
  private val M1 = M + 1
  private[ops] val CTX_W = 3 // q285 context length (tokens)
  private[ops] val QN = 16 // q285 query-batch size
  private[ops] val CAP_MILLI = 1750L // q286: repetition cap (1.75 epochs)
  // q286 budget = BUDGET_NUM/BUDGET_DEN of the corpus tokens (1.5x —
  // with the cap this exercises BOTH branches: a budget equal to the
  // corpus at cap 1.0 degenerates to "every stratum exactly once")
  private[ops] val BUDGET_NUM = 3L
  private[ops] val BUDGET_DEN = 2L

  // ---------------- q285: persisted n-gram store ----------------

  // dir -> q285's persisted n-gram store root
  private[ops] val ngramMemo = new ArtifactStore.Memo[String, Unit]

  /** (doc_id, g, nxt): every CTX_W-token context occurrence that HAS a
    * continuation, with the next token's hash. One transform + explode
    * — occurrence-linear, no join.
    */
  private def contextOcc(docs: DataFrame): DataFrame =
    docs
      .withColumn("th", TextHash.tokenHashesPos(col("text")))
      .filter(size(col("th")) >= CTX_W + 1)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(th) - ${CTX_W + 1}), i -> struct(" +
          s"aggregate(slice(th, i + 1, $CTX_W), CAST(0 AS BIGINT), " +
          s"(a, b) -> (a * 131 + b) % $M) AS g, " +
          s"element_at(th, i + ${CTX_W + 1}) AS nxt))")).as("o"))
      .select(col("doc_id"), col("o.g").as("g"), col("o.nxt").as("nxt"))

  /** Artifact root for `dir`'s n-gram store: gd/ (gram -> count, doc
    * frequency) and cont/ (gram, next-token -> count). A fresh marker
    * means serve-without-rebuild. At 100 TB both tables are O(distinct
    * (gram, next)) rows — the suffix-table shape infini-gram serves
    * from — and every serve below is artifact reads only.
    */
  private[ops] def ngramArtifact(s: SparkSession, dir: String): String = {
    lazy val docs = Tables.table(s, dir, "documents")
    ngramMemo(dir, VecIndex.tableFileSig(dir, "documents"))(
      (ArtifactStore.root(s"graft_ngramlm_${VecIndex.dirDigest(dir)}"),
        Round12Ops.docsMarker(docs), ())) { (p, _) =>
      val occ = contextOcc(docs).localCheckpoint(true)
      occ.groupBy(col("g"))
        .agg(count(lit(1)).cast("bigint").as("cnt"),
          countDistinct(col("doc_id")).cast("bigint").as("ndocs"))
        .write.mode("overwrite").parquet(s"$p/gd")
      occ.groupBy(col("g"), col("nxt"))
        .agg(count(lit(1)).cast("bigint").as("c"))
        .write.mode("overwrite").parquet(s"$p/cont")
      occ.unpersist()
    }._1
  }

  val queries: Seq[Q] = Seq(
    // E8/serving: n-gram continuation statistics served from the
    // persisted store. The query batch is the top-QN most frequent
    // context grams (cnt DESC, g ASC — deterministic, and a TakeOrdered
    // top-k, never a global sort); the per-gram argmax continuation is
    // an integer-encoded MAX (c * (M+1) + (M - nxt)): one partial-
    // aggregable pass, ties broken toward the smallest next-token hash
    // in both engines. top_share6 is the argmax continuation's
    // probability mass in ppm — the greedy-decode number an n-gram LM
    // serves. Everything below the artifact reads is O(QN) rows.
    Q(
      "q285_ngram_lm_serve",
      s"""WITH th AS MATERIALIZED (
         |  SELECT doc_id, ${Round11Ops.duckPosTokenHashes} AS th
         |  FROM documents),
         |occ AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      th[u.pos+1:u.pos+$CTX_W]),
         |      (a, b) -> (a * 131 + b) % $M) AS g,
         |    th[u.pos+${CTX_W + 1}] AS nxt
         |  FROM th, LATERAL (SELECT unnest(generate_series(0,
         |    len(th) - ${CTX_W + 1})) AS pos) u
         |  WHERE len(th) >= ${CTX_W + 1}),
         |gd AS MATERIALIZED (
         |  SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
         |  FROM occ GROUP BY g),
         |top AS MATERIALIZED (
         |  SELECT g, cnt, ndocs FROM gd ORDER BY cnt DESC, g LIMIT $QN),
         |cont AS MATERIALIZED (
         |  SELECT o.g, o.nxt, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM occ o JOIN top t ON t.g = o.g GROUP BY o.g, o.nxt),
         |agg AS (
         |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_next,
         |    MAX(c * $M1 + ($M - nxt)) AS topsc
         |  FROM cont GROUP BY g)
         |SELECT t.g, t.cnt, t.ndocs, a.n_next,
         |  CAST($M - (a.topsc % $M1) AS BIGINT) AS top_nxt,
         |  CAST((1000000 * (a.topsc // $M1)) // t.cnt AS BIGINT)
         |    AS top_share6
         |FROM top t JOIN agg a ON a.g = t.g
         |ORDER BY t.cnt DESC, t.g""".stripMargin) { (s, dir) =>
      val root = ngramArtifact(s, dir)
      // ---- serving path: ARTIFACT READS ONLY from here down ----
      val gd = ArtifactStore.readParquet(s, s"$root/gd")
      val top = gd.orderBy(col("cnt").desc, col("g")).limit(QN)
      val agg = ArtifactStore.readParquet(s, s"$root/cont")
        .join(broadcast(top.select(col("g"))), Seq("g"), "leftsemi")
        .groupBy(col("g"))
        .agg(count(lit(1)).cast("bigint").as("n_next"),
          max(col("c") * M1 + (lit(M) - col("nxt"))).as("topsc"))
      top.join(broadcast(agg), Seq("g"))
        .select(col("g"), col("cnt"), col("ndocs"), col("n_next"),
          (lit(M) - (col("topsc") % M1)).cast("bigint").as("top_nxt"),
          expr(s"(1000000 * (topsc div $M1)) div cnt").cast("bigint")
            .as("top_share6"))
        .orderBy(col("cnt").desc, col("g"))
    },

    // Planning: the epoch-repetition mix plan. Strata = lang (this
    // corpus's skewed axis: en holds ~43% of tokens). Budget = 1.5x
    // the corpus tokens; weights w = floor(sqrt(ntk)) (sqrt-
    // temperature — IEEE sqrt is correctly rounded, so
    // floor(sqrt(bigint)) is deterministic across engines); targets by
    // EXACT largest-remainder (ties rem DESC, lang ASC); repetition
    // capped at CAP_MILLI = 1.75 epochs, the capped excess
    // redistributed ONCE to uncapped strata by a second largest-
    // remainder round (single-round is the practical plan shape: a
    // receiving stratum may land slightly above the cap, visibly, and
    // conservation — sum(target_tk) == budget — still holds exactly
    // and is spec-asserted). Every frame is O(strata) rows — the
    // windows are coordinator-side by construction, like q281's 32-row
    // shard frame.
    Q(
      "q286_epoch_mix_plan",
      s"""WITH st AS MATERIALIZED (
         |  SELECT lang,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ntk
         |  FROM documents GROUP BY lang),
         |w AS MATERIALIZED (
         |  SELECT lang, ntk, CAST(FLOOR(SQRT(ntk)) AS BIGINT) AS w
         |  FROM st),
         |tot AS (SELECT CAST(($BUDGET_NUM * SUM(ntk)) // $BUDGET_DEN
         |    AS BIGINT) AS b,
         |  CAST(SUM(ntk) AS BIGINT) AS corpus,
         |  CAST(SUM(w) AS BIGINT) AS tw FROM w),
         |base AS MATERIALIZED (
         |  SELECT lang, ntk, w, (t.b * w) // t.tw AS base,
         |    (t.b * w) % t.tw AS rem
         |  FROM w, tot t),
         |lo AS (SELECT (SELECT b FROM tot) - SUM(base) AS leftover
         |  FROM base),
         |t0 AS MATERIALIZED (
         |  SELECT lang, ntk, w, base + CASE WHEN
         |      ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
         |        <= (SELECT leftover FROM lo)
         |      THEN 1 ELSE 0 END AS target0
         |  FROM base),
         |cap AS MATERIALIZED (
         |  SELECT lang, ntk, w, target0,
         |    CASE WHEN 1000 * target0 > $CAP_MILLI * ntk
         |      THEN 1 ELSE 0 END AS capped,
         |    (ntk * $CAP_MILLI) // 1000 AS captk
         |  FROM t0),
         |exc AS (SELECT
         |  CAST(SUM(CASE WHEN capped = 1 THEN target0 - captk
         |    ELSE 0 END) AS BIGINT) AS e,
         |  CAST(SUM(CASE WHEN capped = 0 THEN w ELSE 0 END) AS BIGINT)
         |    AS wu
         |  FROM cap),
         |r2 AS MATERIALIZED (
         |  SELECT c.lang, c.ntk, c.w, c.target0, c.capped, c.captk,
         |    CASE WHEN c.capped = 0 AND x.wu > 0
         |      THEN (x.e * c.w) // x.wu ELSE 0 END AS add0,
         |    CASE WHEN c.capped = 0 AND x.wu > 0
         |      THEN (x.e * c.w) % x.wu ELSE -1 END AS rem2,
         |    x.e AS e
         |  FROM cap c, exc x),
         |lo2 AS (SELECT MAX(e) - SUM(add0) AS leftover2 FROM r2),
         |fin AS MATERIALIZED (
         |  SELECT lang, ntk, w, target0, capped,
         |    CASE WHEN capped = 1 THEN captk
         |      ELSE target0 + add0 + CASE WHEN rem2 >= 0 AND
         |        ROW_NUMBER() OVER (ORDER BY rem2 DESC, lang)
         |          <= (SELECT leftover2 FROM lo2)
         |        THEN 1 ELSE 0 END END AS target_tk
         |  FROM r2)
         |SELECT lang, ntk, w, CAST(target0 AS BIGINT) AS target0,
         |  CAST(capped AS BIGINT) AS capped,
         |  CAST(target_tk AS BIGINT) AS target_tk,
         |  CAST((1000 * target_tk) // ntk AS BIGINT) AS epochs_milli
         |FROM fin
         |UNION ALL
         |SELECT '*', (SELECT corpus FROM tot), (SELECT tw FROM tot),
         |  CAST(SUM(target0) AS BIGINT), CAST(SUM(capped) AS BIGINT),
         |  CAST(SUM(target_tk) AS BIGINT),
         |  CAST((1000 * SUM(target_tk)) // (SELECT corpus FROM tot)
         |    AS BIGINT)
         |FROM fin
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      val st = Tables.table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(size(split(col("text"), " "))).cast("bigint").as("ntk"))
        .withColumn("w",
          floor(sqrt(col("ntk").cast("double"))).cast("bigint"))
      val tot = st.agg(
        expr(s"($BUDGET_NUM * SUM(ntk)) div $BUDGET_DEN")
          .cast("bigint").as("b"),
        sum(col("ntk")).cast("bigint").as("corpus"),
        sum(col("w")).cast("bigint").as("tw"))
      val base = st.crossJoin(broadcast(tot))
        .withColumn("base", expr("(b * w) div tw"))
        .withColumn("rem", expr("(b * w) % tw"))
      // the windows below run over the O(strata) lang frame — a
      // coordinator-side plan table, never the corpus
      val lo = base.agg((max(col("b")) - sum(col("base")))
        .cast("bigint").as("leftover"))
      val t0 = base
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
        .crossJoin(broadcast(lo))
        .withColumn("target0",
          col("base") + when(col("rk") <= col("leftover"), 1L)
            .otherwise(0L))
      val cap = t0.select(col("lang"), col("ntk"), col("w"),
          col("target0"),
          when(lit(1000L) * col("target0") > lit(CAP_MILLI) * col("ntk"),
            1L).otherwise(0L).as("capped"),
          expr(s"(ntk * $CAP_MILLI) div 1000").as("captk"))
      val exc = cap.agg(
        sum(when(col("capped") === 1, col("target0") - col("captk"))
          .otherwise(0L)).cast("bigint").as("e"),
        sum(when(col("capped") === 0, col("w")).otherwise(0L))
          .cast("bigint").as("wu"))
      val r2 = cap.crossJoin(broadcast(exc))
        .withColumn("add0",
          when(col("capped") === 0 && col("wu") > 0,
            expr("(e * w) div wu")).otherwise(0L))
        .withColumn("rem2",
          when(col("capped") === 0 && col("wu") > 0,
            expr("(e * w) % wu")).otherwise(-1L))
      val lo2 = r2.agg((max(col("e")) - sum(col("add0")))
        .cast("bigint").as("leftover2"))
      val fin = r2
        .withColumn("rk2", row_number().over(
          Window.orderBy(col("rem2").desc, col("lang"))))
        .crossJoin(broadcast(lo2))
        .withColumn("target_tk",
          when(col("capped") === 1, col("captk"))
            .otherwise(col("target0") + col("add0") +
              when(col("rem2") >= 0 && col("rk2") <= col("leftover2"),
                1L).otherwise(0L)))
      val per = fin.select(col("lang"), col("ntk"), col("w"),
        col("target0").cast("bigint").as("target0"),
        col("capped").cast("bigint").as("capped"),
        col("target_tk").cast("bigint").as("target_tk"),
        expr("(1000 * target_tk) div ntk").cast("bigint")
          .as("epochs_milli"))
      val star = fin.agg(
        sum(col("target0")).cast("bigint").as("target0"),
        sum(col("capped")).cast("bigint").as("capped"),
        sum(col("target_tk")).cast("bigint").as("target_tk"))
        .crossJoin(broadcast(tot))
        .select(lit("*").as("lang"), col("corpus").as("ntk"),
          col("tw").as("w"), col("target0"), col("capped"),
          col("target_tk"),
          expr("(1000 * target_tk) div corpus").cast("bigint")
            .as("epochs_milli"))
      per.unionByName(star).orderBy(col("lang"))
    },

    // Packing audit: cross-document attention volume under q264's
    // concat-split packing. Each packed L=128 sequence holds segments
    // of one or more docs (EOS tokens excluded — they are boundary
    // markers, not attendable content); the token pairs that attend
    // ACROSS a doc boundary number (T^2 - sum(seg^2)) / 2 per sequence.
    // Reported as a histogram over docs-per-sequence plus a '*' total —
    // the number that decides whether the run needs document-masked
    // attention (and the reason packers chase long docs). Shares
    // packedOffsets/duckPackCte with q264, so both gates pack
    // identically by construction; per-sequence state is 3 integers,
    // keyed by seq — partial-aggregable, corpus-linear.
    Q(
      "q287_pack_boundary_audit",
      s"""WITH ${Round11Ops.duckPackCte},
         |spans AS MATERIALIZED (
         |  SELECT doc_id, u.seq,
         |    LEAST((u.seq + 1) * ${Round11Ops.SEQ_LEN}, st + ntk)
         |      - GREATEST(u.seq * ${Round11Ops.SEQ_LEN}, st) AS seg
         |  FROM c, LATERAL (SELECT unnest(generate_series(
         |    st // ${Round11Ops.SEQ_LEN},
         |    (st + ntk - 1) // ${Round11Ops.SEQ_LEN})) AS seq) u),
         |per AS MATERIALIZED (
         |  SELECT seq, CAST(COUNT(*) AS BIGINT) AS nd,
         |    CAST(SUM(seg) AS BIGINT) AS t,
         |    CAST(SUM(seg * seg) AS BIGINT) AS s2
         |  FROM spans GROUP BY seq),
         |pc AS MATERIALIZED (
         |  SELECT seq, nd, (t * t - s2) // 2 AS cp FROM per)
         |SELECT nd AS k_docs, CAST(COUNT(*) AS BIGINT) AS n_seqs,
         |  CAST(SUM(cp) AS BIGINT) AS cross_pairs,
         |  CAST(MAX(cp) AS BIGINT) AS max_cross
         |FROM pc GROUP BY nd
         |UNION ALL
         |SELECT -1, CAST(COUNT(*) AS BIGINT), CAST(SUM(cp) AS BIGINT),
         |  CAST(MAX(cp) AS BIGINT)
         |FROM pc
         |ORDER BY k_docs""".stripMargin) { (s, dir) =>
      val L = Round11Ops.SEQ_LEN
      val pc = Round11Ops.packedOffsets(s, dir)
        .select(col("doc_id"), col("ntk"), col("st"),
          explode(expr(s"sequence(st div $L, (st + ntk - 1) div $L)"))
            .as("seq"))
        .withColumn("seg",
          least((col("seq") + 1) * L, col("st") + col("ntk")) -
            greatest(col("seq") * L, col("st")))
        .groupBy(col("seq"))
        .agg(count(lit(1)).cast("bigint").as("nd"),
          sum(col("seg")).cast("bigint").as("t"),
          sum(col("seg") * col("seg")).cast("bigint").as("s2"))
        .withColumn("cp", expr("(t * t - s2) div 2"))
      val hist = pc.groupBy(col("nd").as("k_docs"))
        .agg(count(lit(1)).cast("bigint").as("n_seqs"),
          sum(col("cp")).cast("bigint").as("cross_pairs"),
          max(col("cp")).cast("bigint").as("max_cross"))
      val star = pc.agg(count(lit(1)).cast("bigint").as("n_seqs"),
          sum(col("cp")).cast("bigint").as("cross_pairs"),
          max(col("cp")).cast("bigint").as("max_cross"))
        .withColumn("k_docs", lit(-1L))
        .select(col("k_docs"), col("n_seqs"), col("cross_pairs"),
          col("max_cross"))
      hist.unionByName(star).orderBy(col("k_docs"))
    })
}
