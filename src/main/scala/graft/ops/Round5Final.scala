package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 additions, third batch: corpus lifecycle + hygiene ops a
  * training-data pipeline runs AROUND the core dedup/index machinery —
  * cluster-aware train/validation splitting (q208), cross-source dedup
  * attribution (q209), BPE ENCODE with the q203-trained merges (q210,
  * closing the tokenizer loop the way q196 closed the ANN loop),
  * Johnson-Lindenstrauss random projection with a measured NN-agreement
  * gate (q211), and time-travel reads + change-data-feed counts over
  * the q198 commit protocol's version chain (q212).
  *
  * Shared determinism discipline: integer arithmetic end to end —
  * md5-char folds for hashing (the q198 fingerprint pattern),
  * fixed-point BIGINT vectors (the q196 pattern), DECIMAL(18,2)
  * comparisons for money — so every gate hash-matches the DuckDB
  * oracle under any partitioning.
  */
object Round5Final {

  /** The documents corpus plus a deterministic "recrawl": every 7th
    * doc re-ingested verbatim under `<source>_recrawl` with a doc_id
    * offset past the current max. The generated corpus has no exact
    * duplicates, so the exact-dup lifecycle gates (q208/q209) replay
    * the scenario they exist for — the same pages arriving twice from
    * two crawls — instead of vacuously reporting zeros. Built in-plan
    * (offset via broadcast 1-row max, no driver collect).
    */
  private def recrawled(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val off = d.agg((max(col("doc_id")) + 1).as("off"))
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("off")).as("doc_id"), col("text"),
          concat(col("source"), lit("_recrawl")).as("source")))
  }

  private val recrawledCte: String =
    """aug AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text,
      |    source || '_recrawl'
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  // ------------------------------------------------------------------
  // q211 helpers: signed ±1 random projection, all-integer
  // ------------------------------------------------------------------

  private val DIN = 64 // embeddings table vector width

  /** ±1 sign for (output dim j, input dim i): a mid bit of the classic
    * public LCG (mult 1103515245, inc 12345, mod 2^31) seeded by the
    * flattened matrix index. The LOW bit is useless here — the seed
    * step is linear, so parity would collapse to parity(i) — hence
    * bit 16. `divTok` is `div` (Spark) or `//` (DuckDB).
    */
  private def sgn(divTok: String): String =
    s"(1 - 2 * ((((CAST(j * $DIN + i AS BIGINT) * 1103515245 + 12345) " +
      s"% 2147483648) $divTok 65536) % 2))"

  /** Project the fixed-point BIGINT vector column `iv` to `pd` dims:
    * p[j] = Σ_i sign(j,i)·iv[i] — exact integer arithmetic, so the
    * projection commutes with any partitioning. Narrower projections
    * are prefixes of wider ones (same LCG), like the q201 signatures.
    */
  private[ops] def projSpark(pd: Int): String =
    s"transform(sequence(0, ${pd - 1}), j -> " +
      s"aggregate(sequence(0, ${DIN - 1}), CAST(0 AS BIGINT), " +
      s"(acc, i) -> acc + ${sgn("div")} * element_at(iv, i + 1)))"

  private[ops] def projDuck(pd: Int): String =
    s"list_transform(range($pd), j -> " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range($DIN), i -> ${sgn("//")} * iv[i + 1])), " +
      "(a, b) -> a + b))"

  /** The q211 pair stage BEFORE its checkpoint — exposed so
    * PlanAuditSpec can assert the broadcast survives and the ranking
    * windows stay partitioned (the final executed plan only sees the
    * checkpointed RDD, like q141/q174's candidate join).
    */
  private[graft] def projPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(s, dir, "embeddings")
    val smp = math.max(25L, e.count() / 20L)
    val wp = e
      .select(col("vec_id"), expr(KMeans.scaleExpr("embedding")).as("iv"))
      .withColumn("p16", expr(projSpark(16)))
      .withColumn("p8", expr(projSpark(8)))
    val qsd = wp.filter(col("vec_id") % smp === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"),
        col("p16").as("qp16"), col("p8").as("qp8"))
    def cos(q: String, c: String): org.apache.spark.sql.Column =
      expr(dotSpark(q, c)).cast("double") /
        sqrt(expr(dotSpark(c, c)).cast("double"))
    wp.crossJoin(broadcast(qsd))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        cos("qiv", "iv").as("cx"), cos("qp16", "p16").as("c16"),
        cos("qp8", "p8").as("c8"))
  }

  /** Per-query top-k of the pair stage by one ranking column, ties to
    * the lowest cid — the window partitions on qid, never globally.
    */
  private[graft] def projTopK(pairs: DataFrame, key: String, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col(key).desc, col("cid"))))
      .filter(col("rn") <= k).select(col("qid"), col("cid"))
  }

  /** Exact BIGINT dot product, fixed ascending fold. */
  private def dotSpark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), " +
      "(p, q) -> p + q)"

  private def dotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(len($a)), i -> $a[i + 1] * $b[i + 1])), " +
      "(x, y) -> x + y)"

  // ------------------------------------------------------------------
  // q212 helpers: change-data-feed counts between version states
  // ------------------------------------------------------------------

  /** Keys only ever grow under q198's source-wins MERGE, so a LEFT join
    * from the current version classifies every row: no match →
    * inserted, match with a changed DECIMAL(18,2) value → updated.
    */
  private def cdf(cur: DataFrame, prev: DataFrame): DataFrame =
    cur.select(col("k"), col("v"))
      .join(prev.select(col("k").as("pk"), col("v").as("pv")),
        col("k") === col("pk"), "left")
      .agg(
        sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_inserted"),
        sum(when(col("pk").isNotNull &&
          col("v").cast("decimal(18,2)") =!= col("pv").cast("decimal(18,2)"),
          1L).otherwise(0L)).as("n_updated"))

  val queries: Seq[Q] = Seq(
    // E6 + split hygiene: dedup-cluster-aware train/validation split.
    // A doc-level hash split leaks exact duplicates across the
    // train/val boundary (the classic benchmark-contamination bug); a
    // CLUSTER-level split — hash the group's min-doc_id representative,
    // every member inherits the bucket — cannot straddle by
    // construction. The gate runs both methods over the same md5
    // content-hash groups (q200's hash-path discipline: the text itself
    // never keys a shuffle) and reports the straddle counts side by
    // side: the doc_hash row documents the leak, the cluster_hash row
    // must show 0. One groupBy + one hash-keyed join — the exact-dedup
    // shuffle, nothing more. Runs on the recrawled corpus (see
    // `recrawled`) so the duplicate clusters actually exist.
    Q(
      "q208_cluster_split",
      s"""WITH $recrawledCte,
         |wk AS (SELECT doc_id, md5(text) AS ck FROM aug),
         |reps AS (SELECT ck, MIN(doc_id) AS rep FROM wk GROUP BY ck),
         |j AS (
         |  SELECT w.ck,
         |    (${Pq.duckFold("CAST(w.doc_id AS VARCHAR)")} % 10 < 8) AS doc_tr,
         |    (${Pq.duckFold("CAST(r.rep AS VARCHAR)")} % 10 < 8) AS cl_tr
         |  FROM wk w JOIN reps r ON w.ck = r.ck),
         |cd AS (SELECT ck,
         |    CAST(SUM(CASE WHEN doc_tr THEN 1 ELSE 0 END) AS BIGINT) AS tr,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM j GROUP BY ck),
         |cc AS (SELECT ck,
         |    CAST(SUM(CASE WHEN cl_tr THEN 1 ELSE 0 END) AS BIGINT) AS tr,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM j GROUP BY ck)
         |SELECT 'cluster_hash' AS method,
         |  CAST(SUM(tr) AS BIGINT) AS n_train,
         |  CAST(SUM(n - tr) AS BIGINT) AS n_val,
         |  CAST(SUM(CASE WHEN tr > 0 AND tr < n THEN 1 ELSE 0 END)
         |    AS BIGINT) AS straddled_clusters
         |FROM cc
         |UNION ALL
         |SELECT 'doc_hash', CAST(SUM(tr) AS BIGINT),
         |  CAST(SUM(n - tr) AS BIGINT),
         |  CAST(SUM(CASE WHEN tr > 0 AND tr < n THEN 1 ELSE 0 END)
         |    AS BIGINT)
         |FROM cd
         |ORDER BY method""".stripMargin) { (s, dir) =>
      val wk = recrawled(s, dir)
        .select(col("doc_id"), md5(col("text")).as("ck"))
      val reps = wk.groupBy(col("ck")).agg(min(col("doc_id")).as("rep"))
      val j = wk.join(reps, Seq("ck"))
        .select(col("ck"),
          (graft.functions.TextHash.charFold(
            md5(col("doc_id").cast("string")), 0L, 31L) % 10 < 8)
            .as("doc_tr"),
          (graft.functions.TextHash.charFold(
            md5(col("rep").cast("string")), 0L, 31L) % 10 < 8)
            .as("cl_tr"))
      def stats(flag: String, label: String): DataFrame = j
        .groupBy(col("ck"))
        .agg(sum(when(col(flag), 1L).otherwise(0L)).as("tr"),
          count(lit(1)).as("n"))
        .agg(sum(col("tr")).as("n_train"),
          sum(col("n") - col("tr")).as("n_val"),
          sum(when(col("tr") > 0 && col("tr") < col("n"), 1L)
            .otherwise(0L)).as("straddled_clusters"))
        .select(lit(label).as("method"), col("n_train"), col("n_val"),
          col("straddled_clusters"))
      stats("cl_tr", "cluster_hash")
        .unionByName(stats("doc_tr", "doc_hash"))
        .orderBy(col("method"))
    },

    // E6 observability: cross-source dedup ATTRIBUTION — when exact
    // dedup keeps min(doc_id) per content-hash group, which source's
    // documents survive and whose get dropped? The (winner_source,
    // loser_source) matrix is how a corpus owner audits "crawl B is 40%
    // contained in crawl A" and is the exact-hash companion to q195's
    // shingle-level overlap matrix. min(struct(doc_id, source)) carries
    // the winner's source through the group-by in one partial agg — no
    // second join back for the winner row.
    Q(
      "q209_dedup_attribution",
      s"""WITH $recrawledCte,
        |wk AS (
        |  SELECT doc_id, source, md5(text) AS ck FROM aug),
        |w AS (SELECT ck, MIN(doc_id) AS win_id FROM wk GROUP BY ck),
        |ws AS (
        |  SELECT w.ck, w.win_id, k.source AS winner_source
        |  FROM w JOIN wk k ON w.ck = k.ck AND w.win_id = k.doc_id)
        |SELECT ws.winner_source, k.source AS loser_source,
        |  CAST(COUNT(*) AS BIGINT) AS n_removed
        |FROM wk k JOIN ws ON k.ck = ws.ck
        |WHERE k.doc_id != ws.win_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val wk = recrawled(s, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("ck"))
      val win = wk.groupBy(col("ck"))
        .agg(min(struct(col("doc_id"), col("source"))).as("w"))
        .select(col("ck"), col("w.doc_id").as("win_id"),
          col("w.source").as("winner_source"))
      wk.join(win, Seq("ck"))
        .filter(col("doc_id") =!= col("win_id"))
        .groupBy(col("winner_source"), col("source").as("loser_source"))
        .agg(count(lit(1)).as("n_removed"))
        .orderBy(col("winner_source"), col("loser_source"))
    },

    // E8: BPE ENCODE — apply q203's trained merge table to the corpus,
    // per source. Closes the tokenizer loop (train q203 → encode here)
    // the way q196→q74 closed the ANN loop. The apply stage rides the
    // per-source WORD-FREQUENCY table (Heaps-bounded), never the
    // corpus: each trained merge is one broadcast 1-row join + one
    // delimited-string replace (proven equal to the greedy BPE scan —
    // Round5MoreSpec property test), so a 100 TB encode is one corpus
    // scan to build word counts plus |vocab|-sized map stages. Output:
    // per-source token budget before/after the 5 merges — the numbers
    // an epoch planner (q192) actually consumes.
    Q(
      "q210_bpe_encode",
      s"""WITH ${Bpe.trainCtes},
         |x0 AS (
         |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f,
         |    regexp_replace(w, '(.)', '|\\1|', 'g') AS s
         |  FROM (SELECT source, lower(unnest(string_split(text, ' '))) AS w
         |        FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |  GROUP BY source, w),
         |${(1 to Bpe.STEPS).map { t =>
        s"""x$t AS (
           |  SELECT x.source, x.w, x.f,
           |    replace(x.s, '|' || b.pa || '||' || b.pb || '|',
           |      '|' || b.pa || b.pb || '|') AS s
           |  FROM x${t - 1} x, b$t b)""".stripMargin
      }.mkString(",\n")}
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(f * length(w)) AS BIGINT) AS n_tokens_base,
         |  CAST(SUM(f * ((length(s) - length(replace(s, '|', ''))) // 2))
         |    AS BIGINT) AS n_tokens_enc,
         |  (CAST(SUM(f * ((length(s) - length(replace(s, '|', ''))) // 2))
         |    AS BIGINT) * 1000000)
         |    // CAST(SUM(f * length(w)) AS BIGINT) AS ratio_ppm
         |FROM x${Bpe.STEPS}
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
      val bests = Bpe.trainSteps(s, Bpe.globalWords(d)).map(_._1)
      var enc = d
        .select(col("source"), explode(split(col("text"), " ")).as("w0"))
        .select(col("source"), lower(col("w0")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
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
        .agg(count(lit(1)).as("n_words"),
          sum(col("f") * length(col("w"))).as("n_tokens_base"),
          expr(Bpe.nSyms).as("n_tokens_enc"))
        .withColumn("ratio_ppm",
          expr("(n_tokens_enc * 1000000) div n_tokens_base"))
        .orderBy(col("source"))
    },

    // E7: Johnson-Lindenstrauss signed random projection as a CANDIDATE
    // GENERATOR, with the gate measuring exactly what that role needs:
    // recall of the exact-cosine top-K inside the projected-cosine
    // top-M, over a corpus-size-independent query sample (modulus
    // scales with N, like q201's signature width). That is the honest
    // metric on this corpus — its exact top-K is dominated by
    // within-cluster noise ordering, so top-1 agreement is ~0 for ANY
    // projection (measured; so would be a label-purity framing, the
    // labels are orthogonal to the vectors) — and it is the real 100 TB
    // design: project once (pure map stage, 4-8× narrower vectors),
    // scan the narrow table for M candidates, rerank only those
    // exactly. Cosine ranking keys are integer dots divided by the
    // sqrt of integer norms — identical IEEE doubles in both engines.
    // Projections are all-integer on the q196 fixed-point form, and
    // narrower projections are prefixes of wider ones (same LCG), so
    // re-widening never re-projects. Measured at sf0.01: recall@10-
    // in-50 = 26% (16-d) / 22% (8-d) vs the 10% random-M/N baseline.
    Q(
      "q211_random_projection",
      s"""WITH mm AS (
         |  SELECT GREATEST(25, COUNT(*) // 20) AS m FROM embeddings),
         |iv AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |    AS iv
         |  FROM embeddings),
         |wp AS (
         |  SELECT vec_id, iv, ${projDuck(16)} AS p16, ${projDuck(8)} AS p8
         |  FROM iv t),
         |pr AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    CAST(${dotDuck("q.iv", "c.iv")} AS DOUBLE)
         |      / sqrt(CAST(${dotDuck("c.iv", "c.iv")} AS DOUBLE)) AS cx,
         |    CAST(${dotDuck("q.p16", "c.p16")} AS DOUBLE)
         |      / sqrt(CAST(${dotDuck("c.p16", "c.p16")} AS DOUBLE)) AS c16,
         |    CAST(${dotDuck("q.p8", "c.p8")} AS DOUBLE)
         |      / sqrt(CAST(${dotDuck("c.p8", "c.p8")} AS DOUBLE)) AS c8
         |  FROM wp q JOIN wp c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id % (SELECT m FROM mm) = 0),
         |ex AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cx DESC, cid ASC) AS rn FROM pr) WHERE rn <= 10),
         |g16 AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY c16 DESC, cid ASC) AS rn FROM pr) WHERE rn <= 50),
         |g8 AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY c8 DESC, cid ASC) AS rn FROM pr) WHERE rn <= 50),
         |ag AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(SUM(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS h16,
         |    CAST(SUM(CASE WHEN b.cid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS h8
         |  FROM ex x
         |    LEFT JOIN g16 a ON x.qid = a.qid AND x.cid = a.cid
         |    LEFT JOIN g8 b ON x.qid = b.qid AND x.cid = b.cid)
         |SELECT CAST(8 AS BIGINT) AS proj_dims, CAST(10 AS BIGINT) AS k,
         |  CAST(50 AS BIGINT) AS m, n_exact, h8 AS n_hit,
         |  (h8 * 100) // n_exact AS recall_x100 FROM ag
         |UNION ALL
         |SELECT 16, 10, 50, n_exact, h16, (h16 * 100) // n_exact FROM ag
         |ORDER BY proj_dims""".stripMargin) { (s, dir) =>
      val pairs = projPairs(s, dir).localCheckpoint(true)
      val ex = projTopK(pairs, "cx", 10)
      val ag = ex
        .join(projTopK(pairs, "c16", 50).withColumn("in16", lit(1L)),
          Seq("qid", "cid"), "left")
        .join(projTopK(pairs, "c8", 50).withColumn("in8", lit(1L)),
          Seq("qid", "cid"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("in16"), lit(0L))).as("h16"),
          sum(coalesce(col("in8"), lit(0L))).as("h8"))
        .localCheckpoint(true)
      def row(pd: Long, c: String): DataFrame = ag
        .select(lit(pd).as("proj_dims"), lit(10L).as("k"), lit(50L).as("m"),
          col("n_exact"), col(c).as("n_hit"),
          expr(s"($c * 100) div n_exact").as("recall_x100"))
      row(8L, "h8").unionByName(row(16L, "h16"))
        .orderBy(col("proj_dims"))
    },

    // Lake: time travel + change data feed over q198's version chain.
    // A reader reconstructs the table AS OF versions 1..3 by replaying
    // the committed MERGE batches from the snapshot log (the
    // Delta/Iceberg read path), and each version row carries the
    // order-independent md5-fold fingerprint (so an auditor can check
    // any reconstruction against the commit log's recorded state with
    // one scan) plus the CDF counts vs the previous version — inserts
    // and updates classified by one LEFT join on the merge key, values
    // compared in DECIMAL(18,2) (the fingerprint's own discipline, so
    // "updated" and "fingerprint changed" can never disagree).
    Q(
      "q212_time_travel",
      s"""WITH t0 AS (
         |  SELECT c_custkey AS k, c_acctbal AS v
         |  FROM customer WHERE c_custkey <= 1400),
         |ba AS (
         |  SELECT c_custkey AS k, ROUND(c_acctbal + 100, 2) AS v
         |  FROM customer WHERE c_custkey BETWEEN 1301 AND 1500),
         |bb AS (
         |  SELECT c_custkey AS k, ROUND(c_acctbal * 2, 2) AS v
         |  FROM customer WHERE c_custkey BETWEEN 1350 AND 1450),
         |s1 AS (
         |  SELECT COALESCE(s.k, t.k) AS k, COALESCE(s.v, t.v) AS v
         |  FROM t0 t FULL OUTER JOIN ba s ON t.k = s.k),
         |s2 AS (
         |  SELECT COALESCE(s.k, t.k) AS k, COALESCE(s.v, t.v) AS v
         |  FROM s1 t FULL OUTER JOIN bb s ON t.k = s.k),
         |e0 AS (SELECT k, v FROM t0 WHERE 1 = 0),
         |d1 AS (
         |  SELECT CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_inserted,
         |    CAST(SUM(CASE WHEN p.k IS NOT NULL AND
         |      CAST(c.v AS DECIMAL(18,2)) != CAST(p.v AS DECIMAL(18,2))
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
         |  FROM t0 c LEFT JOIN e0 p ON c.k = p.k),
         |d2 AS (
         |  SELECT CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_inserted,
         |    CAST(SUM(CASE WHEN p.k IS NOT NULL AND
         |      CAST(c.v AS DECIMAL(18,2)) != CAST(p.v AS DECIMAL(18,2))
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
         |  FROM s1 c LEFT JOIN t0 p ON c.k = p.k),
         |d3 AS (
         |  SELECT CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_inserted,
         |    CAST(SUM(CASE WHEN p.k IS NOT NULL AND
         |      CAST(c.v AS DECIMAL(18,2)) != CAST(p.v AS DECIMAL(18,2))
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
         |  FROM s2 c LEFT JOIN s1 p ON c.k = p.k),
         |f0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(${LakeOps.duckRowFold}) % 1000000007 AS BIGINT) AS fp
         |  FROM t0),
         |f1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(${LakeOps.duckRowFold}) % 1000000007 AS BIGINT) AS fp
         |  FROM s1),
         |f2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(${LakeOps.duckRowFold}) % 1000000007 AS BIGINT) AS fp
         |  FROM s2)
         |SELECT CAST(1 AS BIGINT) AS version, f.n AS n_rows,
         |  f.fp AS table_fp, d.n_inserted, d.n_updated FROM f0 f, d1 d
         |UNION ALL SELECT 2, f.n, f.fp, d.n_inserted, d.n_updated
         |FROM f1 f, d2 d
         |UNION ALL SELECT 3, f.n, f.fp, d.n_inserted, d.n_updated
         |FROM f2 f, d3 d
         |ORDER BY version""".stripMargin) { (s, dir) =>
      val cust = Tables.table(s, dir, "customer")
      val base = cust.filter(col("c_custkey") <= 1400)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
      val bA = cust.filter(col("c_custkey").between(1301, 1500))
        .select(col("c_custkey").as("k"),
          round(col("c_acctbal") + 100, 2).as("v"))
      val bB = cust.filter(col("c_custkey").between(1350, 1450))
        .select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 2, 2).as("v"))
      val v2 = LakeOps.merge(base, bA)
      val v3 = LakeOps.merge(v2, bB)
      Seq((1L, base, base.limit(0)), (2L, v2, base), (3L, v3, v2))
        .map { case (ver, cur, prev) =>
          cur.agg(count(lit(1)).as("n_rows"),
            (sum(graft.functions.TextHash.charFold(md5(concat(
              col("k").cast("string"), lit("|"),
              col("v").cast("decimal(18,2)").cast("string"))), 0L, 31L))
              % 1000000007L).as("table_fp"))
            .crossJoin(broadcast(cdf(cur, prev)))
            .select(lit(ver).as("version"), col("n_rows"),
              col("table_fp"), col("n_inserted"), col("n_updated"))
        }.reduce(_.unionByName(_)).orderBy(col("version"))
    })
}
