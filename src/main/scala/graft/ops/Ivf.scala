package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** IVF probe search and its serving variants (SURVEY.md §2.3 E7 scale
  * path #2), plus vector aggregation.
  *
  * q74: inverted-file search — vectors are assigned to their nearest
  * coarse centroid (argmax dot, ties to lowest id); the query probes its
  * 2 nearest centroids' lists only, then ranks exactly. At 100 TB the
  * assignment is a write-time partition key and a probe touches 2/k of
  * the corpus. The coarse codebook is TRAINED — [[KMeans.codebook]]'s
  * deterministic fixed-point Lloyd iterations seeded from the first k
  * vectors — not a raw-vector stand-in; the oracle replays the same
  * training as an unrolled CTE chain. The cell count is CORPUS-DERIVED
  * (k = max(4, floor(sqrt(n))/2), [[KMeans.servingK]]) so occupancy per
  * cell grows ~2*sqrt(n) and a fixed-nprobe probe's work stays bounded
  * as the corpus grows.
  *
  * q75: element-wise centroid of each label group (the k-means "update"
  * step / class-prototype computation) via posexplode + per-(label,pos)
  * aggregation — the shuffle is on (label, pos), never on whole vectors.
  *
  * The variants, all refereed against the exact top-10 in integer
  * (1e6 fixed-point) arithmetic, so both engines agree bit for bit:
  *  - q197: bucket-size telemetry of both ANN blocking paths (trained
  *    centroids and hyperplane signatures).
  *  - q219: matryoshka two-stage search — stage 1 scores ONLY the first
  *    16 of 64 dims and keeps top-C via TakeOrderedAndProject
  *    (per-partition heaps, no global sort); stage 2 reranks the C
  *    survivors with the full vector.
  *  - q220: residual IVF-PQ (the production IVFADC shape), served from
  *    the marker-gated residual artifacts.
  *  - q221: SQ8 scalar-quantized search.
  *  - q222 / q226: the probe operating curve for query 0 and for the
  *    QN-query batch, computed by counting rather than candidate
  *    materialization ([[probeCurveCtes]] / [[probeCurveFrame]] also
  *    feed q259's operating-point tuner).
  *  - q223: streaming vector search through a batch-built index.
  *  - q228: metadata-filtered search over the persisted index, with the
  *    probe width adapted to the measured selectivity.
  *  - q230 / q231: two-stage ADC + exact refine, and the per-source
  *    diversity cap, over the stored codes.
  *  - q232: binary (sign) quantization + Hamming shortlist + exact
  *    rerank.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no vector
  * index; this family is part of the training-data-pipeline mandate.
  */
object Ivf {

  import VecIndex.{CITERS, NPROBE, QN}

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), " +
      s"i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  private val C = 64 // q219 stage-1 candidate count
  private val PRE = 16 // q219 prefix dims (of 64)
  private[ops] val LANG = "en" // the filtered serves' predicate (q228, q242)
  private val REFINE_C = 32 // q230's first-stage width (ADC top-C)
  private val SRC_CAP = 2 // q231's per-source result cap
  private val SIGBITS = 64 // q232: sign bits per signature (2 words)
  private val HAM_M = 50 // q232: Hamming shortlist width before rerank

  // q220's residual IVF-PQ: the coarse-cell count is CORPUS-DERIVED
  // (KMeans.servingK = max(4, floor(sqrt(n))/2)), shared with
  // q74/q207/q217 so the coarse codebook stays the ONE train-once
  // artifact; the residual PQ geometry is Pq's (M subspaces of SUB
  // dims, K codewords, ITERS Lloyd iterations)

  /** The M side-by-side per-subspace Lloyd chains over the residual CTE
    * (tag `_r<m>` keeps them disjoint from the coarse chain's names).
    */
  private def residChains: String =
    (0 until Pq.M)
      .map(m => KMeans.oracleCtesSlice(Pq.K.toString, Pq.ITERS, m * Pq.SUB,
        Pq.SUB, s"_r$m", "resid"))
      .mkString(",\n")

  /** Per-subspace encode CTEs over the residuals (argmax dot against the
    * trained residual codewords, ties to lowest cid).
    */
  private def residEncs: String =
    (0 until Pq.M).map { m =>
      val sliced = Pq.duckScaled(
        s"list_slice(e.embedding, ${m * Pq.SUB + 1}, ${(m + 1) * Pq.SUB})")
      s"""renc$m AS MATERIALIZED (
         |  SELECT vec_id, cs FROM (
         |    SELECT e.vec_id, c.cs,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Pq.duckIntDot(sliced, "c.cs")} DESC, c.cid ASC)
         |        AS rn
         |    FROM resid e, cl${Pq.ITERS}_r$m c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def residAdcSum: String =
    (0 until Pq.M).map { m =>
      Pq.duckIntDot(
        s"list_slice(q.qs, ${m * Pq.SUB + 1}, ${(m + 1) * Pq.SUB})",
        s"r$m.cs")
    }.mkString("(", ") + (", ")")

  private def residEncJoins: String =
    (0 until Pq.M)
      .map(m => s"JOIN renc$m r$m ON v.vec_id = r$m.vec_id")
      .mkString("\n  ")

  /** Shared oracle prefix for the query-0 serving gates (q230/q231):
    * trains the coarse + PQ chains, encodes the corpus to stored
    * codes, probes query 0's NPROBE cells, and scores the candidates
    * with BOTH the ADC approximation and the exact integer dot.
    * Exposes CTEs `cand`, `nc(n_cand)`, `scored(vec_id, adc, exact)`,
    * and `tope` (the global exact top-10 referee).
    */
  private def serveSqlPrefix: String =
    s"""${KMeans.kkCte()},
       |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
       |${Pq.pqChains},
       |assign AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM embeddings e, cl$CITERS c),
       |lists AS MATERIALIZED (SELECT vec_id, embedding, cid FROM assign
       |  WHERE rn = 1),
       |${Pq.pqCodeEncs("lists", "_a")},
       |${Pq.duckCodesCte("codesall", "lists", "_a")},
       |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
       |  FROM embeddings WHERE vec_id = 0),
       |probes AS (SELECT cid FROM assign WHERE vec_id = 0
       |  AND rn <= $NPROBE),
       |cand AS MATERIALIZED (
       |  SELECT ca.* FROM codesall ca JOIN probes p ON ca.cid = p.cid
       |  WHERE ca.vec_id <> 0),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
       |scored AS MATERIALIZED (
       |  SELECT v.vec_id, ${Pq.duckAdcFromCodes} AS adc,
       |    ${Pq.duckIntDot(Pq.duckScaled("ev.embedding"), "q.qs")}
       |      AS exact
       |  FROM cand v
       |  JOIN embeddings ev ON ev.vec_id = v.vec_id
       |  ${Pq.duckAdcJoins}, qv q),
       |tope AS MATERIALIZED (
       |  SELECT v.vec_id FROM embeddings v, qv q
       |  WHERE v.vec_id <> 0
       |  ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
              "q.qs")} DESC, v.vec_id ASC LIMIT 10)""".stripMargin

  /** q226's probe-curve oracle CTE chain, ending in
    * `curve(nprobe, n_cand, hits, mean_recall_at_10)` — shared with
    * q259's operating-point auto-tuner.
    */
  private[ops] val probeCurveCtes: String =
    s"""${KMeans.kkCte()},
       |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
       |assign AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM embeddings e, cl$CITERS c),
       |lists AS MATERIALIZED (SELECT vec_id, cid FROM assign WHERE rn = 1),
       |qb AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe,
       |    ${Pq.duckScaled("embedding")} AS qs
       |  FROM embeddings WHERE vec_id < $QN),
       |prank AS MATERIALIZED (
       |  SELECT q.qid, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid
       |      ORDER BY ${KMeans.duckDot("q.qe", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM qb q, cl$CITERS c),
       |levels AS (
       |  SELECT DISTINCT LEAST(CAST(1 AS BIGINT) << g, k) AS nprobe
       |  FROM (SELECT unnest(generate_series(0, 30)) AS g), kk),
       |sizes AS MATERIALIZED (SELECT cid, CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM lists GROUP BY cid),
       |cellrank AS MATERIALIZED (
       |  SELECT p.qid, p.rn, COALESCE(s.sz, 0) AS sz
       |  FROM prank p LEFT JOIN sizes s ON p.cid = s.cid),
       |own AS (
       |  SELECT p.rn AS ownrn FROM qb q
       |  JOIN lists l ON l.vec_id = q.qid
       |  JOIN prank p ON p.qid = q.qid AND p.cid = l.cid),
       |tope AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, v.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid
       |        ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
                "q.qs")} DESC, v.vec_id ASC) AS rn
       |    FROM embeddings v, qb q WHERE v.vec_id <> q.qid)
       |  WHERE rn <= 10),
       |toprn AS MATERIALIZED (
       |  SELECT t.qid, p.rn FROM tope t
       |  JOIN lists l ON t.vec_id = l.vec_id
       |  JOIN prank p ON p.qid = t.qid AND p.cid = l.cid),
       |nc AS (
       |  SELECT lv.nprobe, CAST(SUM(CASE WHEN c.rn <= lv.nprobe
       |    THEN c.sz ELSE 0 END) AS BIGINT) AS gross
       |  FROM levels lv, cellrank c GROUP BY lv.nprobe),
       |selfc AS (
       |  SELECT lv.nprobe, CAST(COUNT(o.ownrn) AS BIGINT) AS selfn
       |  FROM levels lv LEFT JOIN own o ON o.ownrn <= lv.nprobe
       |  GROUP BY lv.nprobe),
       |ht AS (
       |  SELECT lv.nprobe, CAST(COUNT(t.rn) AS BIGINT) AS hits
       |  FROM levels lv LEFT JOIN toprn t ON t.rn <= lv.nprobe
       |  GROUP BY lv.nprobe),
       |curve AS MATERIALIZED (
       |  SELECT n.nprobe, n.gross - s.selfn AS n_cand, h.hits,
       |    CAST(h.hits AS DOUBLE) / ${QN * 10} AS mean_recall_at_10
       |  FROM nc n JOIN selfc s ON n.nprobe = s.nprobe
       |  JOIN ht h ON n.nprobe = h.nprobe)""".stripMargin

  /** q226's probe-curve computation (nprobe, n_cand, hits,
    * mean_recall_at_10 per nprobe level), ordered by nprobe — the
    * Spark side of [[probeCurveCtes]], shared with q259.
    */
  private[ops] def probeCurveFrame(s: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables.table(s, dir, "embeddings")
    val ck = KMeans.servingK(e)
    val coarse = KMeans.codebook(s, e, ck, CITERS)
    val lists = KMeans.assign(e, coarse)
      .select(col("vec_id"), col("cid"))
    val qb = e.filter(col("vec_id") < QN)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        expr(KMeans.scaleExpr("embedding")).as("qs"))
    // full per-query probe RANKING of all CK cells
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cdot").desc, col("cid").asc)
    val prank = qb.crossJoin(broadcast(coarse))
      .withColumn("cdot", expr(KMeans.dotFold("qe", "cs")))
      .withColumn("rn", row_number().over(wp))
      .select(col("qid"), col("cid"), col("rn"))
    import s.implicits._
    val levels = (0 to 30).map(g => math.min(1L << g, ck.toLong))
      .distinct.sorted.toDF("nprobe")
    val sizes = lists.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
    // (query × cell) rank table with cell sizes — O(QN·CK) rows
    val cellrank = prank.join(sizes, Seq("cid"), "left")
      .select(col("qid"), col("rn"),
        coalesce(col("sz"), lit(0L)).as("sz"))
    // each query's own cell's probe rank (its vector must not count
    // as its own candidate)
    val own = qb.select(col("qid"))
      .join(lists.withColumnRenamed("vec_id", "qid"), Seq("qid"))
      .join(prank, Seq("qid", "cid"))
      .select(col("rn").as("ownrn"))
    // the ONE full-scan referee: per-query exact top-10, cell-ranked
    val wex = Window.partitionBy(col("qid"))
      .orderBy(col("d").desc, col("vec_id").asc)
    val tope = e
      .select(col("vec_id"), expr(KMeans.scaleExpr("embedding"))
        .as("sv"))
      .crossJoin(broadcast(qb.select(col("qid"), col("qs"))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("d", expr(Pq.intDot("sv", "qs")))
      .withColumn("ern", row_number().over(wex))
      .filter(col("ern") <= 10)
      .select(col("qid"), col("vec_id"))
    val toprn = tope.join(lists, Seq("vec_id"))
      .join(broadcast(prank), Seq("qid", "cid"))
      .select(col("qid"), col("rn"))
    val nc = levels.crossJoin(broadcast(cellrank))
      .groupBy(col("nprobe"))
      .agg(sum(when(col("rn") <= col("nprobe"), col("sz"))
        .otherwise(0L)).cast("bigint").as("gross"))
    val selfc = levels.join(broadcast(own),
        col("ownrn") <= col("nprobe"), "left")
      .groupBy(col("nprobe"))
      .agg(count(col("ownrn")).as("selfn"))
    val ht = levels.join(broadcast(toprn),
        col("rn") <= col("nprobe"), "left")
      .groupBy(col("nprobe"))
      .agg(count(col("rn")).as("hits"))
    nc.join(selfc, Seq("nprobe")).join(ht, Seq("nprobe"))
      .select(col("nprobe"),
        (col("gross") - col("selfn")).as("n_cand"), col("hits"),
        (col("hits").cast("double") / (QN * 10))
          .as("mean_recall_at_10"))
      .orderBy(col("nprobe"))
  }

  /** One micro-batch of the q223 serving path: probe each query's NPROBE
    * cells against the static lists, emit its exact top-10.
    *
    * IDEMPOTENT under retry: foreachBatch delivers micro-batches
    * at-least-once, so a retried batch must REPLACE its previous output,
    * not append to it — each batch writes to its own batchId-keyed
    * subdir with mode overwrite (the q198 batch-ledger discipline
    * applied to a file sink). IvfSpec replays a batch and asserts
    * the output fingerprint is unchanged.
    */
  private[ops] def serveBatch(
      lists: DataFrame, coarse: DataFrame, out: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val qb = batch.select(col("vec_id").as("qid"),
      col("embedding").as("qe"),
      expr(KMeans.scaleExpr("embedding")).as("qs"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cdot").desc, col("cid").asc)
    val probes = qb.crossJoin(broadcast(coarse))
      .withColumn("cdot", expr(KMeans.dotFold("qe", "cs")))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= NPROBE)
      .select(col("qid"), col("qs"), col("cid"))
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("d").desc, col("vec_id").asc)
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr(Pq.intDot("sv", "qs")).as("d"))
      .withColumn("krn", row_number().over(wk))
      .filter(col("krn") <= 10)
      .select(col("qid"), col("krn").cast("bigint").as("rank"),
        col("vec_id"), col("d"))
      .write.mode("overwrite").parquet(s"$out/b$batchId")
  }

  val queries: Seq[Q] = Seq(
    Q(
      "q74_ann_ivf",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
         |probes AS MATERIALIZED (SELECT cid FROM assign WHERE vec_id = 0 AND rn <= 2),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT l.vec_id,
         |  ROUND(${duckDot("l.embedding", "q.qe")}, 6) AS cosine
         |FROM lists l JOIN probes p ON l.cid = p.cid, q
         |WHERE l.vec_id <> 0
         |ORDER BY cosine DESC, vec_id ASC
         |LIMIT 5""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      // inverted lists: map-side argmax assignment under the broadcast
      // trained codebook (no k-times row blow-up, no window)
      val lists = KMeans.assign(e, cb)
      // probe selection: top-2 centroids for the query vector — a k-row
      // problem, window over the single query partition is free
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cdot").desc, col("cid").asc)
      val probes = e.filter(col("vec_id") === 0)
        .crossJoin(broadcast(cb))
        .withColumn("cdot", expr(KMeans.dotFold("embedding", "cs")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("cid"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      lists.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("array_dot(embedding, qe)"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },

    Q(
      "q75_label_centroids",
      """SELECT label, pos,
        |  ROUND(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(20,10)))
        |    AS DOUBLE) / COUNT(*), 4) AS centroid_val
        |FROM (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding) AS val
        |  FROM embeddings)
        |WHERE pos < 8
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg(round(
          sum(col("val").cast("double").cast("decimal(20,10)")).cast("double")
            / count(lit(1)), 4).as("centroid_val"))
        .orderBy(col("label"), col("pos"))
    },

    // E7 telemetry: bucket-boundedness for BOTH ANN blocking paths —
    // q52's 8-bit hyperplane signatures and the trained-centroid blocks
    // q49/q74 key on. This is q139's MinHash diagnostic generalized to
    // the vector paths: the observability check that catches a
    // degenerate codebook or collapsed signature BEFORE a quadratic
    // bucket join runs. All stats are exact integer arithmetic from two
    // partial-agg group-bys; skew_x100 (max bucket over mean bucket) is
    // the scale invariant — it must stay bounded as the corpus grows,
    // and the slope sweep re-measures it at every SF.
    Q(
      "q197_ann_bucket_stats",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes("(SELECT k FROM kk)", 2)},
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM embeddings e, cl2 c) WHERE rn = 1),
         |cb AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS bs
         |  FROM asg GROUP BY cid),
         |sg AS (SELECT ${Similarity.sigExprDuck("embedding")} AS sig
         |  FROM embeddings),
         |sb AS (SELECT sig, CAST(COUNT(*) AS BIGINT) AS bs
         |  FROM sg GROUP BY sig),
         |stats AS (
         |  SELECT 'centroid' AS path, CAST(SUM(bs) AS BIGINT) AS n_items,
         |    CAST(COUNT(*) AS BIGINT) AS n_buckets, MAX(bs) AS max_bucket
         |  FROM cb
         |  UNION ALL
         |  SELECT 'hyperplane', CAST(SUM(bs) AS BIGINT),
         |    CAST(COUNT(*) AS BIGINT), MAX(bs)
         |  FROM sb)
         |SELECT path, n_items, n_buckets, max_bucket,
         |  (n_items * 100) // n_buckets AS mean_x100,
         |  (max_bucket * 1000000) // n_items AS max_share_ppm,
         |  (max_bucket * 100 * n_buckets) // n_items AS skew_x100
         |FROM stats ORDER BY path""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val k = KMeans.scaledK(e.count())
      val cents = KMeans.assign(e, KMeans.codebook(s, e, k, 2))
        .groupBy(col("cid")).agg(count(lit(1)).as("bs"))
      val sigs = Similarity.withSig(s, e)
        .groupBy(col("sig")).agg(count(lit(1)).as("bs"))
      Similarity.bucketStats("centroid", cents)
        .unionAll(Similarity.bucketStats("hyperplane", sigs))
        .orderBy(col("path"))
    },

    // E7: Matryoshka-style adaptive retrieval — coarse scan scores only
    // the first PRE dims (the prefix a matryoshka-trained embedding
    // front-loads), keeps top-C candidates, reranks them with the full
    // vector; in_exact flags each final hit against the global exact
    // top-10 so the gate reports what prefix truncation lost.
    Q(
      "q219_matryoshka_rerank",
      s"""WITH qv AS (
         |  SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |sv AS MATERIALIZED (
         |  SELECT vec_id, ${Pq.duckScaled("embedding")} AS sv
         |  FROM embeddings WHERE vec_id <> 0),
         |coarse AS (
         |  SELECT v.vec_id, v.sv,
         |    ${Pq.duckIntDot(s"list_slice(v.sv, 1, $PRE)",
                 s"list_slice(q.qs, 1, $PRE)")} AS pre
         |  FROM sv v, qv q
         |  ORDER BY pre DESC, v.vec_id ASC LIMIT $C),
         |rer AS (
         |  SELECT c.vec_id, c.pre,
         |    ${Pq.duckIntDot("c.sv", "q.qs")} AS full_dot
         |  FROM coarse c, qv q),
         |tope AS (
         |  SELECT v.vec_id, ${Pq.duckIntDot("v.sv", "q.qs")} AS d
         |  FROM sv v, qv q
         |  ORDER BY d DESC, v.vec_id ASC LIMIT 10)
         |SELECT r.vec_id, r.pre, r.full_dot,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact
         |FROM (SELECT * FROM rer ORDER BY full_dot DESC, vec_id ASC
         |  LIMIT 10) r
         |LEFT JOIN tope t ON r.vec_id = t.vec_id
         |ORDER BY r.full_dot DESC, r.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val q0 = VecIndex.queryRow(e)
      val sv = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), expr(KMeans.scaleExpr("embedding")).as("sv"))
        .crossJoin(broadcast(q0))
      // stage 1: prefix-dims scan → top-C via per-partition heaps
      val coarse = sv
        .withColumn("pre", expr(Pq.intDot(s"slice(sv, 1, $PRE)",
          s"slice(qs, 1, $PRE)")))
        .orderBy(col("pre").desc, col("vec_id").asc)
        .limit(C)
      // stage 2: rerank the C survivors with the full vector
      val rer = coarse
        .withColumn("full_dot", expr(Pq.intDot("sv", "qs")))
        .select(col("vec_id"), col("pre"), col("full_dot"))
        .orderBy(col("full_dot").desc, col("vec_id").asc)
        .limit(10)
      val tope = sv
        .select(col("vec_id"), expr(Pq.intDot("sv", "qs")).as("d"))
        .orderBy(col("d").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), lit(1).as("hit"))
      rer.join(broadcast(tope), Seq("vec_id"), "left")
        .select(col("vec_id"), col("pre"), col("full_dot"),
          coalesce(col("hit"), lit(0)).as("in_exact"))
        .orderBy(col("full_dot").desc, col("vec_id").asc)
    },

    // E7: RESIDUAL IVF-PQ — the production IVFADC shape (q207 quantizes
    // raw vectors; real indexes quantize the residual to the assigned
    // coarse centroid, which is far lower-variance and so quantizes
    // better). The composition is all fixed-point: scaled vector minus
    // assigned centroid is an exact BIGINT residual; dividing by 1e6
    // bridges it back through the shared Lloyd trainer (whose own
    // 1e6-scaling recovers the exact integers — the round-trip error is
    // ~1e-9, eight orders under the 0.5 rounding threshold, and both
    // engines run the identical IEEE ops); ADC scores q·centroid +
    // q·codeword in exact integer arithmetic. Search touches only the
    // NPROBE probed cells; in_exact referees against the global exact
    // top-10 and n_cand records the probed-slice size. Served from the
    // marker-gated residual artifacts (VecIndex.residArtifacts —
    // steady-state runs time the search, the build is paid once per
    // corpus), through the shared serveIvfPq
    // kernel with the q·centroid term enabled.
    Q(
      "q220_residual_ivf_pq",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |resid AS MATERIALIZED (
         |  SELECT a.vec_id, a.cid,
         |    list_transform(range(len(a.embedding)), i ->
         |      CAST(CAST(FLOOR(CAST(a.embedding[i+1] AS DOUBLE) * 1000000
         |        + 0.5) AS BIGINT) - c.cs[i+1] AS DOUBLE) / 1000000.0)
         |      AS embedding
         |  FROM (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1) a
         |  JOIN cl$CITERS c ON a.cid = c.cid),
         |$residChains,
         |$residEncs,
         |probes AS MATERIALIZED (SELECT cid FROM assign WHERE vec_id = 0
         |  AND rn <= $NPROBE),
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT r.vec_id, r.cid FROM resid r
         |  JOIN probes p ON r.cid = p.cid
         |  WHERE r.vec_id <> 0),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
         |scored AS MATERIALIZED (
         |  SELECT v.vec_id,
         |    (${Pq.duckIntDot("q.qs", "cc.cs")}) + $residAdcSum AS adc,
         |    ${Pq.duckIntDot(Pq.duckScaled("ev.embedding"), "q.qs")}
         |      AS exact
         |  FROM cand v
         |  JOIN cl$CITERS cc ON v.cid = cc.cid
         |  JOIN embeddings ev ON ev.vec_id = v.vec_id
         |  $residEncJoins, qv q),
         |tope AS (
         |  SELECT v.vec_id FROM embeddings v, qv q
         |  WHERE v.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
                "q.qs")} DESC, v.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, n.n_cand
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc n
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      VecIndex.serveIvfPq(s, VecIndex.residArtifacts(s, dir, e), e,
        NPROBE, residual = true)
    },

    // E7: SQ8 scalar-quantized search — each dim quantizes to an 8-bit
    // code against per-dim corpus (min, max): 4× smaller vectors (64
    // bytes vs 64 floats' 256) with near-exact recall, the cheapest
    // production compression tier (coarser than nothing, finer than
    // PQ). All arithmetic is exact integers: the per-dim stats are
    // fixed-point BIGINT min/max (a 64-row broadcast table), the code
    // is a positive floor-division — identical in both engines — and
    // scoring dequantizes WITHOUT division: recon×255 = mn×255 +
    // code×(mx−mn) exactly, so ranking by q·recon255 is ranking by the
    // dequantized dot. in_exact referees against the exact top-10.
    Q(
      "q221_sq8_quantized_search",
      s"""WITH sv AS (
         |  SELECT vec_id, ${Pq.duckScaled("embedding")} AS sv
         |  FROM embeddings),
         |svrows AS MATERIALIZED (
         |  SELECT vec_id, generate_subscripts(sv, 1) AS pos,
         |    unnest(sv) AS sval
         |  FROM sv),
         |stats AS MATERIALIZED (
         |  SELECT pos, MIN(sval) AS mn, MAX(sval) AS mx
         |  FROM svrows GROUP BY pos),
         |statrow AS MATERIALIZED (
         |  SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
         |  FROM stats),
         |qv AS (SELECT sv AS qs FROM sv WHERE vec_id = 0),
         |recon AS MATERIALIZED (
         |  SELECT v.vec_id,
         |    list_transform(range(len(v.sv)), i ->
         |      s.mn[i+1] * 255 +
         |      (((v.sv[i+1] - s.mn[i+1]) * 255)
         |        // GREATEST(s.mx[i+1] - s.mn[i+1], 1))
         |      * (s.mx[i+1] - s.mn[i+1])) AS r255
         |  FROM sv v, statrow s
         |  WHERE v.vec_id <> 0),
         |scored AS MATERIALIZED (
         |  SELECT r.vec_id, ${Pq.duckIntDot("r.r255", "q.qs")} AS approx,
         |    ${Pq.duckIntDot("v.sv", "q.qs")} AS exact
         |  FROM recon r JOIN sv v ON v.vec_id = r.vec_id, qv q),
         |tope AS (
         |  SELECT v.vec_id FROM sv v, qv q
         |  WHERE v.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot("v.sv", "q.qs")} DESC, v.vec_id ASC
         |  LIMIT 10)
         |SELECT s.vec_id, s.approx, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact
         |FROM (SELECT * FROM scored ORDER BY approx DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id
         |ORDER BY s.approx DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val sv = e.select(col("vec_id"),
        expr(KMeans.scaleExpr("embedding")).as("sv"))
      // per-dim fixed-point (min, max), collapsed to ONE broadcast row
      // of pos-sorted arrays — the whole "codebook" of an SQ8 index
      val statRow = sv
        .select(posexplode(col("sv")).as(Seq("pos", "sval")))
        .groupBy(col("pos"))
        .agg(min(col("sval")).as("mn"), max(col("sval")).as("mx"))
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, mn))), " +
            "p -> p.mn)").as("mn"),
          expr("transform(array_sort(collect_list(struct(pos, mx))), " +
            "p -> p.mx)").as("mx"))
      val q0 = sv.filter(col("vec_id") === 0).select(col("sv").as("qs"))
      // quantize + dequantize in one map stage: code is a positive
      // floor-div; recon255 avoids the division entirely
      val recon = sv.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(statRow))
        .withColumn("r255", expr(
          "zip_with(zip_with(sv, mn, (s, a) -> struct(s AS s, a AS a)), " +
            "mx, (p, b) -> p.a * 255 + " +
            "(((p.s - p.a) * 255) div greatest(b - p.a, 1L)) " +
            "* (b - p.a))"))
        .crossJoin(broadcast(q0))
      val scored = recon.select(col("vec_id"),
        expr(Pq.intDot("r255", "qs")).as("approx"),
        expr(Pq.intDot("sv", "qs")).as("exact"))
      val tope = sv.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), expr(Pq.intDot("sv", "qs")).as("d"))
        .orderBy(col("d").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), lit(1).as("hit"))
      scored.orderBy(col("approx").desc, col("vec_id").asc).limit(10)
        .join(broadcast(tope), Seq("vec_id"), "left")
        .select(col("vec_id"), col("approx"), col("exact"),
          coalesce(col("hit"), lit(0)).as("in_exact"))
        .orderBy(col("approx").desc, col("vec_id").asc)
    },

    // E7: the IVF probe OPERATING CURVE — recall@10 and candidate count
    // at a LOG-SPACED grid of nprobe levels {min(2^g, CK)} up to the
    // (corpus-derived) cell count CK (IVFFlat scores probed candidates
    // exactly, so the curve isolates what the COARSE stage loses). This
    // is the measurement that tunes a production index: pick the
    // smallest nprobe on the curve that clears the recall target.
    //
    // Scale shape — COUNTING, not materialization: because IVFFlat
    // scores exactly, a level's top-10 ∩ exact top-10 is precisely the
    // exact-top-10 members whose cell has probe rank ≤ level (any exact
    // neighbour inside the candidate set beats every other candidate),
    // so recall needs only the 10-row referee tagged with cell ranks,
    // and n_cand is a sum over the CK-row (rank, cell-size) table —
    // NEITHER needs the per-level candidate replication the round-6
    // formulation paid (≤CK× fanout; quadratic-ish once CK rides
    // sqrt(n)). The whole curve costs one corpus scan (the referee) +
    // O(CK·|grid|) arithmetic, at every corpus size. Levels come from
    // an explicit spine, so a level whose probed cells are empty still
    // emits n_cand=0/hits=0 deterministically. The
    // grid ends exactly at CK, where recall MUST be 1.0 — the built-in
    // self-check the spec enforces.
    Q(
      "q222_ivf_probe_curve",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, cid FROM assign WHERE rn = 1),
         |prank AS MATERIALIZED (SELECT cid, rn FROM assign WHERE vec_id = 0),
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |levels AS (
         |  SELECT DISTINCT LEAST(CAST(1 AS BIGINT) << g, k) AS nprobe
         |  FROM (SELECT unnest(generate_series(0, 30)) AS g), kk),
         |sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM lists WHERE vec_id <> 0 GROUP BY cid),
         |cellrank AS (
         |  SELECT p.rn, COALESCE(s.sz, 0) AS sz
         |  FROM prank p LEFT JOIN sizes s ON p.cid = s.cid),
         |tope AS (
         |  SELECT v.vec_id FROM embeddings v, qv q
         |  WHERE v.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
                "q.qs")} DESC, v.vec_id ASC LIMIT 10),
         |toprn AS (
         |  SELECT t.vec_id, p.rn
         |  FROM tope t JOIN lists l ON t.vec_id = l.vec_id
         |  JOIN prank p ON l.cid = p.cid),
         |nc AS (
         |  SELECT lv.nprobe, CAST(SUM(CASE WHEN c.rn <= lv.nprobe
         |    THEN c.sz ELSE 0 END) AS BIGINT) AS n_cand
         |  FROM levels lv, cellrank c GROUP BY lv.nprobe),
         |ht AS (
         |  SELECT lv.nprobe, CAST(COUNT(t.vec_id) AS BIGINT) AS hits
         |  FROM levels lv LEFT JOIN toprn t ON t.rn <= lv.nprobe
         |  GROUP BY lv.nprobe)
         |SELECT n.nprobe, n.n_cand, h.hits,
         |  CAST(h.hits AS DOUBLE) / 10 AS recall_at_10
         |FROM nc n JOIN ht h ON n.nprobe = h.nprobe
         |ORDER BY n.nprobe""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val ck = KMeans.servingK(e)
      val coarse = KMeans.codebook(s, e, ck, CITERS)
      val lists = KMeans.assign(e, coarse)
        .select(col("vec_id"), col("cid"))
      // probe RANKING of all CK cells for the query (not a cut at one
      // nprobe — every level of the curve reads from this ranking)
      val prank = VecIndex.probeRanks(e, coarse).select(col("cid"), col("rn"))
      val q0 = VecIndex.queryRow(e)
      // the explicit level spine: {min(2^g, CK)} — log-spaced, ends at CK
      import s.implicits._
      val levels = (0 to 30).map(g => math.min(1L << g, ck.toLong))
        .distinct.sorted.toDF("nprobe")
      // CK-row (probe-rank, cell-size) table: n_cand per level is a
      // conditional sum over it — no candidate materialization
      val sizes = lists.filter(col("vec_id") =!= 0)
        .groupBy(col("cid")).agg(count(lit(1)).as("sz"))
      val cellrank = prank.join(sizes, Seq("cid"), "left")
        .select(col("rn"), coalesce(col("sz"), lit(0L)).as("sz"))
      // the ONE corpus scan: exact top-10 referee, tagged with cell rank
      val tope = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"),
          expr(Pq.intDot(KMeans.scaleExpr("embedding"), "qs")).as("d"))
        .orderBy(col("d").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      val toprn = lists.join(broadcast(tope), Seq("vec_id"))
        .join(broadcast(prank), Seq("cid"))
        .select(col("rn"))
      val nc = levels.crossJoin(broadcast(cellrank))
        .groupBy(col("nprobe"))
        .agg(sum(when(col("rn") <= col("nprobe"), col("sz"))
          .otherwise(0L)).cast("bigint").as("n_cand"))
      val ht = levels.join(broadcast(toprn),
          col("rn") <= col("nprobe"), "left")
        .groupBy(col("nprobe"))
        .agg(count(col("rn")).as("hits"))
      nc.join(ht, Seq("nprobe"))
        .select(col("nprobe"), col("n_cand"), col("hits"),
          (col("hits").cast("double") / 10).as("recall_at_10"))
        .orderBy(col("nprobe"))
    },

    // E7×E12: STREAMING vector search — online serving: the IVF index
    // (coarse codebook + cell-assigned corpus) is built ONCE batch-side,
    // then a stream of query vectors is served through it. Each
    // micro-batch probes its queries' NPROBE cells against the static
    // lists (a stream-static equi-join on the cell id — the candidate
    // fan-in never scans the corpus) and emits each query's exact
    // top-10. Per-query results are independent, so the output is
    // IDENTICAL however the source splits into micro-batches — which is
    // what lets a batch DuckDB oracle hash-check a streaming query.
    Q(
      "q223_stream_vector_search",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, cid FROM assign WHERE rn = 1),
         |qb AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe,
         |    ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id < $QN),
         |probes AS MATERIALIZED (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${KMeans.duckDot("q.qe", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM qb q, cl$CITERS c) WHERE rn <= $NPROBE),
         |cand AS MATERIALIZED (
         |  SELECT p.qid, l.vec_id
         |  FROM lists l JOIN probes p ON l.cid = p.cid
         |  WHERE l.vec_id <> p.qid),
         |scored AS MATERIALIZED (
         |  SELECT c.qid, c.vec_id,
         |    ${Pq.duckIntDot(Pq.duckScaled("ev.embedding"), "q.qs")} AS d
         |  FROM cand c
         |  JOIN qb q ON c.qid = q.qid
         |  JOIN embeddings ev ON ev.vec_id = c.vec_id)
         |SELECT qid, CAST(krn AS BIGINT) AS rank, vec_id, d
         |FROM (
         |  SELECT qid, vec_id, d,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY d DESC, vec_id ASC) AS krn
         |  FROM scored) WHERE krn <= 10
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      // ---- the INDEX, built once batch-side (train-once artifact) ----
      val e = Tables.table(s, dir, "embeddings")
      val coarse = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      val lists = KMeans.assign(e, coarse)
        .select(col("vec_id"), col("cid"),
          expr(KMeans.scaleExpr("embedding")).as("sv"))
      // ---- the QUERY STREAM ----
      val qStream = StreamOps.fileStream(s, dir, "embeddings")
        .filter(col("vec_id") < QN)
      val out = StreamOps.scratchDir(
        s"graft_streamann_${VecIndex.dirDigest(dir)}")
      StreamOps.foldBatches(s, qStream, out)(serveBatch(lists, coarse, out))
      ArtifactStore.readParquet(s, s"$out/b*").orderBy(col("qid"), col("rank"))
    },

    // E7: the BATCH-AVERAGED probe operating curve — q222 generalized
    // over q217's deterministic 32-query batch ("recall on n=1 is not
    // a tuning signal"). Per level: total
    // candidates across the batch (each query's own vector excluded
    // from its own candidate count) and mean recall@10 in 1/320 steps.
    // The level spine is explicit, so a level whose probed cells are
    // empty for every query still emits zeros; the grid ends at the
    // corpus-derived cell count CK, where mean recall MUST be exactly
    // 1.0 for EVERY query — the spec-enforced self-check.
    Q(
      "q226_batch_probe_curve",
      s"""WITH $probeCurveCtes
         |SELECT nprobe, n_cand, hits, mean_recall_at_10 FROM curve
         |ORDER BY nprobe""".stripMargin) { (s, dir) =>
      probeCurveFrame(s, dir)
    },

    // E7: METADATA-FILTERED vector search over the persisted index.
    // Output: the filtered top-10 (ADC + exact + referee flag) plus the
    // numbers that justify the plan — candidates before/after the
    // metadata filter, the eligible-corpus size, and the
    // selectivity-adapted probe width.
    Q(
      "q228_filtered_ann",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |${Pq.pqChains},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, embedding, cid FROM assign
         |  WHERE rn = 1),
         |${Pq.pqCodeEncs("lists", "_a")},
         |${Pq.duckCodesCte("codesall", "lists", "_a")},
         |elig AS MATERIALIZED (
         |  SELECT e.vec_id FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$LANG'),
         |npf AS (SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM elig) AS n_eligible,
         |  LEAST((SELECT k FROM kk),
         |    ($NPROBE * (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
         |      + (SELECT CAST(COUNT(*) AS BIGINT) FROM elig) - 1)
         |      // GREATEST((SELECT CAST(COUNT(*) AS BIGINT) FROM elig),
         |        1))
         |    AS nprobe_f),
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT a.cid FROM assign a, npf
         |  WHERE a.vec_id = 0 AND a.rn <= npf.nprobe_f),
         |candpre AS MATERIALIZED (
         |  SELECT ca.* FROM codesall ca JOIN probes p ON ca.cid = p.cid
         |  WHERE ca.vec_id <> 0),
         |ncp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_pre
         |  FROM candpre),
         |cand AS MATERIALIZED (
         |  SELECT cp.* FROM candpre cp JOIN elig g ON cp.vec_id = g.vec_id),
         |ncq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_post FROM cand),
         |scored AS MATERIALIZED (
         |  SELECT v.vec_id, ${Pq.duckAdcFromCodes} AS adc,
         |    ${Pq.duckIntDot(Pq.duckScaled("ev.embedding"), "q.qs")}
         |      AS exact
         |  FROM cand v
         |  JOIN embeddings ev ON ev.vec_id = v.vec_id
         |  ${Pq.duckAdcJoins}, qv q),
         |tope AS MATERIALIZED (
         |  SELECT v.vec_id FROM embeddings v
         |  JOIN elig g ON g.vec_id = v.vec_id, qv q
         |  WHERE v.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
                "q.qs")} DESC, v.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, c.n_cand_pre, c2.n_cand_post, n.n_eligible,
         |  n.nprobe_f
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, ncp c, ncq c2, npf n
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val d = Tables.table(s, dir, "documents")
      val ck = KMeans.servingK(e)
      val idx = VecIndex.artifacts(s, dir, "full", e)
      val coarse = ArtifactStore.readParquet(s, s"$idx/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      val codes = VecIndex.readCodes(s, idx)
      // the eligible-id relation: the lang predicate pushes to the
      // documents scan; the id projection prunes every other column
      val elig = d.filter(col("lang") === LANG)
        .select(col("doc_id").as("vec_id"))
      // selectivity-adapted probe width, exact integer ceiling math so
      // both engines derive the identical value
      val stats = e.agg(count(lit(1)).cast("bigint").as("n_tot"))
        .crossJoin(broadcast(
          elig.join(e.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).cast("bigint").as("n_eligible"))))
        .select(col("n_eligible"),
          least(lit(ck.toLong),
            // GREATEST guard: zero eligible docs must yield a clean
            // nprobe_f = ck (probe all, zero candidates) in BOTH
            // engines, not a NULL `div` that silently drops every probe
            expr(s"($NPROBE * n_tot + n_eligible - 1) div " +
              "GREATEST(n_eligible, 1L)"))
            .as("nprobe_f"))
      val probes = VecIndex.probeRanks(e, coarse)
        .crossJoin(broadcast(stats))
        .filter(col("rn") <= col("nprobe_f"))
        .select(col("cid"))
      val q0 = VecIndex.queryRow(e)
      // candidates from the stored codes of the probed cells, THEN the
      // metadata filter on the bounded set (post-filter strategy)
      val candPre = VecIndex.candidates(codes, probes)
      val cand = candPre.join(elig, Seq("vec_id"), "left_semi")
      val ncPre = candPre
        .agg(count(lit(1)).cast("bigint").as("n_cand_pre"))
      val ncPost = cand
        .agg(count(lit(1)).cast("bigint").as("n_cand_post"))
      // the exact referee runs over the ELIGIBLE corpus only — the
      // pre-filter strategy, kept as the measurement harness
      VecIndex.refereed(VecIndex.adcScores(cand, cbRow, q0),
          e.join(elig, Seq("vec_id"), "left_semi")
            .filter(col("vec_id") =!= 0), q0)
        .crossJoin(broadcast(ncPre))
        .crossJoin(broadcast(ncPost))
        .crossJoin(broadcast(stats))
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          col("n_cand_pre"), col("n_cand_post"), col("n_eligible"),
          col("nprobe_f"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    },

    // E7: TWO-STAGE ADC + EXACT REFINE — the standard quantized-index
    // serving pipeline: ADC ranks the probed candidates from stored
    // M-byte codes alone, the top-C survivors are re-scored with their
    // FULL vectors (a broadcast-of-C join back to the corpus — the only
    // raw-vector reads on the serving path), and the final top-10 is
    // exact-ordered. The gate measures what the refine stage buys:
    // hits_adc (exact-top-10 members in the plain ADC top-10) vs
    // hits_refined (in the refined top-10) — refine can only help,
    // and the spec enforces hits_refined >= hits_adc.
    Q(
      "q230_adc_refine",
      s"""WITH $serveSqlPrefix,
         |topc AS MATERIALIZED (
         |  SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT $REFINE_C),
         |adc10 AS (SELECT vec_id FROM topc ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10),
         |refined AS MATERIALIZED (
         |  SELECT * FROM topc ORDER BY exact DESC, vec_id ASC LIMIT 10),
         |ha AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits_adc
         |  FROM adc10 a JOIN tope t ON a.vec_id = t.vec_id),
         |hr AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits_refined
         |  FROM refined r JOIN tope t ON r.vec_id = t.vec_id)
         |SELECT r.vec_id, r.adc, r.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, a.hits_adc, h.hits_refined, c.n_cand
         |FROM refined r LEFT JOIN tope t ON r.vec_id = t.vec_id,
         |  ha a, hr h, nc c
         |ORDER BY r.exact DESC, r.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val idx = VecIndex.artifacts(s, dir, "full", e)
      val coarse = ArtifactStore.readParquet(s, s"$idx/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      val codes = VecIndex.readCodes(s, idx)
      val q0 = VecIndex.queryRow(e)
      val cand = VecIndex.candidates(codes,
        VecIndex.probes(e, coarse, NPROBE))
      val scored = VecIndex.adcScores(cand, cbRow, q0)
      // stage 1: ADC top-C from stored codes alone
      val topC = scored.orderBy(col("adc").desc, col("vec_id").asc)
        .limit(REFINE_C)
      // stage 2: exact re-score of ONLY the C survivors — the C-row
      // frame broadcasts into the corpus scan, so full vectors are
      // read for C rows, never the candidate set
      val refinedScores = e.join(broadcast(topC), Seq("vec_id"))
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("adc"), expr(Pq.intDot(
          KMeans.scaleExpr("embedding"), "qs")).as("exact"))
      val refined = refinedScores
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      // referee: the exact global top-10
      val exactAll = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), expr(Pq.intDot(
          KMeans.scaleExpr("embedding"), "qs")).as("ex"))
      val globalTop = exactAll
        .orderBy(col("ex").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), lit(1).as("hit"))
      val adc10 = topC.orderBy(col("adc").desc, col("vec_id").asc)
        .limit(10).select(col("vec_id"))
      val hitsAdc = adc10.join(broadcast(globalTop), Seq("vec_id"))
        .agg(count(lit(1)).cast("bigint").as("hits_adc"))
      val hitsRef = refined.select(col("vec_id"))
        .join(broadcast(globalTop), Seq("vec_id"))
        .agg(count(lit(1)).cast("bigint").as("hits_refined"))
      val ncnt = cand.agg(count(lit(1)).cast("bigint").as("n_cand"))
      refined
        .join(broadcast(globalTop), Seq("vec_id"), "left")
        .crossJoin(broadcast(hitsAdc))
        .crossJoin(broadcast(hitsRef))
        .crossJoin(broadcast(ncnt))
        .select(col("vec_id"), col("adc"), col("exact"),
          coalesce(col("hit"), lit(0)).as("in_exact"),
          col("hits_adc"), col("hits_refined"), col("n_cand"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    // E7: DIVERSIFIED results — the per-source result cap every
    // retrieval frontend applies ("at most 2 hits per domain"). The
    // cap is a window PARTITIONED BY source over the ADC-ranked probed
    // candidates (bounded rows — the corpus is never ranked), then the
    // global top-10 of the survivors. Source metadata joins on the
    // candidate id, pruned to (doc_id, source) at the scan.
    Q(
      "q231_diversified_ann",
      s"""WITH $serveSqlPrefix,
         |wsrc AS MATERIALIZED (
         |  SELECT s.vec_id, s.adc, d.source,
         |    ROW_NUMBER() OVER (PARTITION BY d.source
         |      ORDER BY s.adc DESC, s.vec_id ASC) AS src_rank
         |  FROM scored s JOIN documents d ON d.doc_id = s.vec_id)
         |SELECT vec_id, adc, source, CAST(src_rank AS BIGINT) AS src_rank
         |FROM wsrc WHERE src_rank <= $SRC_CAP
         |ORDER BY adc DESC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val d = Tables.table(s, dir, "documents")
      val idx = VecIndex.artifacts(s, dir, "full", e)
      val coarse = ArtifactStore.readParquet(s, s"$idx/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      val codes = VecIndex.readCodes(s, idx)
      val scored = VecIndex.adcScores(VecIndex.candidates(codes,
        VecIndex.probes(e, coarse, NPROBE)), cbRow, VecIndex.queryRow(e))
      val srcs = d.select(col("doc_id").as("vec_id"), col("source"))
      val ws = Window.partitionBy(col("source"))
        .orderBy(col("adc").desc, col("vec_id").asc)
      scored.join(srcs, Seq("vec_id"))
        .withColumn("src_rank", row_number().over(ws).cast("bigint"))
        .filter(col("src_rank") <= SRC_CAP)
        .orderBy(col("adc").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("adc"), col("source"), col("src_rank"))
    },

    // E7: BINARY (sign) quantization + Hamming shortlist — the
    // cheapest retrieval tier: each vector compresses to 64 SIGN bits
    // of its q211 signed-projection (16 bytes stand in for 256 bytes
    // of floats), the whole corpus is Hamming-scanned on two BIGINT
    // words (xor + bit_count — pure codegen integer ops), and the
    // top-M shortlist reranks exactly via a broadcast-of-M join back
    // to the corpus (the q230 refine discipline). Recall of the exact
    // top-10 inside the reranked 10 is reported in-band. All-integer
    // end to end: sign bits, Hamming counts, and the exact rerank are
    // bit-identical in both engines under any partitioning.
    Q(
      "q232_binary_hamming",
      s"""WITH ivc AS (
         |  SELECT vec_id, ${Pq.duckScaled("embedding")} AS iv
         |  FROM embeddings),
         |wp AS MATERIALIZED (
         |  SELECT vec_id, iv, ${Round5Final.projDuck(SIGBITS)} AS p
         |  FROM ivc t),
         |sg AS MATERIALIZED (
         |  SELECT vec_id, iv, ${packDuck(0)} AS sig0, ${packDuck(32)}
         |    AS sig1 FROM wp),
         |qv AS (SELECT iv AS qiv, sig0 AS qs0, sig1 AS qs1 FROM sg
         |  WHERE vec_id = 0),
         |hm AS MATERIALIZED (
         |  SELECT s.vec_id, CAST(bit_count(xor(s.sig0, q.qs0)) +
         |    bit_count(xor(s.sig1, q.qs1)) AS BIGINT) AS hamming
         |  FROM sg s, qv q WHERE s.vec_id <> 0),
         |short AS MATERIALIZED (
         |  SELECT * FROM hm ORDER BY hamming ASC, vec_id ASC
         |  LIMIT $HAM_M),
         |rr AS MATERIALIZED (
         |  SELECT sh.vec_id, sh.hamming,
         |    ${Pq.duckIntDot("c.iv", "q.qiv")} AS exact
         |  FROM short sh JOIN sg c ON c.vec_id = sh.vec_id, qv q),
         |tp AS (SELECT * FROM rr ORDER BY exact DESC, vec_id ASC
         |  LIMIT 10),
         |tope AS MATERIALIZED (
         |  SELECT s.vec_id FROM sg s, qv q WHERE s.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot("s.iv", "q.qiv")} DESC, s.vec_id ASC
         |  LIMIT 10),
         |hh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM tp t JOIN tope e ON t.vec_id = e.vec_id)
         |SELECT t.vec_id, t.hamming, t.exact,
         |  CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, h.n_hit
         |FROM tp t LEFT JOIN tope e ON t.vec_id = e.vec_id, hh h
         |ORDER BY t.exact DESC, t.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      // the 64×64 ±1 sign matrix evaluates its LCG ONCE, on a one-row
      // frame that broadcasts — per corpus row the projection is then
      // 64 plain integer dots, and the signature table checkpoints so
      // the scan/rerank/referee consumers share one computation
      val signRow = s.range(1).select(expr(
        s"transform(sequence(0, ${SIGBITS - 1}), j -> " +
          "transform(sequence(0, 63), i -> " +
          "CAST(1 - 2 * ((((CAST(j * 64 + i AS BIGINT) * 1103515245 " +
          "+ 12345) % 2147483648) div 65536) % 2) AS BIGINT)))")
        .as("sm"))
      val sigPlan = e
        .select(col("vec_id"), expr(KMeans.scaleExpr("embedding")).as("iv"))
        .crossJoin(broadcast(signRow))
        .withColumn("p", expr(
          s"transform(sm, sj -> ${Pq.intDot("sj", "iv")})"))
        .withColumn("sig0", expr(packSpark(0)))
        .withColumn("sig1", expr(packSpark(32)))
        .select(col("vec_id"), col("iv"), col("sig0"), col("sig1"))
      val sig = pin(s, sigPlan)
      val q0 = sig.filter(col("vec_id") === 0)
        .select(col("iv").as("qiv"), col("sig0").as("qs0"),
          col("sig1").as("qs1"))
      // the Hamming scan touches ONLY the two signature words
      val shortlist = sig.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), expr(
          "CAST(bit_count(sig0 ^ qs0) + bit_count(sig1 ^ qs1) AS BIGINT)")
          .as("hamming"))
        .orderBy(col("hamming").asc, col("vec_id").asc).limit(HAM_M)
      // exact rerank of the M survivors: broadcast-of-M join back to
      // the corpus, full vectors read for M rows only
      val reranked = sig.join(broadcast(shortlist), Seq("vec_id"))
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("hamming"),
          expr(Pq.intDot("iv", "qiv")).as("exact"))
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      val exactAll = sig.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), expr(Pq.intDot("iv", "qiv")).as("ex"))
      val globalTop = exactAll
        .orderBy(col("ex").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), lit(1).as("hit"))
      val nHit = reranked.select(col("vec_id"))
        .join(broadcast(globalTop), Seq("vec_id"))
        .agg(count(lit(1)).cast("bigint").as("n_hit"))
      reranked
        .join(broadcast(globalTop), Seq("vec_id"), "left")
        .crossJoin(broadcast(nHit))
        .select(col("vec_id"), col("hamming"), col("exact"),
          coalesce(col("hit"), lit(0)).as("in_exact"), col("n_hit"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    }
  )

  /** Pack 32 sign bits (projection dims off..off+31) into one BIGINT:
    * bit j set iff p[off+j] > 0 (ties at exactly 0 count as negative —
    * integer projections make the tie deterministic in both engines).
    */
  private def packSpark(off: Int): String =
    s"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc + " +
      s"IF(element_at(p, j + ${off + 1}) > 0, " +
      "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"

  private def packDuck(off: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(32), j -> CASE WHEN p[j + ${off + 1}] > 0 " +
      "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), " +
      "(a, b) -> a + b)"
}
