package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Product quantization + the composed IVF-PQ search path (SURVEY.md
  * §2.3 E7; completes the codebook story q196 opened: q74 trains the
  * COARSE quotient codebook, q202 trains the M per-subspace codebooks
  * and scores by asymmetric distance computation, and q207 composes
  * probe + ADC into the full index search).
  *
  * Design, and why it scales to 100 TB of vectors:
  *  - The 64-d embedding splits into M=4 contiguous 16-d subspaces;
  *    each gets its own K=8-codeword codebook trained with the SAME
  *    fixed-point Lloyd machinery as q196 (`KMeans.codebook` over the
  *    sliced vector) — deterministic to the last fixed-point digit, so
  *    the DuckDB oracle replays all M chains as side-by-side CTEs via
  *    `KMeans.oracleCtesSlice`.
  *  - Encoding is a pure MAP stage: the M×K codebook collapses to ONE
  *    broadcast row of (sub, cid, cs) structs; each vector's M codes
  *    are per-row argmax folds (ties to lowest cid), no explode and no
  *    shuffle. A 10^10-vector corpus encodes embarrassingly parallel,
  *    and the stored code is M bytes instead of 64 floats (64× smaller
  *    — the reason PQ exists).
  *  - ADC scoring is exact INTEGER arithmetic end to end: both the
  *    query and the codewords are 1e6-fixed-point BIGINTs, so the
  *    per-subspace dot products and their sum are order-independent —
  *    no float drift between engines, no partial-agg sensitivity.
  *  - Top-10 by ADC and top-10 exact are both orderBy+limit →
  *    TakeOrderedAndProject (per-partition heaps + driver merge of 10,
  *    never a global sort); the recall flag joins the two 10-row sides
  *    with an explicit broadcast.
  *  - q207 trains PQ on the raw vectors (the IVFFlat-PQ variant, not
  *    residual-PQ) — the deterministic choice; the probe step bounds
  *    the ADC stage to the 2 probed coarse lists exactly as q74 does.
  *
  * Reference scope: the reference has no vector index at all — this is
  * part of the training-data-pipeline mandate (ANN over an embedding
  * column, baseline brute force q50, scale paths IVF q74 / PQ q202 /
  * IVF-PQ q207).
  */
object Pq {

  import VecIndex.{CITERS, NPROBE, QN}

  private[ops] val M = 4 // subspaces
  private[ops] val SUB = 16 // dims per subspace (embeddings are 64-d)
  private[ops] val K = 8 // codewords per subspace
  private[ops] val ITERS = 2 // Lloyd iterations per subspace

  /** Exact integer dot over two fixed-point BIGINT arrays (ascending
    * fold; order-free because integer addition is associative).
    */
  private[ops] def intDot(a: String, b: String): String =
    // codegen kernel (graft.functions.IntDot) — identical arithmetic
    // and null semantics to the HOF zip_with/aggregate fold
    s"int_dot($a, $b)"

  private[ops] def duckIntDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), " +
      "(x, y) -> x + y)"

  /** DuckDB side of the md5-char fingerprint fold mod 1e9+7 (the
    * q198/q208/q254 hashing kernel; Spark evaluates it with the
    * `char_fold` kernel).
    */
  private[ops] def duckFold(u: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(md5($u), ''), " +
      "c -> CAST(unicode(c) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"

  private[ops] def duckScaled(a: String): String =
    s"list_transform($a, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 " +
      "+ 0.5) AS BIGINT))"

  // ---------------- shared Spark-side builders ----------------------

  /** Train the M per-subspace codebooks and collapse them to one
    * broadcastable row: array of (sub, cid, cs) structs.
    */
  private[ops] def trainPq(s: SparkSession, e: DataFrame): DataFrame =
    (0 until M).map { m =>
      val sub = e.select(col("vec_id"),
        expr(s"slice(embedding, ${m * SUB + 1}, $SUB)").as("embedding"))
      KMeans.codebook(s, sub, K, ITERS)
        .select(lit(m).as("sub"), col("cid"), col("cs"))
    }.reduce(_.unionByName(_))
      .agg(expr("array_sort(collect_list(struct(sub, cid, cs)))").as("cbs"))

  /** Encode `in` (vec_id, embedding) against the broadcast codebook row
    * and score: (vec_id, adc, exact) — one broadcast-joined map stage.
    */
  private def adcScore(
      in: DataFrame, cbRow: DataFrame, q0: DataFrame): DataFrame = {
    val base = in
      .crossJoin(broadcast(cbRow))
      .crossJoin(broadcast(q0))
      .withColumn("sv", expr(KMeans.scaleExpr("embedding")))
    // the pq_encode kernel computes all M argmax codes in one cbs
    // pass; adc_codes serves the ADC sum from them
    base
      .withColumn("pqc", expr("pq_encode(sv, cbs)"))
      .withColumn("adc", expr("adc_codes(qs, cbs, pqc)"))
      .withColumn("exact", expr(intDot("sv", "qs")))
      .select(col("vec_id"), col("adc"), col("exact"))
  }

  /** PQ-encode (…, embedding) to M codes against the broadcast codebook
    * row — the stored-codes shape: the corpus encodes ONCE and every
    * query is served from the codes. All non-embedding columns (vec_id,
    * the probe-join cid) pass through.
    */
  private[ops] def pqEncode(in: DataFrame, cbRow: DataFrame): DataFrame = {
    val keep = in.columns.filter(_ != "embedding").toIndexedSeq.map(col)
    val base = in.crossJoin(broadcast(cbRow))
      .withColumn("sv", expr(KMeans.scaleExpr("embedding")))
    val coded = base.withColumn("pqc", expr("pq_encode(sv, cbs)"))
    coded.select(keep ++ (0 until M).map(m =>
      element_at(col("pqc"), m + 1).as(s"c$m")): _*)
  }

  /** ADC sum over stored codes c0..c{M-1} against a per-row `qs` query
    * vector (both broadcast-joined).
    */
  private[ops] def adcFromCodes: String =
    s"adc_codes(qs, cbs, array(${(0 until M).map(m => s"c$m")
      .mkString(", ")}))"

  // ---------------- shared oracle builders ---------------------------

  /** The M side-by-side per-subspace Lloyd chains. */
  private[ops] def pqChains: String =
    pqChainsFrom("embeddings")

  /** Variant trained on an arbitrary source CTE (q225 trains PQ on the
    * BASE split only; new vectors must encode against those codebooks
    * without retraining).
    */
  private[ops] def pqChainsFrom(src: String): String =
    (0 until M)
      .map(m => KMeans.oracleCtesSlice(K.toString, ITERS, m * SUB, SUB,
        s"_s$m", src))
      .mkString(",\n")

  /** Per-subspace CODE-ID encode CTEs `code<tag><m>` over `src` (must
    * expose vec_id + embedding): (vec_id, code) — the stored M-byte form
    * a persisted index keeps, used by the q225/q227 artifact
    * fingerprints and ADC joins.
    */
  private[ops] def pqCodeEncs(src: String, tag: String): String =
    (0 until M).map { m =>
      val sliced = duckScaled(
        s"list_slice(e.embedding, ${m * SUB + 1}, ${(m + 1) * SUB})")
      s"""code$tag$m AS MATERIALIZED (
         |  SELECT vec_id, cid AS code FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckIntDot(sliced, "c.cs")} DESC, c.cid ASC)
         |        AS rn
         |    FROM $src e, cl${ITERS}_s$m c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** Assemble a (vec_id, cid, c0..c{M-1}) codes CTE from `listsSrc`
    * (vec_id, cid) and the M code CTEs tagged `tag`.
    */
  private[ops] def duckCodesCte(
      name: String, listsSrc: String, tag: String): String =
    s"""$name AS (
       |  SELECT l.vec_id, l.cid, ${(0 until M)
         .map(m => s"e$m.code AS c$m").mkString(", ")}
       |  FROM $listsSrc l
       |  ${(0 until M)
         .map(m => s"JOIN code$tag$m e$m ON l.vec_id = e$m.vec_id")
         .mkString("\n  ")})""".stripMargin

  /** ADC sum for a codes row `v` (columns c0..c{M-1}) against query `q`
    * (column qs), resolving codewords from the cl chains.
    */
  private[ops] val duckAdcFromCodes: String =
    (0 until M).map { m =>
      duckIntDot(s"list_slice(q.qs, ${m * SUB + 1}, ${(m + 1) * SUB})",
        s"w$m.cs")
    }.mkString("(", ") + (", ")")

  /** The codeword joins duckAdcFromCodes needs (`v` = the codes row). */
  private[ops] val duckAdcJoins: String =
    (0 until M)
      .map(m => s"JOIN cl${ITERS}_s$m w$m ON w$m.cid = v.c$m")
      .mkString("\n  ")

  /** Per-subspace encode CTEs `enc0..enc{M-1}` over source CTE `src`
    * (must expose vec_id + embedding).
    */
  private[ops] def pqEncs(src: String): String =
    (0 until M).map { m =>
      val sliced = duckScaled(
        s"list_slice(e.embedding, ${m * SUB + 1}, ${(m + 1) * SUB})")
      s"""enc$m AS MATERIALIZED (
         |  SELECT vec_id, cs FROM (
         |    SELECT e.vec_id, c.cs,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckIntDot(sliced, "c.cs")} DESC, c.cid ASC)
         |        AS rn
         |    FROM $src e, cl${ITERS}_s$m c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private[ops] def pqAdcSum: String =
    (0 until M).map { m =>
      duckIntDot(s"list_slice(q.qs, ${m * SUB + 1}, ${(m + 1) * SUB})",
        s"e$m.cs")
    }.mkString("(", ") + (", ")")

  private[ops] def pqEncJoins: String =
    (0 until M)
      .map(m => s"JOIN enc$m e$m ON v.vec_id = e$m.vec_id")
      .mkString("\n  ")

  private[ops] val qvCte: String =
    s"qv AS (SELECT ${duckScaled("embedding")} AS qs\n" +
      "  FROM embeddings WHERE vec_id = 0)"

  // ---------------- gates --------------------------------------------

  val queries: Seq[Q] = Seq(
    Q(
      "q202_pq_adc",
      s"""WITH $pqChains,
         |${pqEncs("embeddings")},
         |$qvCte,
         |scored AS MATERIALIZED (
         |  SELECT v.vec_id, $pqAdcSum AS adc,
         |    ${duckIntDot(duckScaled("v.embedding"), "q.qs")} AS exact
         |  FROM embeddings v, qv q
         |  $pqEncJoins
         |  WHERE v.vec_id <> 0),
         |tope AS (SELECT vec_id FROM scored
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val scored = adcScore(e.filter(col("vec_id") =!= 0), trainPq(s, e),
        VecIndex.queryRow(e))
      val exactTop = scored
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), lit(1).as("hit"))
      scored.orderBy(col("adc").desc, col("vec_id").asc).limit(10)
        .join(broadcast(exactTop), Seq("vec_id"), "left")
        .select(col("vec_id"), col("adc"), col("exact"),
          coalesce(col("hit"), lit(0)).as("in_exact"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    },

    // E7: the COMPOSED index — coarse probe (q74's trained IVF) bounds
    // the candidate set to NPROBE lists, then PQ-ADC (q202) ranks the
    // candidates; the recall flag compares against the GLOBAL exact
    // top-10, so the gate measures what the whole pipeline loses, and
    // n_cand records how small the probed slice was (the 100 TB
    // story: search touches ~NPROBE/CK of the corpus, scored against
    // M-byte codes — reading neither all vectors nor full vectors).
    // Served from the marker-gated q224 artifacts (round-12 verdict:
    // steady-state runs must time the SEARCH, not a per-run retrain);
    // the q224 spec's q207==q224 equality pin plus this gate's oracle
    // prove artifact-serve == inline derivation.
    Q(
      "q207_ivf_pq_search",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |$pqChains,
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |probes AS MATERIALIZED (SELECT cid FROM assign WHERE vec_id = 0
         |  AND rn <= $NPROBE),
         |cand AS MATERIALIZED (
         |  SELECT l.vec_id, l.embedding
         |  FROM (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1) l
         |  JOIN probes p ON l.cid = p.cid
         |  WHERE l.vec_id <> 0),
         |${pqEncs("cand")},
         |$qvCte,
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
         |scored AS MATERIALIZED (
         |  SELECT v.vec_id, $pqAdcSum AS adc,
         |    ${duckIntDot(duckScaled("v.embedding"), "q.qs")} AS exact
         |  FROM cand v, qv q
         |  $pqEncJoins),
         |tope AS (
         |  SELECT v.vec_id FROM embeddings v, qv q
         |  WHERE v.vec_id <> 0
         |  ORDER BY ${duckIntDot(duckScaled("v.embedding"), "q.qs")} DESC,
         |    v.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, n.n_cand
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc n
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      VecIndex.serveIvfPq(s, VecIndex.artifacts(s, dir, "full", e), e,
        NPROBE, residual = false)
    },

    // E7: the PRODUCTION index shape — a deterministic batch of QN
    // query vectors served through one shared index: the corpus is
    // coarse-assigned once and PQ-encoded once (stored codes), each
    // query probes its own NPROBE lists, ADC ranks per query, and
    // every top-k is a window PARTITIONED BY query (never a
    // single-partition sort). recall@10 is reported per query against
    // the per-query exact top-10, so the gate grades what the index
    // loses at batch scale. At 100 TB: probe fan-out is (queries ×
    // NPROBE) broadcast rows against the coded corpus; the exact
    // referee is the only full-scan stage and exists to measure
    // recall, not to serve.
    Q(
      "q217_batched_ivf_pq",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |$pqChains,
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, cid FROM assign WHERE rn = 1),
         |qb AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe,
         |    ${duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id < $QN),
         |probes AS MATERIALIZED (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${KMeans.duckDot("q.qe", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM qb q, cl$CITERS c) WHERE rn <= $NPROBE),
         |${pqEncs("embeddings")},
         |cand AS MATERIALIZED (
         |  SELECT p.qid, l.vec_id
         |  FROM lists l JOIN probes p ON l.cid = p.cid
         |  WHERE l.vec_id <> p.qid),
         |scored AS MATERIALIZED (
         |  SELECT c.qid, c.vec_id, $pqAdcSum AS adc
         |  FROM cand c JOIN qb q ON c.qid = q.qid
         |  ${(0 until M).map(m =>
              s"JOIN enc$m e$m ON c.vec_id = e$m.vec_id").mkString("\n  ")}),
         |topadc AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adc DESC, vec_id ASC) AS rn
         |    FROM scored) WHERE rn <= 10),
         |topexact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, v.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${duckIntDot(duckScaled("v.embedding"),
                  "q.qs")} DESC, v.vec_id ASC) AS rn
         |    FROM embeddings v, qb q WHERE v.vec_id <> q.qid)
         |  WHERE rn <= 10),
         |ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |  FROM cand GROUP BY qid),
         |hits AS (
         |  SELECT t.qid, CAST(COUNT(x.vec_id) AS BIGINT) AS hits
         |  FROM topadc t LEFT JOIN topexact x
         |    ON t.qid = x.qid AND t.vec_id = x.vec_id
         |  GROUP BY t.qid)
         |SELECT q.qid, COALESCE(n.n_cand, 0) AS n_cand,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10 AS recall_at_10
         |FROM qb q
         |LEFT JOIN ncand n ON q.qid = n.qid
         |LEFT JOIN hits h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val coarse = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      val cbRow = trainPq(s, e)
      // corpus side, built ONCE: coarse list + M stored PQ codes per
      // vector (M bytes standing in for 64 floats — the served index)
      val codes = pqEncode(KMeans.assign(e, coarse), cbRow)
      // the query batch: deterministic sample, scaled once, broadcast
      val qb = e.filter(col("vec_id") < QN)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(KMeans.scaleExpr("embedding")).as("qs"))
      val wprobe = Window.partitionBy(col("qid"))
        .orderBy(col("cdot").desc, col("cid").asc)
      val probes = qb.crossJoin(broadcast(coarse))
        .withColumn("cdot", expr(KMeans.dotFold("qe", "cs")))
        .withColumn("rn", row_number().over(wprobe))
        .filter(col("rn") <= NPROBE)
        .select(col("qid"), col("cid"))
      val cand = codes.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= col("qid"))
      val scored = cand
        .join(broadcast(qb.select(col("qid"), col("qs"))), "qid")
        .crossJoin(broadcast(cbRow))
        .withColumn("adc", expr(adcFromCodes))
        .select(col("qid"), col("vec_id"), col("adc"))
      val wtop = Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("vec_id").asc)
      val topAdc = scored.withColumn("rn", row_number().over(wtop))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
      // exact referee: the one full-scan stage, windowed per query
      val wex = Window.partitionBy(col("qid"))
        .orderBy(col("exact").desc, col("vec_id").asc)
      val topExact = e
        .select(col("vec_id"), expr(KMeans.scaleExpr("embedding")).as("sv"))
        .crossJoin(broadcast(qb.select(col("qid"), col("qs"))))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("exact", expr(intDot("sv", "qs")))
        .withColumn("rn", row_number().over(wex))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"), lit(1).as("hit"))
      val nCand = cand.groupBy(col("qid"))
        .agg(count(lit(1)).cast("bigint").as("n_cand"))
      val hits = topAdc
        .join(topExact, Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("bigint").as("hits"))
      qb.select(col("qid"))
        .join(broadcast(nCand), Seq("qid"), "left")
        .join(broadcast(hits), Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / 10)
            .as("recall_at_10"))
        .orderBy(col("qid"))
    })
}
