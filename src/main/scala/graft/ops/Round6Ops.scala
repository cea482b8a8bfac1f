package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6 gates: the third TRAINED-model family (a multinomial Naive
  * Bayes language classifier — counting is the training) and a
  * Matryoshka-style two-stage ANN serving path (prefix-dims coarse scan,
  * full-dims rerank).
  *
  * Scale shape:
  *  - q218: the trained NB "model" is two count tables — (lang, tok)
  *    likelihood counts and per-lang totals — produced by partial-agg
  *    shuffles keyed on the token; model size is O(vocab × langs), which
  *    Heaps' law keeps sublinear in the corpus, so scoring broadcasts the
  *    counts and stays a map-side join however large the test split is.
  *    All training arithmetic is exact BIGINT counting; only the log
  *    scoring rounds (q156's cross-engine discipline: round(ln, 6) into
  *    DECIMAL sums, order-independent and replayed exactly by DuckDB).
  *  - q219: stage 1 scores ONLY the first 16 of 64 dims (4× less compute
  *    and — with a prefix-truncated stored column — 4× less IO) and keeps
  *    top-C via TakeOrderedAndProject (per-partition heaps, no global
  *    sort); stage 2 reranks the C survivors with the full vector. The
  *    recall flag joins against the global exact top-10, so the gate
  *    measures what the truncation loses. All dots are 1e6 fixed-point
  *    BIGINTs — exact in both engines.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has neither a
  * trained classifier nor a vector index; both gates are part of the
  * training-data-pipeline mandate (language ID at corpus scale; ANN
  * serving over an embedding column).
  */
object Round6Ops {

  private val C = 64 // q219 stage-1 candidate count
  private val PRE = 16 // q219 prefix dims (of 64)

  // q220+ residual IVF-PQ / serving family: the coarse-cell count is
  // CORPUS-DERIVED (KMeans.servingK = max(4, floor(sqrt(n))/2)), shared
  // with q74/q207/q217 so the coarse codebook stays the ONE train-once
  // artifact and per-cell occupancy stays ~2*sqrt(n) as the corpus grows
  private val CITERS = 2 // coarse Lloyd iterations
  private val NPROBE = 2 // probed cells per query
  private val QN = 32 // q223 streaming query count
  private val M = 4 // PQ subspaces
  private val SUB = 16 // dims per subspace (embeddings are 64-d)
  private val K = 8 // codewords per subspace
  private val ITERS = 2 // Lloyd iterations per subspace

  /** The M side-by-side per-subspace Lloyd chains over the residual CTE
    * (tag `_r<m>` keeps them disjoint from the coarse chain's names).
    */
  private def residChains: String =
    (0 until M)
      .map(m => KMeans.oracleCtesSlice(K.toString, ITERS, m * SUB, SUB,
        s"_r$m", "resid"))
      .mkString(",\n")

  /** Per-subspace encode CTEs over the residuals (argmax dot against the
    * trained residual codewords, ties to lowest cid).
    */
  private def residEncs: String =
    (0 until M).map { m =>
      val sliced = Pq.duckScaled(
        s"list_slice(e.embedding, ${m * SUB + 1}, ${(m + 1) * SUB})")
      s"""renc$m AS MATERIALIZED (
         |  SELECT vec_id, cs FROM (
         |    SELECT e.vec_id, c.cs,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Pq.duckIntDot(sliced, "c.cs")} DESC, c.cid ASC)
         |        AS rn
         |    FROM resid e, cl${ITERS}_r$m c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def residAdcSum: String =
    (0 until M).map { m =>
      Pq.duckIntDot(s"list_slice(q.qs, ${m * SUB + 1}, ${(m + 1) * SUB})",
        s"r$m.cs")
    }.mkString("(", ") + (", ")")

  private def residEncJoins: String =
    (0 until M)
      .map(m => s"JOIN renc$m r$m ON v.vec_id = r$m.vec_id")
      .mkString("\n  ")

  val queries: Seq[Q] = Seq(
    // E8/E13: TRAINED language classifier — multinomial NB with add-one
    // smoothing, trained on the doc_id%5!=0 split (labels = the lang
    // column), evaluated on the %5==0 split as a confusion matrix.
    // p(tok|lang) = (c(tok,lang)+1)/(tot_lang+V); score(doc,lang) =
    // ln prior + Σ ln p(tok|lang); argmax ties break to the
    // lexicographically first lang. Every ln is round(·,6) into
    // DECIMAL(18,9) BEFORE the sum, so both engines rank identical exact
    // decimals — no float-order drift can flip a near-tie argmax.
    Q(
      "q218_nb_lang_classifier",
      """WITH train AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE doc_id % 5 <> 0),
        |test AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE doc_id % 5 = 0),
        |ttok AS (SELECT lang, unnest(t) AS tok FROM train),
        |cnt AS (
        |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ttok GROUP BY lang, tok),
        |tot AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ttok GROUP BY lang),
        |vocab AS (
        |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vs FROM ttok),
        |prior AS (
        |  SELECT lang,
        |    CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE) /
        |      (SELECT COUNT(*) FROM train)), 6) AS DECIMAL(18,9)) AS plp
        |  FROM train GROUP BY lang),
        |stok AS (SELECT doc_id, unnest(t) AS tok FROM test),
        |scored AS MATERIALIZED (
        |  SELECT s.doc_id, o.lang,
        |    CAST(ROUND(LN((COALESCE(c.c, 0) + 1.0) / (o.n + v.vs)), 6)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM stok s
        |  CROSS JOIN tot o
        |  CROSS JOIN vocab v
        |  LEFT JOIN cnt c ON c.lang = o.lang AND c.tok = s.tok),
        |docscore AS (
        |  SELECT sc.doc_id, sc.lang, p.plp + SUM(sc.lp) AS score
        |  FROM scored sc JOIN prior p ON p.lang = sc.lang
        |  GROUP BY sc.doc_id, sc.lang, p.plp),
        |pred AS (
        |  SELECT doc_id, lang AS pred_lang FROM (
        |    SELECT doc_id, lang,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, lang ASC) AS rn
        |    FROM docscore) WHERE rn = 1)
        |SELECT t.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        |FROM test t JOIN pred p ON p.doc_id = t.doc_id
        |GROUP BY t.lang, p.pred_lang
        |ORDER BY t.lang, p.pred_lang""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          split(lower(col("text")), " ").as("t"))
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      val ttok = train.select(col("lang"), explode(col("t")).as("tok"))
      val cnt = ttok.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val tot = ttok.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val vocab = ttok.agg(count_distinct(col("tok")).as("vs"))
      val nTrain = train.agg(count(lit(1)).as("ntr"))
      val prior = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
        .crossJoin(broadcast(nTrain))
        .select(col("lang"),
          round(log(col("nd").cast("double") / col("ntr")), 6)
            .cast("decimal(18,9)").as("plp"))
      val stok = test.select(col("doc_id"), explode(col("t")).as("tok"))
      // model tables are vocab-sized (Heaps-bounded) — broadcast them so
      // scoring is a map stage over the test tokens, shuffling only the
      // (doc_id, lang) partial sums
      val scored = stok
        .crossJoin(broadcast(tot.select(col("lang"), col("n"))))
        .crossJoin(broadcast(vocab))
        .join(broadcast(cnt), Seq("lang", "tok"), "left")
        .select(col("doc_id"), col("lang"),
          round(log((coalesce(col("c"), lit(0L)) + 1.0) /
            (col("n") + col("vs"))), 6)
            .cast("decimal(18,9)").as("lp"))
      val docscore = scored
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("lp")).as("slp"))
        .join(broadcast(prior), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          (col("plp") + col("slp")).as("score"))
      val pred = docscore
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("lang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("pred_lang"))
      test.select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
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
    // marker-gated residual artifacts (VecIndex.residArtifacts — the
    // round-12 verdict's trim: steady-state runs time the search, the
    // build is paid once per corpus), through the shared serveIvfPq
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
    // emits n_cand=0/hits=0 deterministically (round-6 advice). The
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

    // E7: PERSISTED index artifacts — the round-5 verdict's "train once,
    // write the artifact, serve many" made literal: the coarse codebook,
    // the M PQ codebooks, and the encoded corpus (M byte-codes per
    // vector) are each WRITTEN to parquet, and serving reads ONLY those
    // artifacts — fresh scans with no lineage to the training plans, no
    // raw-vector access outside the exact referee. Semantics are
    // byte-identical to the inline q207 path (the spec proves output
    // equality), so the gate pins the index LIFECYCLE: build → files →
    // serve, the shape a 100 TB deployment has (the artifact dir is
    // what ships to the serving cluster).
    Q(
      "q224_persisted_index_serve",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
         |${Pq.pqChains},
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
         |${Pq.pqEncs("cand")},
         |${Pq.qvCte},
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
         |scored AS MATERIALIZED (
         |  SELECT v.vec_id, ${Pq.pqAdcSum} AS adc,
         |    ${Pq.duckIntDot(Pq.duckScaled("v.embedding"), "q.qs")}
         |      AS exact
         |  FROM cand v, qv q
         |  ${Pq.pqEncJoins}),
         |tope AS (
         |  SELECT v.vec_id FROM embeddings v, qv q
         |  WHERE v.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
                "q.qs")} DESC,
         |    v.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, n.n_cand
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc n
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      // BUILD once (memoized, marker-gated) then SERVE through the
      // shared kernel — one implementation with q207/q220, so a probe
      // or scoring change cannot desync the three gates.
      VecIndex.serveIvfPq(s, VecIndex.artifacts(s, dir, "full", e), e,
        NPROBE, residual = false)
    }
  )

  /** One micro-batch of the q223 serving path: probe each query's NPROBE
    * cells against the static lists, emit its exact top-10.
    *
    * IDEMPOTENT under retry: foreachBatch delivers micro-batches
    * at-least-once, so a retried batch must REPLACE its previous output,
    * not append to it — each batch writes to its own batchId-keyed
    * subdir with mode overwrite (the q198 batch-ledger discipline
    * applied to a file sink). Round6OpsSpec replays a batch and asserts
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
}
