package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 batch 2: the persisted index meets the two remaining
  * production serving shapes.
  *
  *  - q228 FILTERED ANN: vector search under a metadata predicate
  *    ("nearest English documents") — the query every real retrieval
  *    system actually runs. The serving path POST-FILTERS: candidates
  *    come from the probed cells of the stored codes, then the
  *    metadata predicate lands on that BOUNDED set via an id semi-join
  *    (never a scan of the unfiltered corpus). Because filtering
  *    thins candidates, the probe width adapts to the MEASURED
  *    selectivity — nprobe_f = min(CK, ceil(NPROBE / sel)) in exact
  *    integer math — so the expected surviving candidate count stays
  *    what an unfiltered probe would return. The exact referee runs
  *    over the eligible corpus only (the pre-filter strategy — correct
  *    but O(eligible), which is why it referees rather than serves).
  *  - q229 STREAMING index ingest: q225's daily-ingest operation fed
  *    by a STREAM of new vectors — each micro-batch assigns + encodes
  *    against the broadcast artifacts and lands as its own
  *    batchId-keyed delta generation (mode overwrite: foreachBatch is
  *    at-least-once, so a retried batch REPLACES its output — the
  *    q198/q223 idempotency discipline). Encoding is pointwise and the
  *    equality fingerprint is order-independent, so the result is
  *    IDENTICAL however the source splits into micro-batches — q229
  *    shares q225's oracle text verbatim, which makes streaming ==
  *    batch a hash-checked theorem rather than a claim.
  *
  * Scale shape: q228 touches probed lists + an equi-join keyed on the
  * candidate id against the predicate-pushed metadata scan; q229 per
  * micro-batch touches ONLY that batch (broadcast codebooks, map-stage
  * encode, one file write) — the existing corpus and codes are never
  * read on the ingest path.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no vector
  * index; this family is part of the training-data-pipeline mandate.
  */
object Round7More {

  private val CITERS = 2 // coarse Lloyd iterations (q74 geometry)
  private val NPROBE = 2 // unfiltered probe width
  private val LANG = "en" // q228's metadata predicate

  private val REFINE_C = 32 // q230's first-stage width (ADC top-C)
  private val SRC_CAP = 2 // q231's per-source result cap
  private val SIGBITS = 64 // q232: sign bits per signature (2 words)
  private val HAM_M = 50 // q232: Hamming shortlist width before rerank

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

  /** One micro-batch of q229's ingest: assign to the existing coarse
    * cells, encode with the existing PQ codebooks, land as the batch's
    * own delta generation. Idempotent under retry: batchId-keyed dir,
    * mode overwrite. Round7MoreSpec replays a batch and asserts the
    * delta fingerprint is unchanged.
    */
  private[ops] def ingestBatch(
      coarse: DataFrame, cbRow: DataFrame, out: String)(
      batch: DataFrame, batchId: Long): Unit =
    Pq.pqEncode(KMeans.assign(batch, coarse), cbRow)
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  val queries: Seq[Q] = Seq(
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

    // E7×E12: STREAMING incremental index ingest — q225 fed by a
    // stream. The oracle is q225's verbatim: identical ingested index,
    // identical serve, whatever the micro-batch split.
    Q(
      "q229_stream_index_ingest",
      Round7Ops.incIngestOracle) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      val idx = VecIndex.artifacts(s, dir, "base", base)
      val coarse = ArtifactStore.readParquet(s, s"$idx/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      // ---- the NEW-VECTOR STREAM: the arriving batch lands as TWO
      // staged parts (vec_id parity), so the ingest genuinely spans
      // multiple micro-batches (two delta generations whose union must
      // still equal the full re-encode — encoding is pointwise, so the
      // split cannot show through) ----
      val newb = e.filter(col("vec_id") % 10 >= 8)
      val newStream = StreamOps.stagedSource(s,
        s"graft_streamingest_src_${VecIndex.dirDigest(dir)}",
        Seq(0, 1).map(p => newb.filter(col("vec_id") % 2 === p)))
      val out = StreamOps.scratchDir(
        s"graft_streamingest_${VecIndex.dirDigest(dir)}")
      StreamOps.foldBatches(s, newStream, out)(ingestBatch(coarse, cbRow, out))
      val baseCodes = VecIndex.readCodes(s, idx)
      val inc = baseCodes.unionByName(ArtifactStore.readParquet(s, s"$out/b*"))
      Round7Ops.ingestServe(e, newb, coarse, cbRow, inc, idx)
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
      val cp = sigPlan.localCheckpoint(true)
      val sig = s.createDataFrame(cp.rdd, cp.schema)
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
