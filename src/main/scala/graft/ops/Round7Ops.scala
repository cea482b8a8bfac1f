package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 gates: the persisted vector index becomes OPERABLE — the
  * three lifecycle operations a production 100 TB index runs between
  * (re)trainings, each proven equal to the from-scratch referee:
  *
  *  - q225 INGEST: fold a batch of NEW vectors into the q224-style
  *    persisted index WITHOUT retraining — assign to existing coarse
  *    cells, PQ-encode with existing codebooks, append a delta
  *    generation to the codes artifact. Encoding is pointwise, so
  *    incremental == full re-encode of the union corpus; the gate
  *    carries that proof as data (order-independent md5-fold
  *    fingerprint delta + row-count delta, both 0 in BOTH engines).
  *  - q226 the BATCH-AVERAGED probe operating curve: q222's operating
  *    curve measured over q217's 32-query batch instead of one query —
  *    recall quantized to 1/320 steps, the signal that actually tunes
  *    nprobe. Same counting formulation: per-query exact top-10s
  *    (the one full-scan referee) tagged with their cell's per-query
  *    probe rank; candidates-per-level is a conditional sum over the
  *    (query × cell) rank table minus each query's own-cell hit.
  *  - q227 DELETE + COMPACTION: tombstone a deterministic doc set in
  *    the persisted index (ledger write, q198's discipline), serve with
  *    the tombstones excluded, then COMPACT the codes artifact and
  *    prove the surviving generation fingerprint-matches a fresh encode
  *    of the surviving corpus (q212's fingerprint-moves-iff discipline)
  *    — the GDPR-scrub path of an indexed corpus.
  *
  * Scale shape: ingest touches ONLY the new batch (broadcast codebooks,
  * map-stage encode, file append — no shuffle over the existing corpus);
  * the curve costs one referee scan + O(queries × cells) arithmetic at
  * any corpus size; delete/compact is an anti-join over the M-byte codes
  * (never the raw vectors). The full-rebuild / fresh-encode referees
  * exist to PROVE the shortcut, not to serve.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no vector
  * index; this family is part of the training-data-pipeline mandate.
  */
object Round7Ops {

  private[ops] val CITERS = 2 // coarse Lloyd iterations (q74 geometry)
  private val NPROBE = 2 // probed cells per query
  private[ops] val QN = 32 // q226 query-batch size (q217's batch)
  private val P = 1000000007L // fingerprint modulus

  // ---- order-independent artifact fingerprint (q198/q212 discipline:
  // SUM over rows of an integer fold of the row's md5 — partial-
  // aggregatable, so two 100 TB artifact generations compare with one
  // scan each) ----

  private def duckFold(c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(md5($c), ''), " +
      s"ch -> CAST(unicode(ch) AS BIGINT))), (a, b) -> (a * 31 + b) % $P)"

  /** (nr, fp) of a (vec_id, cid, c0..c{M-1}) codes frame. */
  private[ops] def fpOf(codes: DataFrame): DataFrame =
    codes.select(concat_ws("|",
        col("vec_id") +: col("cid") +:
          (0 until Pq.M).map(m => col(s"c$m")): _*).as("rs"))
      .agg(count(lit(1)).cast("bigint").as("nr"),
        (sum(graft.functions.TextHash.charFold(md5(col("rs")), 0L, 31L))
          % P).as("fp"))

  /** The matching oracle CTE over a codes CTE. */
  private def duckFpCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
       |    CAST(SUM(${duckFold("rs")}) % $P AS BIGINT) AS fp
       |  FROM (SELECT concat_ws('|', vec_id, cid, ${(0 until Pq.M)
         .map(m => s"c$m").mkString(", ")}) AS rs FROM $src))""".stripMargin

  /** The q225 oracle, shared verbatim with q229: the streaming ingest
    * path must produce the IDENTICAL ingested index and serve the
    * identical result (encoding is pointwise and the fingerprint is
    * order-independent, so micro-batch splitting cannot show through).
    */
  private[ops] val incIngestOracle: String =
    s"""WITH base AS (
         |  SELECT * FROM embeddings WHERE vec_id % 10 < 8),
         |${KMeans.kkCte("base")},
         |${KMeans.oracleCtesSlice(KMeans.duckK, CITERS, 0, 0, "", "base")},
         |${Pq.pqChainsFrom("base")},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, embedding, cid FROM assign
         |  WHERE rn = 1),
         |listsb AS MATERIALIZED (SELECT * FROM lists WHERE vec_id % 10 < 8),
         |listsn AS MATERIALIZED (SELECT * FROM lists WHERE vec_id % 10 >= 8),
         |${Pq.pqCodeEncs("listsb", "_b")},
         |${Pq.pqCodeEncs("listsn", "_n")},
         |${Pq.pqCodeEncs("lists", "_a")},
         |${Pq.duckCodesCte("codesb", "listsb", "_b")},
         |${Pq.duckCodesCte("codesn", "listsn", "_n")},
         |${Pq.duckCodesCte("codesall", "lists", "_a")},
         |codesinc AS MATERIALIZED (
         |  SELECT * FROM codesb UNION ALL SELECT * FROM codesn),
         |${duckFpCte("fpi", "codesinc")},
         |${duckFpCte("fpa", "codesall")},
         |dd AS (SELECT fi.nr - fa.nr AS rows_delta,
         |  fi.fp - fa.fp AS fp_delta FROM fpi fi, fpa fa),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_new FROM listsn),
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT cid FROM assign WHERE vec_id = 0
         |  AND rn <= $NPROBE),
         |cand AS MATERIALIZED (
         |  SELECT ci.* FROM codesinc ci JOIN probes p ON ci.cid = p.cid
         |  WHERE ci.vec_id <> 0),
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
                "q.qs")} DESC, v.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, c.n_cand, n.n_new, d.rows_delta, d.fp_delta
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc c, nn n, dd d
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin

  // (root, file) -> persisted code REFEREES. A referee re-encode is
  // deterministic in (corpus, codebooks), so it is an artifact —
  // recomputing it per run made the lifecycle gates time the proof,
  // not the operation (round-7 verdict, What's wrong 4).
  private[ops] val referees = new ArtifactStore.Memo[(String, String), Unit]

  /** Marker-gated persisted referee codes `<root>/<file>`. */
  private[ops] def persistedCodes(
      s: org.apache.spark.sql.SparkSession, root: String, file: String,
      expect: String)(build: => DataFrame): DataFrame = {
    referees((root, file), expect, s"_meta_$file.json")(
      (root, expect, ())) { (_, _) =>
      build.write.mode("overwrite").parquet(s"$root/$file")
    }
    ArtifactStore.readParquet(s, s"$root/$file")
  }

  /** Referee + serve over an INGESTED index `inc` (base codes ∪ delta
    * generations): fingerprint-compare against a full re-encode of the
    * union corpus, then serve query 0 from the ingested codes with the
    * exact-top-10 referee. Shared by q225 (batch ingest) and q229
    * (streaming ingest) — both must produce the identical result.
    * `refRoot` hosts the persisted referee re-encode.
    */
  private[ops] def ingestServe(
      e: DataFrame, newb: DataFrame, coarse: DataFrame,
      cbRow: DataFrame, inc: DataFrame, refRoot: String): DataFrame = {
    // ---- REFEREE: full re-encode of the union corpus (same
    // codebooks), persisted — steady state times the INGEST ----
    val rebuild = persistedCodes(e.sparkSession, refRoot,
      "codes_ref_union", VecIndex.corpusMarker(e, 0))(
      Pq.pqEncode(KMeans.assign(e, coarse), cbRow))
    val dd = fpOf(inc)
      .select(col("nr").as("ni"), col("fp").as("fi"))
      .crossJoin(broadcast(fpOf(rebuild)
        .select(col("nr").as("nb"), col("fp").as("fb"))))
      .select((col("ni") - col("nb")).as("rows_delta"),
        (col("fi") - col("fb")).as("fp_delta"))
    val nNew = newb.agg(count(lit(1)).cast("bigint").as("n_new"))
    // ---- SERVE from the ingested index ----
    val q0 = VecIndex.queryRow(e)
    val cand = VecIndex.candidates(inc, VecIndex.probes(e, coarse, NPROBE))
    val nc = cand.agg(count(lit(1)).cast("bigint").as("n_cand"))
    VecIndex.refereed(VecIndex.adcScores(cand, cbRow, q0),
        e.filter(col("vec_id") =!= 0), q0)
      .crossJoin(broadcast(nc))
      .crossJoin(broadcast(nNew))
      .crossJoin(broadcast(dd))
      .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
        col("n_cand"), col("n_new"), col("rows_delta"), col("fp_delta"))
      .orderBy(col("adc").desc, col("vec_id").asc)
  }

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

  val queries: Seq[Q] = Seq(
    // E7: INCREMENTAL INDEX INGEST — the daily operation of a 100 TB
    // index: the corpus splits 80/20 into base (the index was trained
    // and built on it) and a new batch; the new batch is assigned to
    // the EXISTING coarse cells and encoded with the EXISTING PQ
    // codebooks (broadcast artifacts, map stage — no retraining, no
    // touch of the stored base codes), then appended as a delta
    // generation. rows_delta/fp_delta prove the ingested index is
    // row-identical to a full re-encode of the union corpus; serving
    // runs against the ingested index and is refereed against the
    // exact top-10 over the FULL union corpus.
    Q(
      "q225_incremental_index_ingest",
      incIngestOracle) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      val newb = e.filter(col("vec_id") % 10 >= 8)
      // the index, trained and built on BASE only (persisted artifacts)
      val idx = VecIndex.artifacts(s, dir, "base", base)
      val coarse = ArtifactStore.readParquet(s, s"$idx/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      // ---- INGEST: assign + encode ONLY the new batch against the
      // broadcast artifacts, append as a delta generation ----
      Pq.pqEncode(KMeans.assign(newb, coarse), cbRow)
        .write.mode("overwrite").parquet(s"$idx/codes_delta")
      val inc = VecIndex.readCodes(s, idx)
        .unionByName(s.read.parquet(s"$idx/codes_delta"))
      ingestServe(e, newb, coarse, cbRow, inc, idx)
    },

    // E7: the BATCH-AVERAGED probe operating curve — q222 generalized
    // over q217's deterministic 32-query batch (the round-6 verdict's
    // "recall on n=1 is not a tuning signal"). Per level: total
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

    // E7: INDEX DELETE + COMPACTION — the scrub path: a deterministic
    // doc set (vec_id % 7 = 3) is tombstoned in the persisted index via
    // a ledger artifact; serving excludes tombstoned codes by anti-join
    // (never touching raw vectors); compaction rewrites the surviving
    // codes as a new artifact generation whose fingerprint must equal a
    // FRESH encode of the surviving corpus with the same codebooks
    // (rows_delta/fp_delta = 0 in both engines). The exact referee runs
    // over the surviving corpus — a tombstoned doc can appear nowhere.
    Q(
      "q227_index_delete_compact",
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
         |surv AS MATERIALIZED (SELECT * FROM lists WHERE vec_id % 7 <> 3),
         |${Pq.pqCodeEncs("lists", "_a")},
         |${Pq.pqCodeEncs("surv", "_f")},
         |${Pq.duckCodesCte("codesall", "lists", "_a")},
         |${Pq.duckCodesCte("codesfresh", "surv", "_f")},
         |codesv2 AS MATERIALIZED (SELECT * FROM codesall WHERE vec_id % 7 <> 3),
         |${duckFpCte("fpv", "codesv2")},
         |${duckFpCte("fpf", "codesfresh")},
         |dd AS (SELECT fv.nr - ff.nr AS rows_delta,
         |  fv.fp - ff.fp AS fp_delta FROM fpv fv, fpf ff),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tomb FROM lists
         |  WHERE vec_id % 7 = 3),
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT cid FROM assign WHERE vec_id = 0
         |  AND rn <= $NPROBE),
         |cand AS MATERIALIZED (
         |  SELECT cv.* FROM codesv2 cv JOIN probes p ON cv.cid = p.cid
         |  WHERE cv.vec_id <> 0),
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
         |  WHERE v.vec_id <> 0 AND v.vec_id % 7 <> 3
         |  ORDER BY ${Pq.duckIntDot(Pq.duckScaled("v.embedding"),
                "q.qs")} DESC, v.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.adc, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, c.n_cand, n.n_tomb, d.rows_delta, d.fp_delta
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc c, nt n, dd d
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      // the q224 artifacts, shared (memoized per dir)
      val idx = VecIndex.artifacts(s, dir, "full", e)
      val coarse = ArtifactStore.readParquet(s, s"$idx/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      val codes = VecIndex.readCodes(s, idx)
      // ---- DELETE: tombstone ledger written next to the index ----
      e.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$idx/tombstones")
      val tomb = s.read.parquet(s"$idx/tombstones")
      // ---- COMPACT: surviving codes rewritten as generation v2 ----
      codes.join(tomb, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$idx/codes_v2")
      val codesV2 = s.read.parquet(s"$idx/codes_v2")
      // ---- REFEREE: fresh encode of the surviving corpus with the
      // same codebooks must fingerprint-match generation v2 —
      // persisted (the tombstone rule is a constant, so the survivor
      // set is deterministic in the corpus) ----
      val fresh = persistedCodes(s, idx, "codes_ref_surv",
        VecIndex.corpusMarker(e, 0))(Pq.pqEncode(
        KMeans.assign(e.filter(col("vec_id") % 7 =!= 3), coarse), cbRow))
      val dd = fpOf(codesV2)
        .select(col("nr").as("nv"), col("fp").as("fv"))
        .crossJoin(broadcast(fpOf(fresh)
          .select(col("nr").as("nf"), col("fp").as("ff"))))
        .select((col("nv") - col("nf")).as("rows_delta"),
          (col("fv") - col("ff")).as("fp_delta"))
      val nTomb = tomb.agg(count(lit(1)).cast("bigint").as("n_tomb"))
      // ---- SERVE from the compacted generation, refereed over the
      // SURVIVING corpus ----
      val q0 = VecIndex.queryRow(e)
      val cand = VecIndex.candidates(codesV2,
        VecIndex.probes(e, coarse, NPROBE))
      val nc = cand.agg(count(lit(1)).cast("bigint").as("n_cand"))
      VecIndex.refereed(VecIndex.adcScores(cand, cbRow, q0),
          e.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 3), q0)
        .crossJoin(broadcast(nc))
        .crossJoin(broadcast(nTomb))
        .crossJoin(broadcast(dd))
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          col("n_cand"), col("n_tomb"), col("rows_delta"), col("fp_delta"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    }
  )
}
