package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The persisted IVF-PQ index as an OPERABLE artifact: the lifecycle a
  * production 100 TB index runs between (re)trainings, each operation
  * proven equal to a from-scratch referee.
  *
  *  - q224 BUILD → SERVE: the coarse codebook, the M PQ codebooks and
  *    the encoded corpus are written once ([[VecIndex.artifacts]]) and
  *    serving reads only those files.
  *  - q225 / q229 INGEST: fold a batch of NEW vectors into the index
  *    without retraining — assign to the existing coarse cells,
  *    PQ-encode with the existing codebooks, append a delta generation.
  *    q229 is the same ingest fed by a stream (one batchId-keyed delta
  *    per micro-batch) and shares q225's oracle text verbatim: encoding
  *    is pointwise and the fingerprint order-independent, so streaming
  *    == batch is a hash-checked theorem.
  *  - q227 DELETE + COMPACTION: tombstone a deterministic doc set, serve
  *    with the tombstones excluded, rewrite the surviving codes as a new
  *    generation and prove it fingerprint-matches a fresh encode of the
  *    surviving corpus — the GDPR-scrub path.
  *  - q244 / q245 GENERATION SWAP / ROLLBACK: blue/green deployment
  *    through an atomically replaced `current.json` pointer; a candidate
  *    that fails validation (truncated codes) leaves the pointer where
  *    it was, and serving provably reads through it.
  *  - q249 ARTIFACT COMPACTION: a fragmented codes artifact (many small
  *    files per cell) rewritten to one file per cell, content identity
  *    proven by fingerprint + row count.
  *  - q250 GENERATION GC: keep the pointed generation and its rollback
  *    target, remove every other generation root.
  *
  * Scale shape: ingest touches ONLY the new batch (broadcast codebooks,
  * map-stage encode, file append); delete/compact is an anti-join over
  * the M-byte codes (never the raw vectors); the pointer is a tiny JSON
  * file. The full-rebuild / fresh-encode referees exist to PROVE the
  * shortcuts, not to serve, and are themselves persisted artifacts.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no vector
  * index; this family is part of the training-data-pipeline mandate.
  */
object IndexLifecycle {

  import VecIndex.{CITERS, NPROBE, P}

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
  // not the operation.
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

  /** One micro-batch of q229's ingest: assign to the existing coarse
    * cells, encode with the existing PQ codebooks, land as the batch's
    * own delta generation. Idempotent under retry: batchId-keyed dir,
    * mode overwrite. IndexLifecycleSpec replays a batch and asserts the
    * delta fingerprint is unchanged.
    */
  private[ops] def ingestBatch(
      coarse: DataFrame, cbRow: DataFrame, out: String)(
      batch: DataFrame, batchId: Long): Unit =
    Pq.pqEncode(KMeans.assign(batch, coarse), cbRow)
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  // ---------------- generation-pointer machinery ----------------------
  // Shared by q244 (forward swap) and q245 (failed-validation
  // rollback). The pointer is versioned JSON written via a UNIQUE temp
  // file + ATOMIC_MOVE (two concurrent swappers can never interleave
  // on one temp path) and parsed back with a real
  // JSON parser (Jackson, on the Spark classpath), not string splits.

  /** Atomically point `proot/current.json` at generation `gen`;
    * `prev` optionally names the previous generation's root (the
    * rollback target q250's GC must retain).
    */
  private[ops] def writePointer(
      proot: String, gen: Long, root: String,
      n: Long, prev: Option[String] = None): Unit = {
    val jm = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build()
    val prevField =
      prev.map(p => s""","prev":${jm.writeValueAsString(p)}""").getOrElse("")
    // unique-temp-then-rename publish via the store (local and HDFS
    // renames are atomic; readers never see a partial pointer)
    ArtifactStore.writeStringAtomic(s"$proot/current.json",
      s"""{"gen":$gen,"root":${
        jm.writeValueAsString(root)},"n":$n$prevField}""")
  }

  private def pointerNode(proot: String) =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(
        ArtifactStore.readString(s"$proot/current.json"))

  /** Parse the pointed-at (gen, root) back out of `current.json`. */
  private[ops] def readPointer(proot: String): (Long, String) = {
    val node = pointerNode(proot)
    (node.get("gen").asLong(), node.get("root").asText())
  }

  /** The pointer's named rollback target, if any. */
  private[ops] def readPointerPrev(proot: String): Option[String] =
    Option(pointerNode(proot).get("prev")).map(_.asText())

  // dir -> q249's FRAGMENTED codes artifact, persisted once per corpus
  // (rebuilding the fragmentation inside the gate made the timed
  // composition unstable across contexts — the timed pass is exactly
  // fragment-READ + compact + prove, every run).
  private[ops] val fragMemo = new ArtifactStore.Memo[String, Unit]

  /** The persisted 8-way-fragmented codes artifact for `dir`: the
    * small-file layout repeated ingest deltas leave in a cell-
    * partitioned store, pinned on disk so q249's timed pass reads the
    * SAME fragment set every run. Keyed to the serving index root and
    * the embeddings table signature.
    */
  private[ops] def fragArtifact(
      s: SparkSession, dir: String, idx: String): String = {
    val sig = VecIndex.tableFileSig(dir, "embeddings")
    val expect = s"idxfrag:v1:idx=$idx:sig=$sig"
    fragMemo(dir, expect)(
      (ArtifactStore.root(s"graft_idxfrag_${VecIndex.dirDigest(dir)}"),
        expect, ())) { (p, _) =>
      VecIndex.readCodes(s, idx)
        .repartition(8, col("vec_id")).write.mode("overwrite")
        .partitionBy("cid").parquet(s"$p/codes")
    }._1
  }

  /** Copy an artifact root (coarse + pq + codes) into `dst` — the
    * generation-directory layout q250's GC manages. Row counts are the
    * artifact's own (codes are M+2 small integers per vector).
    */
  private def copyArtifact(
      s: SparkSession, src: String, dst: String): Unit = {
    s.read.parquet(s"$src/coarse").write.mode("overwrite")
      .parquet(s"$dst/coarse")
    s.read.parquet(s"$src/pq").write.mode("overwrite")
      .parquet(s"$dst/pq")
    VecIndex.readCodes(s, src).repartition(col("cid"))
      .write.mode("overwrite")
      .partitionBy("cid").parquet(s"$dst/codes")
  }

  /** The shared oracle chain of the pointed serves (q244, q249, q250):
    * full-corpus assignment + PQ codes + the NPROBE-cell ADC serve for
    * query 0 with the exact referee — exposes `lists`, `scored`,
    * `exalls` and `tope`.
    */
  private def serveOracleCtes: String =
    s"""${KMeans.kkCte()},
       |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
       |${Pq.pqChains},
       |assign AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM embeddings e, cl$CITERS c),
       |lists AS MATERIALIZED (SELECT vec_id, embedding, cid
       |  FROM assign WHERE rn = 1),
       |${Pq.pqCodeEncs("lists", "_a")},
       |${Pq.duckCodesCte("codesall", "lists", "_a")},
       |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
       |  FROM embeddings WHERE vec_id = 0),
       |probes AS (SELECT cid FROM assign WHERE vec_id = 0
       |  AND rn <= $NPROBE),
       |cand AS MATERIALIZED (
       |  SELECT ca.* FROM codesall ca JOIN probes p ON ca.cid = p.cid
       |  WHERE ca.vec_id <> 0),
       |scored AS MATERIALIZED (
       |  SELECT v.vec_id, ${Pq.duckAdcFromCodes} AS adc
       |  FROM cand v
       |  ${Pq.duckAdcJoins}, qv q),
       |exalls AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    ${Pq.duckIntDot(Pq.duckScaled("e.embedding"), "q.qs")}
       |      AS exact
       |  FROM embeddings e, qv q WHERE e.vec_id <> 0),
       |tope AS (SELECT vec_id FROM exalls
       |  ORDER BY exact DESC, vec_id ASC LIMIT 10)""".stripMargin

  /** The generation directories under a pointer root. */
  private def genDirs(proot: String): Seq[String] =
    ArtifactStore.listEntries(proot).filter(_.startsWith("gen"))
      .map(n => s"$proot/$n").sorted

  val queries: Seq[Q] = Seq(
    // E7: PERSISTED index artifacts — "train once, write the
    // artifact, serve many" made literal: the coarse codebook,
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
    },

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
    },

    // E7×E12: STREAMING incremental index ingest — q225 fed by a
    // stream. The oracle is q225's verbatim: identical ingested index,
    // identical serve, whatever the micro-batch split.
    Q(
      "q229_stream_index_ingest",
      incIngestOracle) { (s, dir) =>
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
      ingestServe(e, newb, coarse, cbRow, inc, idx)
    },

    // E7: BLUE/GREEN GENERATION SWAP — index deployment as an atomic
    // pointer flip: generation v1 (base corpus) and v2 (full corpus)
    // coexist as persisted roots; v2 is validated (its code count must
    // equal the corpus size) before `current.json` is atomically
    // replaced; serving reads THROUGH the pointer. Output: the served
    // top-10 with generation + both generations' sizes.
    Q(
      "q244_index_generation_swap",
      s"""WITH $serveOracleCtes,
         |nv1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_v1
         |  FROM embeddings WHERE vec_id % 10 < 8),
         |nv2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_v2
         |  FROM embeddings)
         |SELECT s.vec_id, s.adc, x.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, CAST(2 AS BIGINT) AS gen, g1.n_v1, g2.n_v2
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |JOIN exalls x ON x.vec_id = s.vec_id
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nv1 g1, nv2 g2
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      // both generations exist as persisted roots
      val v1 = VecIndex.artifacts(s, dir, "base", base)
      val v2 = VecIndex.artifacts(s, dir, "full", e)
      // VALIDATE v2 before promoting it: its code count must equal the
      // corpus size (a half-written generation must never be pointed
      // at) — bounded driver-side counts
      val n = e.count()
      val nCodes = VecIndex.readCodes(s, v2).count()
      require(nCodes == n,
        s"generation v2 invalid: $nCodes codes for $n vectors")
      // ATOMIC pointer flip: write a unique temp file, then move it
      // over current.json atomically — a crash mid-swap leaves the old
      // pointer intact (readers never see a partial write)
      val proot = ArtifactStore.root(
        s"graft_idxptr_${VecIndex.dirDigest(dir)}")
      ArtifactStore.mkdirs(proot)
      writePointer(proot, 2L, v2, n)
      // SERVE through the pointer
      val (_, root) = readPointer(proot)
      val codes = VecIndex.readCodes(s, root)
      val coarse = ArtifactStore.readParquet(s, s"$root/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$root/pq")
      val q0 = VecIndex.queryRow(e)
      val nv1 = base.agg(count(lit(1)).cast("bigint").as("n_v1"))
      val nv2 = e.agg(count(lit(1)).cast("bigint").as("n_v2"))
      VecIndex.refereed(VecIndex.adcScores(VecIndex.candidates(codes,
          VecIndex.probes(e, coarse, NPROBE)), cbRow, q0),
          e.filter(col("vec_id") =!= 0), q0)
        .crossJoin(broadcast(nv1)).crossJoin(broadcast(nv2))
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(2L).as("gen"), col("n_v1"), col("n_v2"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    },

    // E7: GENERATION ROLLBACK — the failure path of q244's blue/green
    // swap: a candidate v2 with TRUNCATED codes fails validation, the
    // pointer stays at v1, and serving provably comes from the
    // v1 (base-corpus) index. Output: the v1-served top-10 with
    // gen/promoted plus the counts that failed the validation.
    Q(
      "q245_generation_rollback",
      s"""WITH baseq AS MATERIALIZED (
         |  SELECT * FROM embeddings WHERE vec_id % 10 < 8),
         |${KMeans.kkCte("baseq")},
         |${KMeans.oracleCtesSlice(KMeans.duckK, CITERS, 0, 0,
             "", "baseq")},
         |${Pq.pqChainsFrom("baseq")},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM baseq e, cl$CITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, embedding, cid
         |  FROM assign WHERE rn = 1),
         |${Pq.pqCodeEncs("lists", "_a")},
         |${Pq.duckCodesCte("codesv1", "lists", "_a")},
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT cid FROM assign WHERE vec_id = 0
         |  AND rn <= $NPROBE),
         |cand AS MATERIALIZED (
         |  SELECT ca.* FROM codesv1 ca JOIN probes p ON ca.cid = p.cid
         |  WHERE ca.vec_id <> 0),
         |scored AS MATERIALIZED (
         |  SELECT v.vec_id, ${Pq.duckAdcFromCodes} AS adc
         |  FROM cand v
         |  ${Pq.duckAdcJoins}, qv q),
         |exalls AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    ${Pq.duckIntDot(Pq.duckScaled("e.embedding"), "q.qs")}
         |      AS exact
         |  FROM baseq e, qv q WHERE e.vec_id <> 0),
         |tope AS (SELECT vec_id FROM exalls
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus
         |  FROM embeddings),
         |ncc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_codes
         |  FROM embeddings WHERE vec_id % 5 <> 2)
         |SELECT s.vec_id, s.adc, x.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, CAST(1 AS BIGINT) AS gen,
         |  CAST(0 AS INT) AS promoted, g.n_corpus, c2.n_cand_codes
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |JOIN exalls x ON x.vec_id = s.vec_id
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nn g, ncc c2
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      val v1 = VecIndex.artifacts(s, dir, "base", base)
      val v2full = VecIndex.artifacts(s, dir, "full", e)
      // own pointer root — q244's forward-swap pointer is a separate
      // deployment and must not be disturbed by the rollback drill
      val proot = ArtifactStore.root(
        s"graft_idxptr_rb_${VecIndex.dirDigest(dir)}")
      ArtifactStore.mkdirs(proot)
      // generation v1 is CURRENT (it validated when it was promoted)
      val nBase = base.count()
      writePointer(proot, 1L, v1, nBase)
      // the candidate v2: a HALF-WRITTEN generation — its codes are a
      // deterministic truncation of the real v2's (vec_id % 5 = 2
      // dropped), exactly what a crashed encode job leaves behind
      val candRoot = s"$proot/v2cand"
      VecIndex.readCodes(s, v2full).filter(col("vec_id") % 5 =!= 2)
        .write.mode("overwrite").parquet(s"$candRoot/codes")
      // VALIDATE before promoting: code count must equal corpus size
      val n = e.count()
      val nCand = s.read.parquet(s"$candRoot/codes").count()
      val promoted = if (nCand == n) {
        writePointer(proot, 2L, candRoot, n); true
      } else false
      // the pointer MUST still be at v1 — and serving reads through it
      val (gen, root) = readPointer(proot)
      require(!promoted && gen == 1L && root == v1,
        s"rollback violated: promoted=$promoted gen=$gen root=$root")
      val codes = VecIndex.readCodes(s, root)
      val coarse = ArtifactStore.readParquet(s, s"$root/coarse")
      val cbRow = ArtifactStore.readParquet(s, s"$root/pq")
      val q0 = VecIndex.queryRow(e)
      val nCorpus = e.agg(count(lit(1)).cast("bigint").as("n_corpus"))
      // the exact referee runs over the POINTED generation's corpus —
      // gen 1 indexes the base split
      VecIndex.refereed(VecIndex.adcScores(VecIndex.candidates(codes,
          VecIndex.probes(e, coarse, NPROBE)), cbRow, q0),
          base.filter(col("vec_id") =!= 0), q0)
        .crossJoin(broadcast(nCorpus))
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(gen).as("gen"),
          lit(if (promoted) 1 else 0).cast("int").as("promoted"),
          col("n_corpus"), lit(nCand).as("n_cand_codes"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    },

    // E7: ARTIFACT COMPACTION — deliberately fragment the codes
    // artifact (8-way row split under the cell partitioning, the shape
    // ingest deltas leave), compact to exactly one file per cell,
    // prove content identity (fingerprint + row deltas 0), serve from
    // the compacted artifact.
    Q(
      "q249_codes_artifact_compaction",
      s"""WITH $serveOracleCtes,
         |nc AS (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_cells
         |  FROM lists)
         |SELECT s.vec_id, s.adc, x.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, nc.n_cells,
         |  CAST(1 AS INT) AS was_fragmented,
         |  CAST(1 AS INT) AS one_file_per_cell,
         |  CAST(0 AS BIGINT) AS nr_delta, CAST(0 AS BIGINT) AS fp_delta
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |JOIN exalls x ON x.vec_id = s.vec_id
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val idx = VecIndex.artifacts(s, dir, "full", e)
      // the FRAGMENTED artifact: an 8-way row split under the cell
      // partitioning — every task writes its own file into each cell
      // dir it holds rows for, exactly what repeated ingest deltas and
      // wide writers leave behind. PERSISTED once per corpus
      // (fragArtifact, marker-gated) so the timed pass is exactly
      // fragment-read + compact + prove against a pinned fragment set.
      val froot = fragArtifact(s, dir, idx)
      val fragmented = VecIndex.readCodes(s, froot)
      val nCells = fragmented.select(col("cid")).distinct().count()
      val nBefore = ArtifactStore.dataFileCount(s"$froot/codes")
      // COMPACT: cluster each cell into ONE task (hash repartition on
      // cid puts a cell's rows in exactly one partition), then rewrite
      // — one columnar file per cell directory
      val croot = StreamOps.scratchDir(
        s"graft_idxcomp_${VecIndex.dirDigest(dir)}")
      fragmented.repartition(col("cid")).write.mode("overwrite")
        .partitionBy("cid").parquet(s"$croot/codes")
      val compacted = VecIndex.readCodes(s, croot)
      val nAfter = ArtifactStore.dataFileCount(s"$croot/codes")
      // content identity: order-independent fingerprint + row count
      val fpF = fpOf(fragmented).head()
      val fpC = fpOf(compacted).head()
      // serve from the compacted copy (q244's pointed ADC shape)
      val q0 = VecIndex.queryRow(e)
      VecIndex.refereed(VecIndex.adcScores(VecIndex.candidates(compacted,
          VecIndex.probes(e, ArtifactStore.readParquet(s, s"$idx/coarse"),
            NPROBE)), ArtifactStore.readParquet(s, s"$idx/pq"), q0),
          e.filter(col("vec_id") =!= 0), q0)
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(nCells).as("n_cells"),
          lit(if (nBefore > nCells) 1 else 0).cast("int")
            .as("was_fragmented"),
          lit(if (nAfter == nCells) 1 else 0).cast("int")
            .as("one_file_per_cell"),
          lit(fpC.getLong(0) - fpF.getLong(0)).as("nr_delta"),
          lit(math.floorMod(fpC.getLong(1) - fpF.getLong(1),
            P)).as("fp_delta"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    },

    // E7: GENERATION GC — keep the pointed generation and its rollback
    // target, remove every other generation root; serving through the
    // pointer is provably unaffected. The collected directory is
    // exactly the failed candidate q245 leaves behind.
    Q(
      "q250_generation_gc",
      s"""WITH $serveOracleCtes
         |SELECT s.vec_id, s.adc, x.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, CAST(3 AS BIGINT) AS n_gens_before,
         |  CAST(2 AS BIGINT) AS n_kept, CAST(1 AS BIGINT) AS n_removed,
         |  CAST(1 AS INT) AS pointed_intact,
         |  CAST(1 AS INT) AS rollback_intact
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |JOIN exalls x ON x.vec_id = s.vec_id
         |LEFT JOIN tope t ON s.vec_id = t.vec_id
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      val v1 = VecIndex.artifacts(s, dir, "base", base)
      val v2 = VecIndex.artifacts(s, dir, "full", e)
      val proot = ArtifactStore.root(
        s"graft_idxptr_gc_${VecIndex.dirDigest(dir)}")
      // a deterministic three-generation deployment, rebuilt per run:
      // gen1 (old, the rollback target), gen2 (current), gen3 (a failed
      // candidate — q245's half-written shape)
      ArtifactStore.deleteRecursive(proot)
      ArtifactStore.mkdirs(proot)
      copyArtifact(s, v1, s"$proot/gen1")
      copyArtifact(s, v2, s"$proot/gen2")
      VecIndex.readCodes(s, v2).filter(col("vec_id") % 5 =!= 2)
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$proot/gen3/codes")
      writePointer(proot, 2L, s"$proot/gen2",
        e.count(), prev = Some(s"$proot/gen1"))
      val gensBefore = genDirs(proot)
      // GC: keep the pointer's root and its named rollback target,
      // remove everything else
      val (gen, root) = readPointer(proot)
      val prevRoot = readPointerPrev(proot)
      val keep = Set(root) ++ prevRoot
      val removed = gensBefore.filterNot(d => keep.contains(d))
      removed.foreach(ArtifactStore.deleteRecursive)
      val gensAfter = genDirs(proot)
      require(gen == 2L && gensAfter.toSet == keep,
        s"GC violated: kept ${gensAfter.mkString(",")} expected $keep")
      // SERVE through the pointer from the survivors
      val codes = VecIndex.readCodes(s, root)
      val pointedIntact = if (ArtifactStore.dataFileCount(s"$root/codes") > 0) 1 else 0
      val rollbackIntact = prevRoot.exists(p => ArtifactStore.dataFileCount(s"$p/codes") > 0)
      val q0 = VecIndex.queryRow(e)
      VecIndex.refereed(VecIndex.adcScores(VecIndex.candidates(codes,
          VecIndex.probes(e, ArtifactStore.readParquet(s, s"$root/coarse"),
            NPROBE)), ArtifactStore.readParquet(s, s"$root/pq"), q0),
          e.filter(col("vec_id") =!= 0), q0)
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(gensBefore.size.toLong).as("n_gens_before"),
          lit(gensAfter.size.toLong).as("n_kept"),
          lit(removed.size.toLong).as("n_removed"),
          lit(pointedIntact).cast("int").as("pointed_intact"),
          lit(if (rollbackIntact) 1 else 0).cast("int")
            .as("rollback_intact"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    }
  )
}
