package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8: the serving shapes that complete the index family for a
  * production retrieval stack.
  *
  *  - q241 HNSW+PQ: q233's beam search ranked hop frontiers with full
  *    fixed-point vectors; a 100 TB graph index cannot afford raw
  *    vectors on the serve path — it ranks the beam by ASYMMETRIC
  *    DISTANCE (ADC) over the M-byte stored codes (q207's discipline
  *    inside the hop loop) and touches true vectors only for the
  *    final exact refine of top-C (q230's discipline).
  *  - q242 FILTERED GRAPH ANN: the metadata-filtered query ("nearest
  *    English docs") on the graph tier — q228's post-filter strategy:
  *    search with a WIDENED beam, filter the bounded visited set by
  *    eligibility, referee against the exact top-10 of the eligible
  *    corpus only.
  *  - q243 RANK-MODE CURVE: the in-band measurement of what PQ costs
  *    the graph tier — the same graph walked twice, hops ranked by
  *    exact dots vs stored-code ADC, reporting visited size and
  *    brute-force-top-10 recall per mode.
  *  - q244 GENERATION SWAP: blue/green index deployment — generation
  *    v1 (base corpus) and v2 (full corpus) are both persisted
  *    artifact roots; v2 is VALIDATED (code count == corpus size),
  *    the `current.json` pointer is flipped ATOMICALLY (temp file +
  *    atomic move — a crashed swap leaves the old pointer intact),
  *    and serving reads THROUGH the pointer.
  *
  * Scale shape: every hop candidate set is ≤ beam·DEG rows; frontiers
  * are driver-resident (≤ beam rows by construction) and land as
  * static bucket partition filters on the edges scan; ADC resolves
  * from broadcast codebooks; raw vectors are read for the bounded
  * refine/referee only. All scores are exact BIGINT arithmetic —
  * hash-identical across engines.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no
  * vector index; this family is part of the training-data-pipeline
  * mandate.
  */
object Round8Ops {

  private val PQC = 16 // q241: exact-refine width after the ADC beam
  private val FW = 8 // q242: widened beam under the metadata filter
  private val LANG = "en" // q242's metadata predicate
  private val GNPROBE = 2 // q244: probe width of the pointed serve

  // ---------------- shared Spark-side machinery ----------------------

  private def pin(s: SparkSession)(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    s.createDataFrame(cp.rdd, cp.schema)
  }

  /** ADC beam ranking over the stored codes (q241/q243): the top-BEAM
    * ids of a bounded visited frame by ADC against query 0.
    */
  private def adcBeam(codes: DataFrame, cbRow: DataFrame, q0: DataFrame)(
      v: DataFrame): DataFrame =
    VecIndex.adcScores(codes.join(broadcast(v), Seq("vec_id")), cbRow, q0)
      .orderBy(col("adc").desc, col("vec_id").asc)
      .limit(Round7Final.BEAM).select(col("vec_id"))

  /** The hop loop with a pluggable frontier ranking: each hop's
    * bounded frontier (`topB(visited)`, ≤ beam rows BY CONSTRUCTION)
    * is collected to the driver — the coordinator-resident frontier of
    * a graph-ANN server — so the hop join broadcasts a LOCAL relation
    * and the bucket set statically prunes the partitioned edges scan.
    */
  private def beamLoop(
      s: SparkSession, edges: DataFrame, entries: DataFrame,
      topB: DataFrame => DataFrame): DataFrame = {
    var visited = pin(s)(entries)
    val srcb = Round7Final.srcbOf(edges)
    for (_ <- 1 to Round7Final.HOPS) {
      val frQ = topB(visited)
      val frRows = frQ.collect()
      val frDf = s.createDataFrame(
          java.util.Arrays.asList(frRows: _*), frQ.schema)
        .withColumnRenamed("vec_id", "src")
      val buckets = frRows.map(_.getLong(0) % srcb).distinct.toSeq
      val nbrs = edges.filter(col("sb").isin(buckets: _*))
        .join(broadcast(frDf), Seq("src"))
        .select(col("dst").as("vec_id"))
        .filter(col("vec_id") =!= 0)
      visited = pin(s)(visited.union(nbrs).distinct())
    }
    visited
  }

  // ---------------- generation-pointer machinery ----------------------
  // Shared by q244 (forward swap) and q245 (failed-validation
  // rollback). The pointer is versioned JSON written via a UNIQUE temp
  // file + ATOMIC_MOVE (two concurrent swappers can never interleave
  // on one temp path — round-8 advice) and parsed back with a real
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

  // ---------------- shared oracle machinery ---------------------------

  /** The unrolled ADC-ranked hop chain (`fa<i><tag>` beams ranked from
    * the `adcall` CTE, `va<i><tag>` visited sets) — Round7Final
    * .hopChainSql with stored-code ADC in place of the exact dot.
    */
  private def adcHopChain(beam: Int, tag: String): String =
    (1 to Round7Final.HOPS).map { i =>
      val p = i - 1
      val prev = if (p == 0) "v0" else s"va$p$tag"
      s"""fa$p$tag AS (SELECT f.vec_id FROM $prev f
         |  JOIN adcall a ON a.vec_id = f.vec_id
         |  ORDER BY a.adc DESC, f.vec_id ASC
         |  LIMIT $beam),
         |va$i$tag AS MATERIALIZED (
         |  SELECT vec_id FROM $prev
         |  UNION
         |  SELECT e.dst AS vec_id FROM fa$p$tag f
         |  JOIN edges e ON e.src = f.vec_id WHERE e.dst <> 0)"""
        .stripMargin
    }.mkString(",\n")

  /** The stored-code ADC table over every corpus vector: PQ chains +
    * per-vector code CTEs + the codeword-resolved ADC sum. Exposes
    * `adcall(vec_id, adc)`; expects `hard` and `ivc` from
    * graphPrefixSql.
    */
  private def adcAllSql: String =
    s"""${Pq.pqChains},
       |${Pq.pqCodeEncs("embeddings", "_g")},
       |${Pq.duckCodesCte("codesg", "hard", "_g")},
       |qvq AS (SELECT iv AS qs FROM ivc WHERE vec_id = 0),
       |adcall AS MATERIALIZED (
       |  SELECT v.vec_id, ${Pq.duckAdcFromCodes} AS adc
       |  FROM codesg v
       |  ${Pq.duckAdcJoins}, qvq q)""".stripMargin

  val queries: Seq[Q] = Seq(
    // E7: HNSW+PQ — beam search over the persisted graph with hop
    // frontiers ranked by ADC over the stored codes; exact refine only
    // of the ADC top-PQC. Output: the served top-10 with its ADC and
    // exact scores plus the exact-referee membership flag.
    Q(
      "q241_graph_pq_serve",
      s"""WITH ${Round7Final.graphPrefixSql},
         |$adcAllSql,
         |${adcHopChain(Round7Final.BEAM, "")},
         |cand AS (
         |  SELECT a.vec_id, a.adc FROM va${Round7Final.HOPS} s
         |  JOIN adcall a ON a.vec_id = s.vec_id
         |  ORDER BY a.adc DESC, a.vec_id ASC LIMIT $PQC),
         |ref AS (
         |  SELECT c.vec_id, c.adc,
         |    ${Pq.duckIntDot("i.iv", "q.qiv")} AS exact
         |  FROM cand c JOIN ivc i ON i.vec_id = c.vec_id, qv q)
         |SELECT r.vec_id, r.adc, r.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact
         |FROM (SELECT * FROM ref ORDER BY exact DESC, vec_id ASC
         |  LIMIT 10) r
         |LEFT JOIN tope t ON r.vec_id = t.vec_id
         |ORDER BY r.exact DESC, r.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val (ivc, edges, hard) = Round7Final.graphArtifacts(s, dir)
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), VecIndex.CITERS)
      val idx = VecIndex.artifacts(s, dir, "full", e)
      val codes = VecIndex.readCodes(s, idx)
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      val q0 = VecIndex.queryRow(e)
      val visited = beamLoop(s, edges,
        Round7Final.entriesOver(e, cb, hard), adcBeam(codes, cbRow, q0))
      // exact refine of the ADC top-PQC only — the raw-vector read is
      // PQC rows, not the visited set, not the corpus; ADC never touches
      // the raw vectors
      val cand = VecIndex.adcScores(
          codes.join(broadcast(visited), Seq("vec_id")), cbRow, q0)
        .orderBy(col("adc").desc, col("vec_id").asc).limit(PQC)
      val (qdot, tope) = Round7Final.query0Exact(ivc)
      val ref = ivc.join(broadcast(cand), Seq("vec_id"))
        .select(col("vec_id"), col("adc"), qdot.as("exact"))
      ref.orderBy(col("exact").desc, col("vec_id").asc).limit(10)
        .join(broadcast(tope), Seq("vec_id"), "left")
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact)
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    // E7: METADATA-FILTERED graph search — q228's post-filter strategy
    // on the graph tier: widened beam (FW), eligibility filter on the
    // BOUNDED visited set, exact referee over the eligible corpus.
    // Output: the filtered top-10 plus the visited/eligible counts
    // that justify the widened beam.
    Q(
      "q242_filtered_graph_ann",
      s"""WITH ${Round7Final.graphPrefixSql},
         |${Round7Final.hopChainSql(FW, "w")},
         |eligq AS MATERIALIZED (
         |  SELECT e.vec_id FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$LANG'),
         |vise AS MATERIALIZED (
         |  SELECT v.vec_id FROM v${Round7Final.HOPS}w v
         |  JOIN eligq g ON g.vec_id = v.vec_id),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_visited
         |  FROM v${Round7Final.HOPS}w),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_elig_vis
         |  FROM vise),
         |sc AS (SELECT v.vec_id,
         |    ${Pq.duckIntDot("i.iv", "q.qiv")} AS exact
         |  FROM vise v JOIN ivc i ON i.vec_id = v.vec_id, qv q),
         |topef AS (SELECT i.vec_id FROM ivc i
         |  JOIN eligq g ON g.vec_id = i.vec_id, qv q
         |  WHERE i.vec_id <> 0
         |  ORDER BY ${Pq.duckIntDot("i.iv", "q.qiv")} DESC,
         |    i.vec_id ASC LIMIT 10)
         |SELECT s.vec_id, s.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, n.n_visited, e2.n_elig_vis
         |FROM (SELECT * FROM sc ORDER BY exact DESC, vec_id ASC
         |  LIMIT 10) s
         |LEFT JOIN topef t ON s.vec_id = t.vec_id, nv n, ne e2
         |ORDER BY s.exact DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val d = Tables.table(s, dir, "documents")
      val (ivc, edges, hard) = Round7Final.graphArtifacts(s, dir)
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), VecIndex.CITERS)
      // the eligibility predicate pushes to the documents scan; the
      // filter lands on the BOUNDED visited set via an id semi-join, and
      // the referee is the exact top-10 over the ELIGIBLE corpus only
      val elig = d.filter(col("lang") === LANG)
        .select(col("doc_id").as("vec_id"))
      val (qdot, topef) = Round7Final.query0Exact(ivc,
        _.join(elig, Seq("vec_id"), "left_semi"))
      def topB(v: DataFrame): DataFrame =
        ivc.join(broadcast(v), Seq("vec_id"))
          .select(col("vec_id"), qdot.as("exact"))
          .orderBy(col("exact").desc, col("vec_id").asc)
          .limit(FW).select(col("vec_id"))
      val visited = beamLoop(s, edges,
        Round7Final.entriesOver(e, cb, hard), topB)
      val vise = visited.join(elig, Seq("vec_id"), "left_semi")
      val nv = visited.agg(count(lit(1)).cast("bigint").as("n_visited"))
      val ne = vise.agg(count(lit(1)).cast("bigint").as("n_elig_vis"))
      val sc = ivc.join(broadcast(vise), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("exact"))
      sc.orderBy(col("exact").desc, col("vec_id").asc).limit(10)
        .join(broadcast(topef), Seq("vec_id"), "left")
        .crossJoin(broadcast(nv)).crossJoin(broadcast(ne))
        .select(col("vec_id"), col("exact"), VecIndex.inExact,
          col("n_visited"), col("n_elig_vis"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    // E7: the RANK-MODE operating curve — the same persisted graph
    // walked with exact-ranked vs ADC-ranked frontiers; per mode the
    // visited size and the brute-force-top-10 recall of the visited
    // set. This is the in-band number for "what does PQ cost the graph
    // tier" (the q234/q239 curve discipline applied to ranking mode).
    Q(
      "q243_graph_rank_mode_curve",
      s"""WITH ${Round7Final.graphPrefixSql},
         |$adcAllSql,
         |${Round7Final.hopChainSql(Round7Final.BEAM, "x")},
         |${adcHopChain(Round7Final.BEAM, "y")},
         |me AS (SELECT 'exact' AS mode,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM v${Round7Final.HOPS}x) AS n_visited,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM v${Round7Final.HOPS}x v
         |     JOIN tope t ON t.vec_id = v.vec_id) AS n_hit),
         |ma AS (SELECT 'adc' AS mode,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM va${Round7Final.HOPS}y) AS n_visited,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM va${Round7Final.HOPS}y v
         |     JOIN tope t ON t.vec_id = v.vec_id) AS n_hit)
         |SELECT * FROM me UNION ALL SELECT * FROM ma
         |ORDER BY mode""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val (ivc, edges, hard) = Round7Final.graphArtifacts(s, dir)
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), VecIndex.CITERS)
      val idx = VecIndex.artifacts(s, dir, "full", e)
      val codes = VecIndex.readCodes(s, idx)
      val cbRow = ArtifactStore.readParquet(s, s"$idx/pq")
      val (qdot, tope) = Round7Final.query0Exact(ivc)
      val entries = Round7Final.entriesOver(e, cb, hard)
      def topBExact(v: DataFrame): DataFrame =
        ivc.join(broadcast(v), Seq("vec_id"))
          .select(col("vec_id"), qdot.as("exact"))
          .orderBy(col("exact").desc, col("vec_id").asc)
          .limit(Round7Final.BEAM).select(col("vec_id"))
      def rowOf(mode: String, visited: DataFrame): DataFrame =
        visited.agg(count(lit(1)).cast("bigint").as("n_visited"))
          .crossJoin(broadcast(
            visited.join(broadcast(tope), Seq("vec_id"))
              .agg(count(lit(1)).cast("bigint").as("n_hit"))))
          .select(lit(mode).as("mode"), col("n_visited"), col("n_hit"))
      val vx = beamLoop(s, edges, entries, topBExact)
      val vy = beamLoop(s, edges, entries,
        adcBeam(codes, cbRow, VecIndex.queryRow(e)))
      rowOf("exact", vx).unionByName(rowOf("adc", vy))
        .orderBy(col("mode"))
    },

    // E7: BLUE/GREEN GENERATION SWAP — index deployment as an atomic
    // pointer flip: generation v1 (base corpus) and v2 (full corpus)
    // coexist as persisted roots; v2 is validated (its code count must
    // equal the corpus size) before `current.json` is atomically
    // replaced; serving reads THROUGH the pointer. Output: the served
    // top-10 with generation + both generations' sizes.
    Q(
      "q244_index_generation_swap",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, VecIndex.CITERS)},
         |${Pq.pqChains},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl${VecIndex.CITERS} c),
         |lists AS MATERIALIZED (SELECT vec_id, embedding, cid
         |  FROM assign WHERE rn = 1),
         |${Pq.pqCodeEncs("lists", "_a")},
         |${Pq.duckCodesCte("codesall", "lists", "_a")},
         |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
         |  FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT cid FROM assign WHERE vec_id = 0
         |  AND rn <= $GNPROBE),
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
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10),
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
          VecIndex.probes(e, coarse, GNPROBE)), cbRow, q0),
          e.filter(col("vec_id") =!= 0), q0)
        .crossJoin(broadcast(nv1)).crossJoin(broadcast(nv2))
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(2L).as("gen"), col("n_v1"), col("n_v2"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    }
  )
}
