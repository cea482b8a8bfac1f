package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 batch 3: graph-based ANN — the navigable-small-world family
  * (the technique class behind HNSW layer 0), completing the serving
  * tier set next to IVF (q74), IVF-PQ (q207/q220), SQ8 (q221),
  * matryoshka (q219) and binary-Hamming (q232).
  *
  *  - q233 GRAPH BEAM SEARCH: a degree-bounded kNN graph is built
  *    offline — each vector keeps its DEG best neighbors by exact
  *    fixed-point dot among candidates sharing any of its SOFT
  *    soft-assigned coarse cells (multi-assignment blocking, so edges
  *    CROSS cell boundaries and search can escape the probed region —
  *    the property that distinguishes graph ANN from plain IVF).
  *    Serving is an unrolled HOPS-step beam search: start from the
  *    lowest-id member of each of the query's NPROBE nearest cells,
  *    expand the current beam's neighbors, keep the BEAM best visited
  *    so far, repeat; the final answer is the exact top-10 of the
  *    visited set, refereed against the full-scan exact top-10.
  *
  * Scale shape: the graph is a write-time artifact of n·DEG (src, dst)
  * rows partitioned by src — built once per corpus from cell-bounded
  * candidate pairs (never all-pairs: the soft-assignment bounds the
  * block to SOFT·occupancy per cell, the same bound every dedup gate
  * rides). A query's serving path touches O(NPROBE + HOPS·BEAM·DEG)
  * graph rows via broadcast-of-frontier equi-joins on src — constant in
  * the corpus size, strictly less I/O than IVF's probed-cell scans once
  * cells outgrow BEAM·DEG. The one full scan is the exact-recall
  * referee, which exists to measure the curve, not to serve.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no vector
  * index; this family is part of the training-data-pipeline mandate.
  */
object Round7Final {

  private[ops] val CITERS = 2 // coarse Lloyd iterations (q74 geometry)
  private val SOFT = 2 // soft-assigned cells per vector (graph blocking)
  private val DEG = 6 // kNN-graph out-degree
  private[ops] val BEAM = 4 // beam width per hop
  private[ops] val HOPS = 3 // unrolled search depth
  private[ops] val NPROBE = 2 // entry cells for the query
  private val BEAMS = Seq(2, 4, 8) // q234's operating-curve widths
  private val L1MOD = 8 // q236: every 8th vector promotes to layer 1
  private val L1BEAM = 2 // q236: narrow beam for the layer-1 descent
  private[ops] val QB = 8 // q239: batched-curve query count (q217 style)

  private[ops] val scaledD =
    "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) " +
      "* 1000000 + 0.5) AS DOUBLE))"

  // (data dir, tier) -> kNN-graph artifact root + its edges bucket
  // modulus, for the three graph tiers: "knn" (the shared full-corpus
  // graph), "inc" (q235's v1 base graph) and "l1" (q236's layer 1).
  // The graph is a PERSISTED index artifact (parquet files + corpus
  // marker, NOT in-JVM checkpoint blocks, which Bench's inter-query
  // cache hygiene would evict).
  private[ops] val graphs = new ArtifactStore.Memo[(String, String), Long]

  /** Cheap order-independent corpus identity + graph geometry: any
    * row added/removed/revalued moves it, so a marker match means the
    * on-disk graph was built from this exact corpus with these exact
    * knobs. Returns the marker string plus the corpus row count (the
    * input to the bucket-count law). "v":3 = srcbFor-derived edges
    * bucket layout (round-8 verdict task 2); "v":4 = bucket-clustered
    * writes (exactly one file per bucket — see writeEdges).
    */
  private def markerN(e: DataFrame, extra: String = ""): (String, Long) = {
    val r = e.select(col("vec_id"),
        expr("aggregate(transform(embedding, v -> CAST(FLOOR(CAST(v " +
          "AS DOUBLE) * 1000000 + 0.5) AS BIGINT)), 0L, " +
          "(a, b) -> a + b)").as("sv"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        (sum(col("sv") * (col("vec_id") % 97L + 1L)) % 1000000007L)
          .as("fp"))
      .head()
    (s"""{"n":${r.getLong(0)},"fp":${r.getLong(1)},"soft":$SOFT,""" +
      s""""deg":$DEG,"citers":$CITERS$extra,"v":4}""", r.getLong(0))
  }

  private def marker(e: DataFrame, extra: String = ""): String =
    markerN(e, extra)._1

  /** The broadcastable one-row centroid array with DOUBLE-cast
    * components — the centroid ranking dot is float×double, the
    * identical IEEE ascending fold as KMeans.dotFold / oracle duckDot.
    */
  private def centsRowOf(cb: DataFrame): DataFrame =
    cb.agg(expr("array_sort(collect_list(struct(cid, " +
      "transform(cs, v -> CAST(v AS DOUBLE)) AS csd)))").as("cents"))

  /** Soft assignment of every vector to its SOFT nearest cells: ranks
    * the broadcast codebook inside an array (map-only). Output:
    * (vec_id, ivd fixed-point DOUBLEs, crank, acell).
    */
  /** Eager localCheckpoint with stats/lineage reset (the shared
    * iterative-loop discipline): materialize a frame consumed by
    * several downstream actions exactly once.
    */
  private def pinned(s: SparkSession, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    s.createDataFrame(cp.rdd, cp.schema)
  }

  private def softOf(e: DataFrame, centsRow: DataFrame): DataFrame =
    e.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), expr(scaledD).as("ivd"),
        posexplode(expr(
          "transform(slice(array_sort(transform(cents, c -> " +
            "struct(-array_dot(embedding, c.csd) AS nd, " +
            s"c.cid AS cid))), 1, $SOFT), r -> r.cid)"))
          .as(Seq("crank", "acell")))

  /** Scored candidate pairs: `srcs` × `cands` sharing a soft cell
    * (bounded blocks, never all-pairs). Dots run through the codegen'd
    * array_dot kernel on DOUBLE-typed fixed-point integers:
    * |value| <= ~6e5, so a 64-dim dot is <= ~2e13 — far inside
    * double's 2^53 exact-integer range, and CAST(... AS BIGINT)
    * recovers the same integer the oracle computes in BIGINT.
    */
  private def pairsOf(srcs: DataFrame, cands: DataFrame): DataFrame =
    srcs.as("a")
      .join(cands.as("b"), col("a.acell") === col("b.acell"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        expr("CAST(array_dot(a.ivd, b.ivd) AS BIGINT)").as("w"))

  /** Degree cap: dedup + top-DEG selection fused into ONE shuffle keyed
    * on src — the same edges the oracle's DISTINCT + ROW_NUMBER chain
    * yields. Dedup is a partial-aggregatable (src, dst) groupBy (w is
    * deterministic per pair, so max = the value), and the cap is a
    * src-keyed row_number window: both stages SPILL on a hot cell
    * where the former collect_set slice would hold O(SOFT·occupancy)
    * structs per group in memory (round-7 verdict, What's wrong 3).
    */
  private[graft] def topDeg(ew: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("src"))
      .orderBy(col("w").desc, col("dst").asc)
    // ONE src-keyed exchange serves both stages: src-partitioning
    // satisfies the (src, dst) groupBy's clustering (subset key) AND
    // the src window's, where the former groupBy-then-window shape
    // paid an (src, dst) exchange of every duplicated pair and then a
    // second src exchange of the deduped set (the input arrives
    // cell-partitioned, so map-side partial agg deduped almost
    // nothing — same bytes, two shuffles). guide §2.4.
    ew.repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(max(col("w")).as("w"))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= DEG)
      .select(col("src"), col("dst"))
  }

  // Persisted edges are PARTITIONED BY a src bucket (sb = src % srcb)
  // and hard assignments BY their cell, so a hop's broadcast join on
  // (sb, src) — and an entry lookup's on acell — prunes the artifact
  // scan to the frontier's buckets instead of re-reading the whole
  // n·DEG file per hop (round-7 verdict, What's missing 1). The bucket
  // COUNT is corpus-derived (round-8 verdict, What's wrong 2: a
  // constant SRCB=16 made the prune a constant factor — each hop still
  // scanned ~n·DEG/16 rows, O(n) I/O at 100×).
  private[ops] val SRCB_MIN = 16L

  /** Corpus-derived edges bucket count: the smallest power of two
    * ≥ √n, floored at SRCB_MIN. A BEAM-row frontier then touches ≤
    * BEAM buckets of ~DEG·√n edge rows each — per-hop I/O rides
    * frontier × per-bucket occupancy (O(√n)), not n/const. The value
    * is pinned per artifact: carried in the artifact marker (via n and
    * "v":3) and on the sb column's METADATA, so readers always prune
    * with the writer's modulus.
    */
  private[graft] def srcbFor(n: Long): Long = {
    var b = SRCB_MIN
    while (b.toDouble < math.sqrt(math.max(n, 1L).toDouble)) b *= 2
    b
  }

  private def sbMeta(srcb: Long) =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("srcb", srcb).build()

  /** The bucket modulus an edges frame was built with (from the sb
    * column's metadata; SRCB_MIN for frames that predate it).
    */
  private[graft] def srcbOf(edges: DataFrame): Long = {
    val m = edges.schema("sb").metadata
    if (m.contains("srcb")) m.getLong("srcb") else SRCB_MIN
  }

  /** Attach the edges partition bucket (modulus `srcb`) to a frame
    * with a src column, recording the modulus on the column metadata.
    */
  private def withSb(df: DataFrame, srcb: Long): DataFrame =
    df.select(col("*"), pmod(col("src"), lit(srcb)).as("sb", sbMeta(srcb)))

  /** Edges frames from non-partitioned builds (in-memory referees)
    * get the bucket derived on the fly; partitioned reads keep theirs.
    */
  private[ops] def ensureSb(edges: DataFrame): DataFrame =
    if (edges.columns.contains("sb")) edges else withSb(edges, SRCB_MIN)

  /** Read a bucket-partitioned edges artifact, restoring sb to BIGINT
    * (partition-value inference reads it as INT) and re-attaching the
    * writer's bucket modulus to the column metadata.
    */
  private def readEdges(
      s: SparkSession, path: String, srcb: Long): DataFrame = {
    val raw = ArtifactStore.readParquet(s, path)
    raw.select(raw.columns.filterNot(_ == "sb").map(col) :+
      col("sb").cast("bigint").as("sb", sbMeta(srcb)): _*)
  }

  // (root, file) -> persisted REFEREES (q235's full rebuild, q237's
  // fresh survivor build). A referee is deterministic in (corpus,
  // geometry), so it is an artifact like any other: computing it on
  // every run made the lifecycle gates time the proof instead of the
  // operation (round-7 verdict, What's wrong 4).
  private[ops] val referees = new ArtifactStore.Memo[(String, String), Unit]

  /** Write a bucketed edges frame partitionBy(sb), CLUSTERING each
    * bucket into one task first: without the cluster step every writing
    * task opens a file in every bucket directory it holds rows for
    * (srcb × tasks tiny files — ~8k at sf1's srcb=256, which took
    * q237's timed rewrite from 13 s to 61 s); with it the artifact is
    * exactly one columnar file per bucket at any srcb, and readers pay
    * one file open per pruned bucket. The cluster shuffle is O(edges)
    * with fixed-width rows — strictly cheaper than the file churn.
    */
  private def writeEdges(df: DataFrame, path: String): Unit =
    df.repartition(col("sb")).write.mode("overwrite").partitionBy("sb")
      .parquet(path)

  /** Marker-gated persisted edges artifact `<root>/<file>`,
    * bucket-partitioned with modulus `srcb`.
    */
  private[ops] def persistedEdges(
      s: SparkSession, root: String, file: String, expect: String,
      srcb: Long)(build: => DataFrame): DataFrame = {
    referees((root, file), expect, s"_meta_$file.json")(
      (root, expect, ())) { (_, _) =>
      writeEdges(withSb(build, srcb), s"$root/$file")
    }
    readEdges(s, s"$root/$file", srcb)
  }

  /** The kNN-graph artifacts for the corpus at `dir`: `ivc` (the
    * fixed-point vector table, a map-only scan), `edges` (the
    * degree-capped graph, n·DEG rows, read from parquet) and `hard`
    * (every vector's rank-0 cell, read from parquet). Build runs only
    * on a missing/stale marker.
    */
  private[graft] def graphArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (e, path, srcb) = graphIndex(s, dir)
    graphFrames(s, e, path, srcb)
  }

  private def graphFrames(s: SparkSession, e: DataFrame, path: String,
      srcb: Long): (DataFrame, DataFrame, DataFrame) =
    (e.select(col("vec_id"), expr(scaledD).as("ivd")),
      readEdges(s, s"$path/edges", srcb),
      ArtifactStore.readParquet(s, s"$path/hard")
        .withColumn("acell", col("acell").cast("bigint")))

  /** The embeddings frame plus the shared kNN graph's artifact root and
    * edges bucket modulus, building the graph on a missing/stale marker.
    */
  private def graphIndex(s: SparkSession, dir: String)
      : (DataFrame, String, Long) = {
    val e = Tables.table(s, dir, "embeddings")
    val (path, srcb) = graphs((dir, "knn"),
        VecIndex.tableFileSig(dir, "embeddings")) {
      val (expect, n) = markerN(e)
      (ArtifactStore.root(s"graft_knngraph_${VecIndex.dirDigest(dir)}"),
        expect, srcbFor(n))
    } { (p, sb) =>
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      val soft = pinned(s, softOf(e, centsRowOf(cb)))
      writeEdges(withSb(topDeg(pairsOf(soft, soft)), sb), s"$p/edges")
      // crank 0 IS the hard assignment — persisted cell-partitioned for
      // the entry-point lookup, no serve-time corpus-wide assign pass,
      // and the probe join prunes to the probed cells
      soft.filter(col("crank") === 0)
        .select(col("vec_id"), col("acell"))
        .write.mode("overwrite").partitionBy("acell")
        .parquet(s"$p/hard")
    }
    (e, path, srcb)
  }

  /** Runs the unrolled beam search for query-0 over the shared graph
    * artifacts and returns the visited set (checkpoint-pinned, bounded
    * by NPROBE + hops·beam·DEG rows).
    */
  private def beamVisited(s: SparkSession, dir: String, qdot: Column,
      beam: Int, hops: Int): DataFrame = {
    val (ivc, edges, hard) = graphArtifacts(s, dir)
    val e = Tables.table(s, dir, "embeddings")
    val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
    beamOver(s, e, cb, ivc, qdot, edges, hard, beam, hops)
  }

  /** The serve path over an arbitrary (ivc, edges, hard) graph — shared
    * by q233/q234 (full-corpus graph) and q235 (incrementally ingested
    * graph).
    */
  private def beamOver(
      s: SparkSession, e: DataFrame, cb: DataFrame, ivc: DataFrame,
      qdot: Column, edges: DataFrame, hard: DataFrame, beam: Int,
      hops: Int): DataFrame =
    beamFrom(s, ivc, qdot, edges, entriesOver(e, cb, hard), beam, hops)

  /** The IVF-probed entry points (min survivor per probed cell) over
    * the persisted hard assignments — beam-width-independent, so curve
    * gates (q234) compute them ONCE and sweep only the hop loop. Shared
    * with the Round8Ops graph gates.
    */
  private[ops] def entriesOver(
      e: DataFrame, cb: DataFrame, hard: DataFrame): DataFrame =
    hard
      .join(broadcast(VecIndex.probes(e, cb, NPROBE)),
        col("acell") === col("cid"))
      .filter(col("vec_id") =!= 0)
      .groupBy(col("acell")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id")).distinct()

  /** Query 0's exact score column over an (vec_id, ivd) frame — its
    * vector collected to the driver ONCE (one `head()`) and inlined as
    * a literal — plus the exact top-10 of `ref(ivc minus query 0)` as
    * (vec_id, hit): the referee every query-0 graph gate grades its
    * served top-10 against (`ref` narrows the corpus, e.g. to
    * survivors or eligible docs).
    */
  private[ops] def query0Exact(ivc: DataFrame,
      ref: DataFrame => DataFrame = identity): (Column, DataFrame) = {
    val qivd = ivc.filter(col("vec_id") === 0).head.getSeq[Double](1)
    val qdot = call_function("array_dot", col("ivd"), typedlit(qivd))
      .cast("bigint")
    val tope = ref(ivc.filter(col("vec_id") =!= 0))
      .select(col("vec_id"), qdot.as("ex2"))
      .orderBy(col("ex2").desc, col("vec_id").asc).limit(10)
      .select(col("vec_id"), lit(1).as("hit"))
    (qdot, tope)
  }

  /** Batched hop loop: every query in the bounded `qb` (qid, qiv)
    * frame advances through the SAME hops — per-hop beams are windows
    * PARTITIONED BY qid, so a batch of Q queries costs the same number
    * of Spark jobs as one (the q217 batching discipline applied to
    * graph serving). `entries`/result: (qid, vec_id), bounded by
    * Q·(|entries| + hops·beam·DEG) rows.
    */
  private[ops] def beamFromBatch(
      s: SparkSession, ivc: DataFrame, edges: DataFrame,
      entries: DataFrame, qb: DataFrame, beam: Int, hops: Int)
      : DataFrame = {
    // Per-query visited sets and exact scores are DRIVER-resident —
    // bounded at Q·(|entries| + hops·beam·DEG) rows BY CONSTRUCTION
    // (the coordinator-resident frontier every graph-ANN server
    // keeps). Each hop costs two bounded jobs for the WHOLE batch
    // (bucket-pruned neighbor expansion; scoring of not-yet-scored
    // (qid, id) pairs) instead of the old per-hop localCheckpoint +
    // full-ivc windowed rescan. Same visited sets: the per-qid beam is
    // still the top-`beam` scored ids by (exact desc, vec_id asc),
    // neighbors exclude the query id, and ids absent from ivc count
    // as visited but never enter the beam (the old inner-join topB
    // behavior).
    import scala.jdk.CollectionConverters._
    val eb = ensureSb(edges)
    val srcb = srcbOf(eb)
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def pairsDf(ps: Seq[(Long, Long)], vCol: String): DataFrame =
      s.createDataFrame(
        ps.map(p => org.apache.spark.sql.Row(p._1, p._2)).asJava,
        pairSchema).withColumnRenamed("vec_id", vCol)
    def scoresOf(ps: Seq[(Long, Long)]): Map[(Long, Long), Long] =
      if (ps.isEmpty) Map.empty
      else ivc.join(broadcast(pairsDf(ps, "vec_id")), Seq("vec_id"))
        .join(broadcast(qb), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          expr("CAST(array_dot(ivd, qiv) AS BIGINT)").as("exact"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val entryPairs = entries.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val visited = scala.collection.mutable.LinkedHashSet(entryPairs: _*)
    val scores = scala.collection.mutable.Map.empty[(Long, Long), Long]
    scores ++= scoresOf(entryPairs)
    // runtime guard on the driver-residency bound: the "bounded by
    // construction" claim rests on the constants (beam, hops, DEG) and
    // on every edges frame being DEG-capped — if a future constant or
    // an uncapped edges frame breaks it, fail loud instead of letting
    // the hop collects grow unbounded on the driver
    val nQ = entryPairs.map(_._1).distinct.size.toLong
    val bound = entryPairs.size.toLong + hops.toLong * beam * DEG * nQ
    for (_ <- 1 to hops) {
      val frontier = visited.toSeq.filter(scores.contains)
        .groupBy(_._1).toSeq.flatMap { case (_, ps) =>
          ps.sortBy(p => (-scores(p), p._2)).take(beam)
        }
      if (frontier.nonEmpty) {
        val buckets = frontier.map(_._2 % srcb).distinct
        val nbrs = eb.filter(col("sb").isin(buckets: _*))
          .join(broadcast(pairsDf(frontier, "src")), Seq("src"))
          .select(col("qid"), col("dst").as("vec_id"))
          .filter(col("vec_id") =!= col("qid"))
          .distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val fresh = nbrs.filterNot(visited.contains)
        visited ++= fresh
        require(visited.size <= bound,
          s"beamFromBatch visited set ${visited.size} exceeds its " +
            s"driver-residency bound $bound (entries=${entryPairs.size}, " +
            s"hops=$hops, beam=$beam, DEG=$DEG, queries=$nQ) — is the " +
            "edges frame DEG-capped?")
        scores ++= scoresOf(fresh.filterNot(scores.contains))
      }
    }
    pairsDf(visited.toSeq, "vec_id")
  }

  /** One micro-batch of the streaming graph serve (q240): the batch's
    * queries run the batched beam search against the STATIC persisted
    * graph and write their exact-rescored top-10s to a batchId-keyed
    * location with overwrite — the q223 retry-idempotent discipline
    * (a replayed batch replaces, never appends).
    */
  private[ops] def serveGraphBatch(
      ivc: DataFrame, edges: DataFrame, hard: DataFrame, cb: DataFrame,
      out: String)(batch: DataFrame, batchId: Long): Unit =
    serveGraphFrame(ivc, edges, hard, cb, batch)
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  /** Per-qid IVF-probed entry points over the persisted hard
    * assignments for a batch of query rows (vec_id, embedding): each
    * query's min survivor per probed cell — the batched entriesOver,
    * shared by q239, q240 and the Round9Ops batched ADC serves.
    */
  private[ops] def entriesForBatch(
      batch: DataFrame, cb: DataFrame, hard: DataFrame): DataFrame = {
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cdot").desc, col("cid").asc)
    val probesb = batch
      .select(col("vec_id").as("qid"), col("embedding"))
      .crossJoin(broadcast(cb))
      .withColumn("cdot", expr(KMeans.dotFold("embedding", "cs")))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= NPROBE)
      .select(col("qid"), col("cid"))
    hard
      .join(broadcast(probesb), col("acell") === col("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("acell"))
      .agg(min(col("vec_id")).as("vec_id"))
      .select(col("qid"), col("vec_id")).distinct()
  }

  /** The batch-side serving transformation one q240 micro-batch runs —
    * separated from the sink write so the plan audit can assert its
    * shapes (qid-partitioned windows, broadcast frontiers) directly.
    */
  private[graft] def serveGraphFrame(
      ivc: DataFrame, edges: DataFrame, hard: DataFrame, cb: DataFrame,
      batch: DataFrame): DataFrame = {
    val bs = batch.sparkSession
    val qb = batch.select(col("vec_id").as("qid"),
      expr(scaledD).as("qiv"))
    val visited = beamFromBatch(bs, ivc, edges,
      entriesForBatch(batch, cb, hard), qb, BEAM, HOPS)
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("exact").desc, col("vec_id").asc)
    ivc.join(broadcast(visited), Seq("vec_id"))
      .join(broadcast(qb), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        expr("CAST(array_dot(ivd, qiv) AS BIGINT)").as("exact"))
      .withColumn("krn", row_number().over(wk))
      .filter(col("krn") <= 10)
      .select(col("qid"), col("krn").cast("bigint").as("rank"),
        col("vec_id"), col("exact"))
  }

  /** One un-pinned hop join over the persisted bucket-partitioned
    * edges artifact with a bounded literal frontier — the audit entry
    * point for asserting the scan dynamic-partition-prunes to the
    * frontier's buckets (checkpoint pinning hides the hop joins in
    * every gate's own executed plan).
    */
  private[graft] def hopPlanFor(s: SparkSession, dir: String): DataFrame = {
    val (_, edges, _) = graphArtifacts(s, dir)
    val fr = s.range(1).select(col("id").as("src"))
    edges.filter(col("sb").isin(Seq(1L % srcbOf(edges)): _*))
      .join(broadcast(fr), Seq("src"))
  }

  /** The q240 serving plan over the standard 8-query batch drawn from
    * the corpus at `dir` — the audit entry point PlanAuditSpec uses
    * (the gate's own returned frame is just the sink read; the shapes
    * that matter live inside the micro-batch body).
    */
  private[graft] def q240ServeFrame(
      s: SparkSession, dir: String): DataFrame = {
    val (ivc, edges, hard) = graphArtifacts(s, dir)
    val e = Tables.table(s, dir, "embeddings")
    val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
    serveGraphFrame(ivc, edges, hard, cb, e.filter(col("vec_id") < QB))
  }

  /** The hop loop itself, from an arbitrary bounded entry frame —
    * shared by the IVF-probed entries (q233-q235) and the hierarchical
    * descent (q236, whose entries come from the layer-1 beam). `qdot`
    * is the caller's query-0 score column ([[query0Exact]]), so a gate
    * collects query 0 once however many beams it runs.
    */
  private def beamFrom(
      s: SparkSession, ivc: DataFrame, qdot: Column, edges: DataFrame,
      entries: DataFrame, beam: Int, hops: Int): DataFrame = {
    // The visited set is ≤ |entries| + hops·beam·DEG rows BY
    // CONSTRUCTION, so it lives on the DRIVER together with its exact
    // scores (the coordinator-resident frontier every graph-ANN server
    // keeps). Each hop is then two bounded jobs — the bucket-pruned
    // neighbor expansion and the scoring of the not-yet-scored ids —
    // instead of the old per-hop localCheckpoint + full-ivc beam
    // rescan (same visited SET: the beam is still the top-`beam`
    // scored ids by (exact desc, vec_id asc), neighbors of the beam
    // still come from the same pruned buckets, and ids absent from
    // ivc still count as visited but never enter the beam, exactly as
    // the old inner-join topB behaved).
    val eb = ensureSb(edges)
    val srcb = srcbOf(eb)
    import scala.jdk.CollectionConverters._
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def idsDf(ids: Seq[Long], colName: String): DataFrame =
      s.createDataFrame(
        ids.map(org.apache.spark.sql.Row(_)).asJava, idSchema)
        .withColumnRenamed("vec_id", colName)
    def scoresOf(ids: Seq[Long]): Map[Long, Long] =
      if (ids.isEmpty) Map.empty
      else ivc.join(broadcast(idsDf(ids, "vec_id")), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("exact"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val entryIds = entries.collect().map(_.getLong(0)).toSeq
    val visited = scala.collection.mutable.LinkedHashSet(entryIds: _*)
    val scores = scala.collection.mutable.Map.empty[Long, Long]
    scores ++= scoresOf(entryIds)
    // runtime guard on the driver-residency bound (see beamFromBatch)
    val bound = entryIds.size.toLong + hops.toLong * beam * DEG
    for (_ <- 1 to hops) {
      val frontier = visited.toSeq.filter(scores.contains)
        .sortBy(id => (-scores(id), id)).take(beam)
      if (frontier.nonEmpty) {
        val buckets = frontier.map(_ % srcb).distinct
        val nbrs = eb.filter(col("sb").isin(buckets: _*))
          .join(broadcast(idsDf(frontier, "src")), Seq("src"))
          .select(col("dst"))
          .filter(col("dst") =!= 0)
          .distinct()
          .collect().map(_.getLong(0)).toSeq
        val fresh = nbrs.filterNot(visited.contains)
        visited ++= fresh
        require(visited.size <= bound,
          s"beamFrom visited set ${visited.size} exceeds its " +
            s"driver-residency bound $bound (entries=${entryIds.size}, " +
            s"hops=$hops, beam=$beam, DEG=$DEG) — is the edges frame " +
            "DEG-capped?")
        scores ++= scoresOf(fresh.filterNot(scores.contains))
      }
    }
    idsDf(visited.toSeq, "vec_id")
  }

  // ---------------- incremental graph ingest (q235) -------------------

  private val P = 1000000007L // edge-set fingerprint modulus

  /** Order-independent (row count, fingerprint) of a (src, dst) edge
    * set — the q225/q227 ledger discipline applied to graph edges.
    */
  private def fpEdges(edges: DataFrame): DataFrame =
    edges.select(concat_ws("|", col("src"), col("dst")).as("rs"))
      .agg(count(lit(1)).cast("bigint").as("nr"),
        (sum(graft.functions.TextHash.charFold(md5(col("rs")), 0L, 31L))
          % P).as("fp"))

  /** The matching oracle CTE over an edge CTE. */
  private def duckFpEdges(name: String, src: String): String =
    s"""$name AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
       |    CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(md5(rs), ''),
       |        ch -> CAST(unicode(ch) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % $P)) % $P AS BIGINT) AS fp
       |  FROM (SELECT concat_ws('|', src, dst) AS rs FROM $src))"""
      .stripMargin

  /** Shared oracle prefix: trains the coarse codebook, builds the
    * degree-capped kNN graph from soft-cell-blocked pairs, and exposes
    * `ivc` (fixed-point vectors), `edges`, `qv` (query-0 vector),
    * `v0` (entry points) and `tope` (the full-scan exact top-10
    * referee).
    */
  private[ops] def graphPrefixSql: String =
    s"""${KMeans.kkCte()},
       |${KMeans.oracleCtes(KMeans.duckK, CITERS)},
       |ivc AS MATERIALIZED (
       |  SELECT vec_id, ${Pq.duckScaled("embedding")} AS iv
       |  FROM embeddings),
       |assign AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM embeddings e, cl$CITERS c),
       |soft AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid, i.iv FROM assign a
       |  JOIN ivc i USING (vec_id) WHERE a.rn <= $SOFT),
       |ew AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
       |  FROM soft a JOIN soft b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY w DESC, dst ASC) AS rn FROM ew)
       |  WHERE rn <= $DEG),
       |qv AS (SELECT iv AS qiv FROM ivc WHERE vec_id = 0),
       |probes AS (SELECT cid FROM assign WHERE vec_id = 0
       |  AND rn <= $NPROBE),
       |hard AS MATERIALIZED (SELECT vec_id, cid FROM assign
       |  WHERE rn = 1),
       |v0 AS MATERIALIZED (SELECT DISTINCT vec_id FROM (
       |  SELECT MIN(h.vec_id) AS vec_id FROM hard h
       |  JOIN probes p ON h.cid = p.cid WHERE h.vec_id <> 0
       |  GROUP BY h.cid)),
       |tope AS MATERIALIZED (
       |  SELECT vec_id FROM ivc, qv q WHERE vec_id <> 0
       |  ORDER BY ${Pq.duckIntDot("iv", "q.qiv")} DESC, vec_id ASC
       |  LIMIT 10)""".stripMargin

  /** The unrolled beam-search hop chain: `f<i><tag>` is hop i's beam
    * (top-`beam` of the visited set), `v<i+1><tag>` the expanded
    * visited set. Hop 0 starts from the `entry` CTE (default the
    * IVF-probed `v0`); neighbors come from the `edges` CTE (default
    * the layer-0 graph — q236's layer-1 chain passes its own).
    */
  private[ops] def hopChainSql(beam: Int, tag: String,
      edges: String = "edges", entry: String = "v0"): String =
    (1 to HOPS).map { i =>
      val p = i - 1
      val prev = if (p == 0) entry else s"v$p$tag"
      s"""f$p$tag AS (SELECT vec_id FROM $prev JOIN ivc USING (vec_id),
         |  qv q ORDER BY ${Pq.duckIntDot("iv", "q.qiv")} DESC,
         |  vec_id ASC LIMIT $beam),
         |v$i$tag AS MATERIALIZED (
         |  SELECT vec_id FROM $prev
         |  UNION
         |  SELECT e.dst AS vec_id FROM f$p$tag f
         |  JOIN $edges e ON e.src = f.vec_id WHERE e.dst <> 0)"""
        .stripMargin
    }.mkString(",\n")

  /** The q235 oracle prefix: trains the coarse codebook ON THE BASE
    * 80% ONLY, soft-assigns the whole corpus with it, builds the base
    * graph, the incrementally updated graph (`edges` — untouched base
    * rows kept verbatim, sources in touched cells recomputed, new
    * sources added) and the full-rebuild referee (`edgesf`), plus the
    * serve/referee spine (`qv`, `probes`, `hard`, `v0`, `tope`) in the
    * exact names `hopChainSql` consumes.
    */
  private def incPrefixSql: String =
    s"""base AS MATERIALIZED (
       |  SELECT * FROM embeddings WHERE vec_id % 10 < 8),
       |${KMeans.kkCte("base")},
       |${KMeans.oracleCtesSlice(KMeans.duckK, CITERS, 0, 0, "", "base")},
       |ivc AS MATERIALIZED (
       |  SELECT vec_id, ${Pq.duckScaled("embedding")} AS iv
       |  FROM embeddings),
       |assign AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM embeddings e, cl$CITERS c),
       |soft AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid, i.iv FROM assign a
       |  JOIN ivc i USING (vec_id) WHERE a.rn <= $SOFT),
       |softb AS MATERIALIZED (SELECT * FROM soft WHERE vec_id % 10 < 8),
       |softd AS MATERIALIZED (SELECT * FROM soft WHERE vec_id % 10 >= 8),
       |touched AS MATERIALIZED (SELECT DISTINCT cid FROM softd),
       |rsrc AS MATERIALIZED (
       |  SELECT DISTINCT b.vec_id FROM softb b
       |  JOIN touched t ON b.cid = t.cid),
       |ewb AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
       |  FROM softb a JOIN softb b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |edgesb AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY w DESC, dst ASC) AS rn FROM ewb)
       |  WHERE rn <= $DEG),
       |recsrc AS MATERIALIZED (
       |  SELECT vec_id FROM rsrc
       |  UNION SELECT DISTINCT vec_id FROM softd),
       |ewr AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
       |  FROM soft a JOIN recsrc r ON a.vec_id = r.vec_id
       |  JOIN soft b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |edgesr AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY w DESC, dst ASC) AS rn FROM ewr)
       |  WHERE rn <= $DEG),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM edgesb
       |  WHERE src NOT IN (SELECT vec_id FROM rsrc)
       |  UNION ALL SELECT src, dst FROM edgesr),
       |ewf AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
       |  FROM soft a JOIN soft b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |edgesf AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY w DESC, dst ASC) AS rn FROM ewf)
       |  WHERE rn <= $DEG),
       |${duckFpEdges("fpi", "edges")},
       |${duckFpEdges("fpf", "edgesf")},
       |dd AS (SELECT fi.nr - ff.nr AS rows_delta,
       |  fi.fp - ff.fp AS fp_delta FROM fpi fi, fpf ff),
       |nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_new
       |  FROM softd),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_touched FROM touched),
       |qv AS (SELECT iv AS qiv FROM ivc WHERE vec_id = 0),
       |probes AS (SELECT cid FROM assign WHERE vec_id = 0
       |  AND rn <= $NPROBE),
       |hard AS MATERIALIZED (SELECT vec_id, cid FROM assign
       |  WHERE rn = 1),
       |v0 AS MATERIALIZED (SELECT DISTINCT vec_id FROM (
       |  SELECT MIN(h.vec_id) AS vec_id FROM hard h
       |  JOIN probes p ON h.cid = p.cid WHERE h.vec_id <> 0
       |  GROUP BY h.cid)),
       |tope AS MATERIALIZED (
       |  SELECT vec_id FROM ivc, qv q WHERE vec_id <> 0
       |  ORDER BY ${Pq.duckIntDot("iv", "q.qiv")} DESC, vec_id ASC
       |  LIMIT 10)""".stripMargin

  /** The batched oracle spine appended to graphPrefixSql for q239:
    * `qbb` (the QB query vectors), `probesb` (per-query entry cells),
    * `v0b` (per-query entry points) and `topeb` (per-query exact
    * top-10 referee, windowed PARTITION BY qid).
    */
  private[ops] def batchSpineSql: String =
    s"""qbb AS MATERIALIZED (
       |  SELECT vec_id AS qid, iv AS qiv FROM ivc WHERE vec_id < $QB),
       |probesb AS MATERIALIZED (
       |  SELECT vec_id AS qid, cid FROM assign
       |  WHERE vec_id < $QB AND rn <= $NPROBE),
       |v0b AS MATERIALIZED (SELECT DISTINCT qid, vec_id FROM (
       |  SELECT p.qid, h.cid, MIN(h.vec_id) AS vec_id FROM hard h
       |  JOIN probesb p ON h.cid = p.cid WHERE h.vec_id <> p.qid
       |  GROUP BY p.qid, h.cid)),
       |topeb AS MATERIALIZED (SELECT qid, vec_id FROM (
       |  SELECT q.qid, v.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid
       |    ORDER BY ${Pq.duckIntDot("v.iv", "q.qiv")} DESC,
       |      v.vec_id ASC) AS rn
       |  FROM ivc v, qbb q WHERE v.vec_id <> q.qid) WHERE rn <= 10)"""
      .stripMargin

  /** Batched unrolled hop chain: like hopChainSql, but every level
    * carries (qid, vec_id) and the per-hop beam is a window
    * PARTITIONED BY qid.
    */
  private[ops] def hopChainBatchSql(beam: Int, tag: String): String =
    (1 to HOPS).map { i =>
      val p = i - 1
      val prev = if (p == 0) "v0b" else s"v$p$tag"
      s"""f$p$tag AS (SELECT qid, vec_id FROM (
         |  SELECT v.qid, v.vec_id, ROW_NUMBER() OVER (PARTITION BY v.qid
         |    ORDER BY ${Pq.duckIntDot("i.iv", "q.qiv")} DESC,
         |      v.vec_id ASC) AS rn
         |  FROM $prev v JOIN ivc i ON i.vec_id = v.vec_id
         |  JOIN qbb q ON q.qid = v.qid) WHERE rn <= $beam),
         |v$i$tag AS MATERIALIZED (
         |  SELECT qid, vec_id FROM $prev
         |  UNION
         |  SELECT f.qid, e.dst AS vec_id FROM f$p$tag f
         |  JOIN edges e ON e.src = f.vec_id WHERE e.dst <> f.qid)"""
        .stripMargin
    }.mkString(",\n")

  val queries: Seq[Q] = Seq(
    Q(
      "q233_graph_beam_search",
      s"""WITH $graphPrefixSql,
         |${hopChainSql(BEAM, "")},
         |scored AS MATERIALIZED (
         |  SELECT vec_id, ${Pq.duckIntDot("iv", "q.qiv")} AS exact
         |  FROM v$HOPS JOIN ivc USING (vec_id), qv q),
         |tp AS (SELECT * FROM scored
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_visited
         |  FROM v$HOPS),
         |hh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM tp t JOIN tope e ON t.vec_id = e.vec_id)
         |SELECT t.vec_id, t.exact,
         |  CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, n.n_visited, h.n_hit
         |FROM tp t LEFT JOIN tope e ON t.vec_id = e.vec_id, nv n, hh h
         |ORDER BY t.exact DESC, t.vec_id ASC""".stripMargin) { (s, dir) =>
      val (ivc, _, _) = graphArtifacts(s, dir)
      val (qdot, tope) = query0Exact(ivc)
      val visited = beamVisited(s, dir, qdot, BEAM, HOPS)
      val top = ivc.join(broadcast(visited), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("exact"))
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      val nVisited = visited
        .agg(count(lit(1)).cast("bigint").as("n_visited"))
      val nHit = top.select(col("vec_id"))
        .join(broadcast(tope), Seq("vec_id"))
        .agg(count(lit(1)).cast("bigint").as("n_hit"))
      top.join(broadcast(tope), Seq("vec_id"), "left")
        .crossJoin(broadcast(nVisited)).crossJoin(broadcast(nHit))
        .select(col("vec_id"), col("exact"), VecIndex.inExact,
          col("n_visited"), col("n_hit"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    Q(
      "q234_beam_width_curve",
      s"""WITH $graphPrefixSql,
         |${BEAMS.map(b => hopChainSql(b, s"_b$b")).mkString(",\n")},
         |${BEAMS.map { b =>
             s"""st$b AS (SELECT CAST($b AS INT) AS beam,
                |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v${HOPS}_b$b)
                |    AS n_visited,
                |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                |     SELECT vec_id FROM v${HOPS}_b$b JOIN ivc
                |       USING (vec_id), qv q
                |     ORDER BY ${Pq.duckIntDot("iv", "q.qiv")} DESC,
                |       vec_id ASC LIMIT 10) t
                |   JOIN tope e ON t.vec_id = e.vec_id) AS n_hit)"""
               .stripMargin
           }.mkString(",\n")}
         |${BEAMS.map(b => s"SELECT * FROM st$b").mkString(" UNION ALL ")}
         |ORDER BY beam ASC""".stripMargin) { (s, dir) =>
      // the operating curve that tunes the beam width (the q222/q226
      // discipline applied to graph search): every width serves from
      // the SAME shared graph artifacts, so the sweep measures the
      // knob, not rebuilds
      val (ivc, gEdges, gHard) = graphArtifacts(s, dir)
      val (qdot, tope) = query0Exact(ivc)
      // probes + entry points are beam-width-independent: resolve them
      // once, sweep only the hop loop per width
      val eC = Tables.table(s, dir, "embeddings")
      val cbC = KMeans.codebook(s, eC, KMeans.servingK(eC), CITERS)
      // pinned: beamFrom re-collects its entries once per width — an
      // unpinned frame would re-run the probe-window/join/groupBy plan
      // 3x per query (the batched q239 path pins for the same reason)
      val entriesC = pinned(s, entriesOver(eC, cbC, gHard))
      BEAMS.map { b =>
        val visited = beamFrom(s, ivc, qdot, gEdges, entriesC, b, HOPS)
        val top = ivc.join(broadcast(visited), Seq("vec_id"))
          .select(col("vec_id"), qdot.as("exact"))
          .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
        val nVisited = visited
          .agg(count(lit(1)).cast("bigint").as("n_visited"))
        val nHit = top.select(col("vec_id"))
          .join(broadcast(tope), Seq("vec_id"))
          .agg(count(lit(1)).cast("bigint").as("n_hit"))
        nVisited.crossJoin(broadcast(nHit))
          .select(lit(b).cast("int").as("beam"),
            col("n_visited"), col("n_hit"))
      }.reduce(_ union _).orderBy(col("beam").asc)
    },

    Q(
      "q235_graph_incremental_ingest",
      s"""WITH $incPrefixSql,
         |${hopChainSql(BEAM, "")},
         |scored AS MATERIALIZED (
         |  SELECT vec_id, ${Pq.duckIntDot("iv", "q.qiv")} AS exact
         |  FROM v$HOPS JOIN ivc USING (vec_id), qv q),
         |tp AS (SELECT * FROM scored
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_visited
         |  FROM v$HOPS)
         |SELECT t.vec_id, t.exact,
         |  CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, v.n_visited, n.n_new, tt.n_touched,
         |  d.rows_delta, d.fp_delta
         |FROM tp t LEFT JOIN tope e ON t.vec_id = e.vec_id,
         |  nv v, nn n, nt tt, dd d
         |ORDER BY t.exact DESC, t.vec_id ASC""".stripMargin) { (s, dir) =>
      // INCREMENTAL GRAPH INGEST — the daily operation of a deployed
      // graph index: the corpus splits 80/20 into base (the persisted
      // v1 graph was built on it, coarse codebook trained on it) and a
      // new batch. Ingest soft-assigns ONLY the new vectors with the
      // existing codebook (map stage), then recomputes top-DEG edges
      // ONLY for sources with a soft cell touched by the batch — work
      // bounded by touched-cell occupancy (≤ SOFT·|delta| cells), not
      // corpus size. rows_delta/fp_delta prove the ingested graph is
      // row-identical to a full rebuild over the union corpus with the
      // same codebook (exact: an untouched source's candidate set is
      // unchanged by definition of "touched"); serving then runs the
      // beam search FROM THE PERSISTED v2 FILES with the exact-top-10
      // referee.
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      val cb = KMeans.codebook(s, base, KMeans.servingK(base), CITERS)
      // the soft-assignment frame feeds several consumers per call
      // (touched cells, recompute sources, both pair-join sides, hard
      // entries) — one eager checkpoint beats re-running the
      // rank+explode scan per consumer (Bench's inter-query cleanup
      // unpersists the blocks)
      val soft = pinned(s, softOf(e, centsRowOf(cb)))
      val softB = soft.filter(col("vec_id") % 10 < 8)
      val softD = soft.filter(col("vec_id") % 10 >= 8)
      // ---- the persisted v1 artifact (base graph) ----
      val (p, srcbI) = graphs((dir, "inc"),
          VecIndex.tableFileSig(dir, "embeddings")) {
        // the v1 graph additionally depends on the 80/20 base split
        val (expect, nB) = markerN(base, s""","split":"mod10lt8"""")
        (ArtifactStore.root(s"graft_knngraphinc_${VecIndex.dirDigest(dir)}"),
          expect, srcbFor(nB))
      } { (root, sb) =>
        writeEdges(withSb(topDeg(pairsOf(softB, softB)), sb),
          s"$root/edges_v1")
      }
      val edgesV1 = readEdges(s, s"$p/edges_v1", srcbI)
      // ---- ingest: touched cells -> recomputed sources ----
      val touched = softD.select(col("acell")).distinct()
      val rsrc = softB.join(broadcast(touched), Seq("acell"))
        .select(col("vec_id")).distinct()
      val recsrc = rsrc.union(softD.select(col("vec_id"))).distinct()
      val edgesRec = topDeg(pairsOf(soft.join(recsrc, Seq("vec_id")),
        soft))
      val edgesInc = edgesV1
        .join(rsrc.withColumnRenamed("vec_id", "src"), Seq("src"),
          "left_anti")
        .unionByName(withSb(edgesRec, srcbI))
      writeEdges(edgesInc, s"$p/edges_v2")
      val edgesServe = readEdges(s, s"$p/edges_v2", srcbI)
      // ---- referee: full rebuild with the SAME base-trained codebook
      // — deterministic in (corpus, geometry), so PERSISTED like any
      // artifact: steady-state runs time the INGEST, not the proof
      val edgesFull = persistedEdges(s, p, "edges_full",
        marker(e, s""","split":"mod10lt8","ref":"full""""), srcbI)(
        topDeg(pairsOf(soft, soft)))
      val dd = fpEdges(edgesServe)
        .select(col("nr").as("ni"), col("fp").as("fi"))
        .crossJoin(broadcast(fpEdges(edgesFull)
          .select(col("nr").as("nf"), col("fp").as("ff"))))
        .select((col("ni") - col("nf")).as("rows_delta"),
          (col("fi") - col("ff")).as("fp_delta"))
      val nNew = softD.select(col("vec_id")).distinct()
        .agg(count(lit(1)).cast("bigint").as("n_new"))
      val nTouched = touched
        .agg(count(lit(1)).cast("bigint").as("n_touched"))
      // ---- serve from the ingested files ----
      val ivc = e.select(col("vec_id"), expr(scaledD).as("ivd"))
      val hard = soft.filter(col("crank") === 0)
        .select(col("vec_id"), col("acell"))
      val (qdot, tope) = query0Exact(ivc)
      val visited =
        beamOver(s, e, cb, ivc, qdot, edgesServe, hard, BEAM, HOPS)
      val top = ivc.join(broadcast(visited), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("exact"))
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      val nVisited = visited
        .agg(count(lit(1)).cast("bigint").as("n_visited"))
      top.join(broadcast(tope), Seq("vec_id"), "left")
        .crossJoin(broadcast(nVisited)).crossJoin(broadcast(nNew))
        .crossJoin(broadcast(nTouched)).crossJoin(broadcast(dd))
        .select(col("vec_id"), col("exact"), VecIndex.inExact,
          col("n_visited"), col("n_new"), col("n_touched"),
          col("rows_delta"), col("fp_delta"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    Q(
      "q236_hierarchical_graph_search",
      s"""WITH $graphPrefixSql,
         |soft1 AS MATERIALIZED (
         |  SELECT * FROM soft WHERE vec_id % $L1MOD = 1),
         |ew1 AS MATERIALIZED (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
         |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
         |  FROM soft1 a JOIN soft1 b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |edges1 AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst ASC) AS rn FROM ew1)
         |  WHERE rn <= $DEG),
         |v0h AS (SELECT DISTINCT MIN(vec_id) AS vec_id FROM soft1),
         |${hopChainSql(L1BEAM, "_l1", "edges1", "v0h")},
         |seed AS MATERIALIZED (
         |  SELECT vec_id FROM v${HOPS}_l1 JOIN ivc USING (vec_id), qv q
         |  ORDER BY ${Pq.duckIntDot("iv", "q.qiv")} DESC, vec_id ASC
         |  LIMIT $BEAM),
         |${hopChainSql(BEAM, "_l0", "edges", "seed")},
         |scored AS MATERIALIZED (
         |  SELECT vec_id, ${Pq.duckIntDot("iv", "q.qiv")} AS exact
         |  FROM v${HOPS}_l0 JOIN ivc USING (vec_id), qv q),
         |tp AS (SELECT * FROM scored
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10),
         |nv1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vis_l1
         |  FROM v${HOPS}_l1),
         |nv0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vis_l0
         |  FROM v${HOPS}_l0),
         |hh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM tp t JOIN tope e ON t.vec_id = e.vec_id)
         |SELECT t.vec_id, t.exact,
         |  CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, v1.n_vis_l1, v0c.n_vis_l0, h.n_hit
         |FROM tp t LEFT JOIN tope e ON t.vec_id = e.vec_id,
         |  nv1 v1, nv0 v0c, hh h
         |ORDER BY t.exact DESC, t.vec_id ASC""".stripMargin) { (s, dir) =>
      // HIERARCHICAL GRAPH SEARCH — the full HNSW shape: a sparse
      // layer-1 graph (every L1MOD-th vector, same soft-cell blocking
      // and codebook as layer 0) is descended first with a narrow beam
      // from a single fixed entry point (the lowest layer-1 id), and
      // its best BEAM results seed the layer-0 beam search — NO coarse
      // probe at serve time at all: entry selection itself is a graph
      // walk, so the whole serving path is O(HOPS·BEAM·DEG) bounded
      // rows per layer regardless of corpus size or cell occupancy.
      val (ivc, edges, _) = graphArtifacts(s, dir)
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      val (p, srcbL1) = graphs((dir, "l1"),
          VecIndex.tableFileSig(dir, "embeddings")) {
        // the layer-1 graph additionally depends on the promotion
        // modulus — changing L1MOD must invalidate persisted edges_l1
        val (expect, nE) = markerN(e, s""","l1mod":$L1MOD""")
        // bucket count rides the layer-1 SOURCE count (~n/L1MOD)
        (ArtifactStore.root(s"graft_knngraphl1_${VecIndex.dirDigest(dir)}"),
          expect, srcbFor(math.max(nE / L1MOD, 1L)))
      } { (root, sb) =>
        val soft1 = softOf(e, centsRowOf(cb))
          .filter(col("vec_id") % L1MOD === 1)
        writeEdges(withSb(topDeg(pairsOf(soft1, soft1)), sb),
          s"$root/edges_l1")
      }
      val edges1 = readEdges(s, s"$p/edges_l1", srcbL1)
      val entry0 = e.filter(col("vec_id") % L1MOD === 1)
        .agg(min(col("vec_id")).cast("bigint").as("vec_id"))
      val (qdot, tope) = query0Exact(ivc)
      val vis1 = beamFrom(s, ivc, qdot, edges1, entry0, L1BEAM, HOPS)
      val seed = ivc.join(broadcast(vis1), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("sx"))
        .orderBy(col("sx").desc, col("vec_id").asc).limit(BEAM)
        .select(col("vec_id"))
      val vis0 = beamFrom(s, ivc, qdot, edges, seed, BEAM, HOPS)
      val top = ivc.join(broadcast(vis0), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("exact"))
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      val nv1 = vis1.agg(count(lit(1)).cast("bigint").as("n_vis_l1"))
      val nv0 = vis0.agg(count(lit(1)).cast("bigint").as("n_vis_l0"))
      val nHit = top.select(col("vec_id"))
        .join(broadcast(tope), Seq("vec_id"))
        .agg(count(lit(1)).cast("bigint").as("n_hit"))
      top.join(broadcast(tope), Seq("vec_id"), "left")
        .crossJoin(broadcast(nv1)).crossJoin(broadcast(nv0))
        .crossJoin(broadcast(nHit))
        .select(col("vec_id"), col("exact"), VecIndex.inExact,
          col("n_vis_l1"), col("n_vis_l0"), col("n_hit"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    Q(
      "q237_graph_delete_compact",
      s"""WITH $graphPrefixSql,
         |softs AS MATERIALIZED (
         |  SELECT * FROM soft WHERE vec_id % 7 <> 3),
         |tcell AS MATERIALIZED (
         |  SELECT DISTINCT cid FROM soft WHERE vec_id % 7 = 3),
         |rsv AS MATERIALIZED (
         |  SELECT DISTINCT s.vec_id FROM softs s
         |  JOIN tcell t ON s.cid = t.cid),
         |ewc AS MATERIALIZED (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
         |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
         |  FROM softs a JOIN rsv r ON a.vec_id = r.vec_id
         |  JOIN softs b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |edgesrc AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst ASC) AS rn FROM ewc)
         |  WHERE rn <= $DEG),
         |edgesc AS MATERIALIZED (
         |  SELECT src, dst FROM edges
         |  WHERE src % 7 <> 3 AND src NOT IN (SELECT vec_id FROM rsv)
         |  UNION ALL SELECT src, dst FROM edgesrc),
         |ewfs AS MATERIALIZED (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
         |    ${Pq.duckIntDot("a.iv", "b.iv")} AS w
         |  FROM softs a JOIN softs b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |edgesfs AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst ASC) AS rn FROM ewfs)
         |  WHERE rn <= $DEG),
         |${duckFpEdges("fpc", "edgesc")},
         |${duckFpEdges("fpfs", "edgesfs")},
         |ddc AS (SELECT fc.nr - ff.nr AS rows_delta,
         |  fc.fp - ff.fp AS fp_delta FROM fpc fc, fpfs ff),
         |ntv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tomb
         |  FROM embeddings WHERE vec_id % 7 = 3),
         |v0s AS MATERIALIZED (SELECT DISTINCT vec_id FROM (
         |  SELECT MIN(h.vec_id) AS vec_id FROM hard h
         |  JOIN probes p ON h.cid = p.cid
         |  WHERE h.vec_id <> 0 AND h.vec_id % 7 <> 3
         |  GROUP BY h.cid)),
         |${hopChainSql(BEAM, "_c", "edgesc", "v0s")},
         |scoredc AS MATERIALIZED (
         |  SELECT vec_id, ${Pq.duckIntDot("iv", "q.qiv")} AS exact
         |  FROM v${HOPS}_c JOIN ivc USING (vec_id), qv q),
         |tpc AS (SELECT * FROM scoredc
         |  ORDER BY exact DESC, vec_id ASC LIMIT 10),
         |nvc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_visited
         |  FROM v${HOPS}_c),
         |topes AS MATERIALIZED (
         |  SELECT vec_id FROM ivc, qv q
         |  WHERE vec_id <> 0 AND vec_id % 7 <> 3
         |  ORDER BY ${Pq.duckIntDot("iv", "q.qiv")} DESC, vec_id ASC
         |  LIMIT 10)
         |SELECT t.vec_id, t.exact,
         |  CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, v.n_visited, n.n_tomb,
         |  d.rows_delta, d.fp_delta
         |FROM tpc t LEFT JOIN topes e ON t.vec_id = e.vec_id,
         |  nvc v, ntv n, ddc d
         |ORDER BY t.exact DESC, t.vec_id ASC""".stripMargin) { (s, dir) =>
      // GRAPH DELETE + COMPACTION — the q227 tombstone discipline for
      // the graph tier, completing its lifecycle (build → tune →
      // ingest → delete → serve): a deterministic doc set (vec_id%7=3)
      // is tombstoned in a ledger next to the persisted graph, then
      // compaction recomputes top-DEG edges ONLY for surviving sources
      // with a soft cell touched by a deletion (an untouched source's
      // candidate set is unchanged, and its neighbors are provably all
      // survivors — a tombstoned dst would have made the shared cell
      // touched). rows_delta/fp_delta prove the compacted graph is
      // row-identical to a fresh build over the survivors with the
      // same codebook; serving runs from the compacted files with the
      // exact referee over survivors only.
      val (e, root, srcbG) = graphIndex(s, dir)
      val (ivc, edges, hard) = graphFrames(s, e, root, srcbG)
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      // the soft-assignment frame feeds several consumers per call
      // (touched cells, recompute sources, both pair-join sides, hard
      // entries) — one eager checkpoint beats re-running the
      // rank+explode scan per consumer (Bench's inter-query cleanup
      // unpersists the blocks)
      val soft = pinned(s, softOf(e, centsRowOf(cb)))
      // ---- DELETE: tombstone ledger next to the graph artifact ----
      e.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$root/tombstones")
      val tomb = s.read.parquet(s"$root/tombstones")
      // ---- COMPACT: touched-cell recompute over survivors ----
      val softS = soft.join(tomb, Seq("vec_id"), "left_anti")
      val touched = soft.join(tomb, Seq("vec_id"))
        .select(col("acell")).distinct()
      val rsv = softS.join(broadcast(touched), Seq("acell"))
        .select(col("vec_id")).distinct()
      val edgesRec = topDeg(pairsOf(softS.join(rsv, Seq("vec_id")),
        softS))
      val tombSrc = tomb.withColumnRenamed("vec_id", "src")
      writeEdges(edges.join(tombSrc, Seq("src"), "left_anti")
        .join(rsv.withColumnRenamed("vec_id", "src"), Seq("src"),
          "left_anti")
        .unionByName(withSb(edgesRec, srcbG)), s"$root/edges_v2c")
      val edgesC = readEdges(s, s"$root/edges_v2c", srcbG)
      // ---- REFEREE: fresh build over the survivors, same codebook —
      // persisted (tombstone rule is a constant, so the survivor set
      // is deterministic in the corpus): steady-state runs time the
      // DELETE+COMPACT, not the proof
      val edgesFresh = persistedEdges(s, root, "edges_fresh",
        marker(e, s""","tomb":"mod7eq3","ref":"fresh""""), srcbG)(
        topDeg(pairsOf(softS, softS)))
      val dd = fpEdges(edgesC)
        .select(col("nr").as("nc"), col("fp").as("fc"))
        .crossJoin(broadcast(fpEdges(edgesFresh)
          .select(col("nr").as("nf"), col("fp").as("ff"))))
        .select((col("nc") - col("nf")).as("rows_delta"),
          (col("fc") - col("ff")).as("fp_delta"))
      val nTomb = tomb.agg(count(lit(1)).cast("bigint").as("n_tomb"))
      // ---- SERVE from the compacted graph, survivor entries only ----
      val hardS = hard.join(tomb, Seq("vec_id"), "left_anti")
      // the exact referee runs over survivors only
      val (qdot, topes) =
        query0Exact(ivc, _.join(tomb, Seq("vec_id"), "left_anti"))
      val visited =
        beamOver(s, e, cb, ivc, qdot, edgesC, hardS, BEAM, HOPS)
      val top = ivc.join(broadcast(visited), Seq("vec_id"))
        .select(col("vec_id"), qdot.as("exact"))
        .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      val nVisited = visited
        .agg(count(lit(1)).cast("bigint").as("n_visited"))
      top.join(broadcast(topes), Seq("vec_id"), "left")
        .crossJoin(broadcast(nVisited)).crossJoin(broadcast(nTomb))
        .crossJoin(broadcast(dd))
        .select(col("vec_id"), col("exact"), VecIndex.inExact,
          col("n_visited"), col("n_tomb"),
          col("rows_delta"), col("fp_delta"))
        .orderBy(col("exact").desc, col("vec_id").asc)
    },

    Q(
      "q239_batched_beam_curve",
      s"""WITH $graphPrefixSql,
         |$batchSpineSql,
         |${BEAMS.map(b => hopChainBatchSql(b, s"_bb$b")).mkString(",\n")},
         |${BEAMS.map { b =>
             s"""st$b AS (SELECT CAST($b AS INT) AS beam,
                |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v${HOPS}_bb$b)
                |    AS n_visited,
                |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                |     SELECT qid, vec_id FROM (
                |       SELECT v.qid, v.vec_id,
                |         ROW_NUMBER() OVER (PARTITION BY v.qid
                |           ORDER BY ${Pq.duckIntDot("i.iv", "q.qiv")}
                |             DESC, v.vec_id ASC) AS rn
                |       FROM v${HOPS}_bb$b v
                |       JOIN ivc i ON i.vec_id = v.vec_id
                |       JOIN qbb q ON q.qid = v.qid) WHERE rn <= 10) t
                |   JOIN topeb e ON t.qid = e.qid
                |     AND t.vec_id = e.vec_id) AS n_hit)"""
               .stripMargin
           }.mkString(",\n")}
         |${BEAMS.map(b => s"SELECT * FROM st$b").mkString(" UNION ALL ")}
         |ORDER BY beam ASC""".stripMargin) { (s, dir) =>
      // the q234 operating curve, batch-averaged (the q222 -> q226
      // lesson applied pre-emptively): every beam width serves the
      // SAME deterministic QB-query batch (q217 style, vec_id < QB)
      // through the shared persisted graph, with the whole batch
      // advancing per hop in the same jobs — windows PARTITIONED BY
      // qid — so the curve reads recall out of QB*10 referee slots
      // instead of 10, and batch throughput is the measured quantity.
      val (ivc, edges, hard) = graphArtifacts(s, dir)
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      def pin(df: DataFrame): DataFrame = {
        val cp = df.localCheckpoint(true)
        s.createDataFrame(cp.rdd, cp.schema)
      }
      // 8 rows, but broadcast-rebuilt per hop job across 3 widths —
      // pin once
      val qb = pin(ivc.filter(col("vec_id") < QB)
        .select(col("vec_id").as("qid"), col("ivd").as("qiv")))
      // entry points are width-independent and re-collected per
      // width's hop loop — pin once
      val entries = pin(entriesForBatch(e.filter(col("vec_id") < QB), cb,
        hard))
      // the per-query exact referee — ONE full scan windowed by qid,
      // shared by all three widths
      val wex = Window.partitionBy(col("qid"))
        .orderBy(col("ex").desc, col("vec_id").asc)
      val topeb = pin(ivc.crossJoin(broadcast(qb))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          expr("CAST(array_dot(ivd, qiv) AS BIGINT)").as("ex"))
        .withColumn("rn", row_number().over(wex))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id")))
      val wtop = Window.partitionBy(col("qid"))
        .orderBy(col("exact").desc, col("vec_id").asc)
      BEAMS.map { b =>
        val visited = beamFromBatch(s, ivc, edges, entries, qb, b, HOPS)
        val top = ivc.join(broadcast(visited), Seq("vec_id"))
          .join(broadcast(qb), Seq("qid"))
          .select(col("qid"), col("vec_id"),
            expr("CAST(array_dot(ivd, qiv) AS BIGINT)").as("exact"))
          .withColumn("rn", row_number().over(wtop))
          .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
        val nVisited = visited
          .agg(count(lit(1)).cast("bigint").as("n_visited"))
        val nHit = top.join(broadcast(topeb), Seq("qid", "vec_id"))
          .agg(count(lit(1)).cast("bigint").as("n_hit"))
        nVisited.crossJoin(broadcast(nHit))
          .select(lit(b).cast("int").as("beam"),
            col("n_visited"), col("n_hit"))
      }.reduce(_ union _).orderBy(col("beam").asc)
    },

    Q(
      "q240_stream_graph_search",
      s"""WITH $graphPrefixSql,
         |$batchSpineSql,
         |${hopChainBatchSql(BEAM, "_sb")},
         |scoredb AS MATERIALIZED (
         |  SELECT v.qid, v.vec_id,
         |    ${Pq.duckIntDot("i.iv", "q.qiv")} AS exact
         |  FROM v${HOPS}_sb v JOIN ivc i ON i.vec_id = v.vec_id
         |  JOIN qbb q ON q.qid = v.qid)
         |SELECT qid, CAST(krn AS BIGINT) AS rank, vec_id, exact
         |FROM (SELECT qid, vec_id, exact,
         |  ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY exact DESC, vec_id ASC) AS krn
         |  FROM scoredb) WHERE krn <= 10
         |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      // E7×E12: STREAMING graph serving — the q223 stream-static
      // discipline for the graph tier: the kNN graph is built once
      // batch-side (the persisted q233 artifacts), then a stream of
      // query vectors is served through it, each micro-batch running
      // the batched beam search (per-hop windows PARTITIONED BY qid)
      // against the static edges/hard frames. Per-query results are
      // independent, so the output is IDENTICAL however the source
      // splits into micro-batches — which is what lets a batch DuckDB
      // oracle hash-check a streaming query. The sink is batchId-keyed
      // with overwrite: a replayed batch replaces, never appends.
      val (ivc, edges, hard) = graphArtifacts(s, dir)
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
      val qStream = StreamOps.fileStream(s, dir, "embeddings")
        .filter(col("vec_id") < QB)
      val out = StreamOps.scratchDir(
        s"graft_streamgraph_${VecIndex.dirDigest(dir)}")
      StreamOps.foldBatches(s, qStream, out)(
        serveGraphBatch(ivc, edges, hard, cb, out))
      ArtifactStore.readParquet(s, s"$out/b*").orderBy(col("qid"), col("rank"))
    }
  )
}
