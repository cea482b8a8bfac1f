package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-11 stateful-maintenance shapes: dedup and statistics kept as
  * PERSISTED STATE that absorbs arrivals incrementally, never by
  * rescanning the corpus.
  *
  *  - q268 STREAMING DEDUP STORE: documents arrive in 4 deterministic
  *    waves (doc_id % 4, file-stream ordered), and every wave w ALSO
  *    redelivers the doc_id % 7 == w slice — the re-crawl duplicates a
  *    real ingest stream carries. Each micro-batch batch-dedups on the
  *    md5 fingerprint and anti-joins the persisted store, appending
  *    only first occurrences; dropped deliveries are the dedup work.
  *    The final store is hash-identical to the batch answer (winner =
  *    min (arrival wave, doc_id) per fingerprint), and re-applying a
  *    wave appends ZERO rows — the idempotence a crash-replaying
  *    ingest needs (Round11MoreSpec proves it by re-ingesting a wave).
  *  - q269 INCREMENTAL DATASET CARD: the q261-style per-source card
  *    (docs, tokens, distinct texts, exact token-length percentiles)
  *    maintained from persisted state — a (source, ntk) count histogram
  *    plus a distinct-fingerprint store — merged with a 20% delta
  *    (doc_id % 7 = 3) in O(delta + state). Exact percentiles come from
  *    the histogram's cumulative counts (token lengths are small
  *    integers, so the histogram IS the order statistic); the oracle is
  *    the full recompute, so hash equality proves merge == rebuild.
  *
  * Reference scope: PalNilsson/ask-duckdb keeps no state between
  * queries (query_llm.py:419-506); these shapes come from the 100 TB mandate —
  * at that scale every stats pass and dedup pass must be resumable and
  * incremental, because a full rescan costs days.
  */
object Round11More {

  private val M = 1000000007L
  private val WAVES = 4
  // delta slice: doc_id % 7 == 3 — co-prime with the corpus source
  // key (source = doc_id % 20), so every source has base AND delta
  private val DELTA_MOD = 7
  private val DELTA_RES = 3

  /** One ingest wave against the persisted dedup store: batch-local
    * dedup (min doc_id per fingerprint — ties impossible, doc_id is
    * unique), anti-join against the store, append survivors. Returns
    * the number of appended rows. Idempotent by construction: a
    * replayed wave's fingerprints are all in the store already, so the
    * anti-join drops everything. The delta is checkpointed so the
    * count and the append run the dedup + anti-join exactly once. At
    * 100 TB the store is bucketed by fingerprint so the anti-join is a
    * co-located hash probe, not a full-store shuffle.
    */
  private[ops] def ingestWave(
      s: SparkSession, storeDir: String, wave: DataFrame,
      waveId: Long): Long = {
    val batchWinners = wave
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("source"))).as("w"))
      .select(col("h"), col("w.doc_id").as("doc_id"),
        col("w.source").as("source"))
    val hasStore =
      ArtifactStore.listEntries(storeDir).exists(_.endsWith(".parquet"))
    val fresh =
      if (!hasStore) batchWinners
      else batchWinners.join(
        s.read.parquet(storeDir).select(col("h")), Seq("h"), "left_anti")
    val out = fresh.withColumn("wave", lit(waveId))
      .select(col("h"), col("doc_id"), col("source"), col("wave"))
      .localCheckpoint(true) // eager: one execution feeds count + write
    val n = out.count()
    if (n > 0) out.write.mode("append").parquet(storeDir)
    out.unpersist()
    n
  }

  /** Scratch name of q268's persisted store for `dir` (shared with the
    * spec's replay test).
    */
  private[ops] def dedupStoreName(dir: String): String =
    s"graft_dedupstore_${VecIndex.dirDigest(dir)}"

  /** The arrival model of the wave states (q268, q279, q288): wave w
    * delivers the doc_id % 4 == w slice plus the doc_id % 7 == w
    * re-crawl redelivery (UNION ALL: a doc whose two slices land in the
    * same wave is genuinely delivered twice in that wave — the
    * batch-local dedup absorbs it). Staged by
    * [[StreamOps.stagedSource]], wave w is micro-batch w.
    */
  private[ops] def arrivalWaves(docs: DataFrame): Seq[DataFrame] =
    (0 until WAVES).map { w =>
      docs.filter(col("doc_id") % WAVES === w)
        .unionByName(docs.filter(col("doc_id") % 7 === w))
    }

  /** A wave state: the fold of a documents stream for `dir`, persisted
    * under root `name` and built through `memo` — an
    * [[ArtifactStore.Memo]] entry keyed by `dir` whose signature is the
    * documents file listing and whose marker is `tag` plus that
    * signature, so an in-session rewrite of documents rebuilds and two
    * sessions never build one root at once. A build empties the root
    * (never the build lock it holds) and runs `fold(root)`; replay
    * idempotence, proven in the specs, makes reuse safe. Returns the
    * root.
    */
  private[ops] def waveState(memo: ArtifactStore.Memo[String, Unit],
      dir: String, name: String, tag: String)(
      fold: String => Unit): String = {
    val sig = VecIndex.tableFileSig(dir, "documents")
    memo(dir, sig)((ArtifactStore.root(name), s"$tag|$sig", ())) {
      (root, _) =>
        ArtifactStore.clearRoot(root)
        fold(root)
    }._1
  }

  // dir -> q268's persisted dedup store
  private[ops] val dedupMemo = new ArtifactStore.Memo[String, Unit]

  /** q268's wave-streamed ingest for `dir`: the persisted store path,
    * shared with the compaction gate (q274).
    */
  private[ops] def buildDedupStore(s: SparkSession, dir: String): String =
    waveState(dedupMemo, dir, dedupStoreName(dir), "dedupstore") { store =>
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val waves = StreamOps.stagedSource(s,
        s"graft_dedupwaves_${VecIndex.dirDigest(dir)}", arrivalWaves(docs))
      StreamOps.foldBatches(s, waves, store) { (batch, batchId) =>
        ingestWave(s, store, batch, batchId)
        ()
      }
    }

  val queries: Seq[Q] = Seq(
    // E6×E12: streaming exact-dedup ingest against a persisted
    // fingerprint store. Winner per fingerprint = first wave that saw
    // it, lowest doc_id inside that wave — i.e. min (doc_id % 4,
    // doc_id), which is exactly what the oracle recomputes from the
    // static corpus. The report attributes kept/dropped docs to the
    // WINNER's source and carries the kept-id sum as the witness that
    // the exact winning documents match, not just their counts.
    Q(
      "q268_stream_dedup_store",
      s"""WITH fp AS MATERIALIZED (
         |  SELECT doc_id, source, md5(text) AS h,
         |    CASE WHEN doc_id % 7 < $WAVES
         |      THEN LEAST(doc_id % $WAVES, doc_id % 7)
         |      ELSE doc_id % $WAVES END AS aw,
         |    CAST(1 + CASE WHEN doc_id % 7 < $WAVES THEN 1 ELSE 0 END
         |      AS BIGINT) AS ndel
         |  FROM documents),
         |win AS MATERIALIZED (
         |  SELECT h, MIN(aw * 100000000000 + doc_id) AS wk
         |  FROM fp GROUP BY h),
         |winner AS MATERIALIZED (
         |  SELECT f.source, f.doc_id
         |  FROM fp f JOIN win w
         |    ON f.h = w.h AND f.aw * 100000000000 + f.doc_id = w.wk),
         |nsrc AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(ndel) AS BIGINT) AS n_deliveries
         |  FROM fp GROUP BY source),
         |ksrc AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    CAST(SUM(doc_id) % $M AS BIGINT) AS kept_id_sum
         |  FROM winner GROUP BY source)
         |SELECT n.source, n.n_docs, n.n_deliveries,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(n.n_deliveries - COALESCE(k.n_kept, 0) AS BIGINT)
         |    AS n_dropped,
         |  CAST(COALESCE(k.kept_id_sum, 0) AS BIGINT) AS kept_id_sum
         |FROM nsrc n LEFT JOIN ksrc k ON k.source = n.source
         |ORDER BY n.source""".stripMargin) { (s, dir) =>
      val winners = s.read.parquet(buildDedupStore(s, dir))
      val nsrc = Tables.table(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(lit(1L) + when(col("doc_id") % 7 < WAVES, 1L)
            .otherwise(0L)).cast("bigint").as("n_deliveries"))
      val ksrc = winners.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          (sum(col("doc_id")) % M).cast("bigint").as("kept_id_sum"))
      nsrc.join(ksrc, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_deliveries"),
          coalesce(col("n_kept"), lit(0L)).cast("bigint").as("n_kept"),
          (col("n_deliveries") - coalesce(col("n_kept"), lit(0L)))
            .cast("bigint").as("n_dropped"),
          coalesce(col("kept_id_sum"), lit(0L)).cast("bigint")
            .as("kept_id_sum"))
        .orderBy(col("source"))
    },

    // Operability: the dataset card maintained incrementally. Base =
    // 80% of the corpus (doc_id % 7 != 3) builds the persisted state;
    // the 20% delta merges in O(delta + state): the histogram is
    // additive, the fingerprint store absorbs only fingerprints it has
    // not seen (per source — n_uniq is per-source distinct). The card
    // is then derived ENTIRELY from state: exact percentiles read off
    // the histogram's running counts. Hash equality with the oracle's
    // full recompute proves merge == rebuild.
    Q(
      "q269_incremental_dataset_card",
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntk,
         |    md5(text) AS h
         |  FROM documents),
         |base AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN doc_id % $DELTA_MOD = $DELTA_RES
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    CAST(SUM(ntk) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_uniq
         |  FROM d GROUP BY source),
         |rk AS (
         |  SELECT source, ntk, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY ntk) AS rn
         |  FROM d),
         |pct AS (
         |  SELECT r.source,
         |    CAST(MAX(CASE WHEN r.rn = (b.n_docs + 1) // 2
         |      THEN r.ntk END) AS BIGINT) AS p50_ntk,
         |    CAST(MAX(CASE WHEN r.rn = (9 * b.n_docs + 9) // 10
         |      THEN r.ntk END) AS BIGINT) AS p90_ntk
         |  FROM rk r JOIN base b ON b.source = r.source
         |  GROUP BY r.source)
         |SELECT b.source, b.n_docs, b.n_delta, b.n_tokens, b.n_uniq,
         |  p.p50_ntk, p.p90_ntk
         |FROM base b JOIN pct p ON p.source = b.source
         |ORDER BY b.source""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("ntk"),
          md5(col("text")).as("h"))
      val histDir = StreamOps.scratchDir(
        s"graft_cardhist_${VecIndex.dirDigest(dir)}")
      val fpsDir = StreamOps.scratchDir(
        s"graft_cardfps_${VecIndex.dirDigest(dir)}")
      val base = d.filter(col("doc_id") % DELTA_MOD =!= DELTA_RES)
      val delta = d.filter(col("doc_id") % DELTA_MOD === DELTA_RES)
      // historical build (runs once; merges below never rescan base)
      base.groupBy(col("source"), col("ntk"))
        .agg(count(lit(1)).cast("bigint").as("cnt"))
        .withColumn("gen", lit(0L))
        .write.mode("overwrite").parquet(histDir)
      base.select(col("source"), col("h")).distinct()
        .write.mode("overwrite").parquet(fpsDir)
      // the O(delta + state) merge
      delta.groupBy(col("source"), col("ntk"))
        .agg(count(lit(1)).cast("bigint").as("cnt"))
        .withColumn("gen", lit(1L))
        .write.mode("append").parquet(histDir)
      // the anti-join result is eagerly PINNED before the append: the
      // sink is also the join's build side, and while Spark's eager
      // file listing happens to make the self-referential append work,
      // only the overwrite case is actually guarded — a replan/retry
      // could re-list the directory mid-write (ingestWave's discipline).
      val newFps = delta.select(col("source"), col("h")).distinct()
        .join(s.read.parquet(fpsDir), Seq("source", "h"), "left_anti")
        .localCheckpoint(true)
      newFps.write.mode("append").parquet(fpsDir)
      // card: derived from STATE only
      val hist = s.read.parquet(histDir)
        .groupBy(col("source"), col("ntk"))
        .agg(sum(col("cnt")).cast("bigint").as("cnt"),
          sum(when(col("gen") === 1L, col("cnt")).otherwise(0L))
            .cast("bigint").as("dcnt"))
      val tots = hist.groupBy(col("source"))
        .agg(sum(col("cnt")).cast("bigint").as("n_docs"),
          sum(col("dcnt")).cast("bigint").as("n_delta"),
          sum(col("ntk") * col("cnt")).cast("bigint").as("n_tokens"))
      val uniq = s.read.parquet(fpsDir).groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_uniq"))
      val wcum = Window.partitionBy(col("source")).orderBy(col("ntk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
        .join(broadcast(tots.select(col("source"), col("n_docs"))),
          Seq("source"))
      val pct = cum.groupBy(col("source"))
        .agg(
          min(when(col("cum") >= expr("(n_docs + 1) div 2"),
            col("ntk"))).cast("bigint").as("p50_ntk"),
          min(when(col("cum") >= expr("(9 * n_docs + 9) div 10"),
            col("ntk"))).cast("bigint").as("p90_ntk"))
      tots.join(broadcast(uniq), Seq("source"))
        .join(broadcast(pct), Seq("source"))
        .select(col("source"), col("n_docs"), col("n_delta"),
          col("n_tokens"), col("n_uniq"), col("p50_ntk"), col("p90_ntk"))
        .orderBy(col("source"))
    })
}
