package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 run-operations pair: the planner that rebalances shard
  * token loads before a training run, and the embedding-QC pass that
  * flags vectors drifting from their own cluster.
  *
  *  - q281 SHARD REBALANCE PLAN: per-shard token totals vs exact
  *    largest-remainder targets; the minimal transfer plan comes from
  *    matching donor and receiver CUMSUM INTERVALS (two O(shards)
  *    windows + one interval-overlap join on a 32-row frame) — the
  *    standard line-balancing construction, never a doc-level shuffle.
  *  - q282 EMBEDDING OUTLIER QC: members sitting further than a fixed
  *    margin below their own cell's mean self-similarity — the
  *    data-quality cut an embedding pipeline runs before indexing.
  *    Integer fixed-point throughout; report driven from the codebook
  *    cid spine (empty cells report 0, q271's totality discipline).
  *
  * Reference scope: PalNilsson/ask-duckdb has no notion of shards,
  * embeddings, or plans (query_llm.py:419-506); 100 TB training-data mandate.
  */
object Round12Final {

  private val NSHARD = 32L
  private[ops] val QC_FRAC = 25000L // 0.025 cosine below the cell mean

  val queries: Seq[Q] = Seq(
    // Pipeline/layout: the shard rebalance PLAN. Targets are exact
    // integers (largest remainder by shard id: tot div 32 + 1 for the
    // first tot%32 shards, summing to tot exactly). Donors and
    // receivers each get a running cumsum of their surplus/deficit;
    // a transfer (d -> r) exists exactly where the two cumsum
    // intervals overlap, moving the overlap length — the construction
    // that provably conserves tokens (sum moved == total surplus, the
    // spec asserts it) and emits at most donors + receivers - 1 moves.
    // Scale shape: ONE keyed aggregation reduces the corpus to 32
    // rows; everything after runs on the O(shards) frame (deliberately
    // tiny windows — shards, not docs). At 100 TB the plan is the
    // cheap part; the moves it prescribes are the expensive part some
    // scheduler executes.
    Q(
      "q281_shard_rebalance_plan",
      s"""WITH sh AS (
         |  SELECT doc_id % $NSHARD AS shard,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS t FROM sh),
         |tgt AS (
         |  SELECT shard, toks,
         |    t // $NSHARD + CASE WHEN shard < t % $NSHARD THEN 1
         |      ELSE 0 END AS target
         |  FROM sh, tot),
         |don AS (
         |  SELECT shard, toks - target AS s,
         |    CAST(SUM(toks - target) OVER (ORDER BY shard
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
         |  FROM tgt WHERE toks > target),
         |rcv AS (
         |  SELECT shard, target - toks AS s,
         |    CAST(SUM(target - toks) OVER (ORDER BY shard
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
         |  FROM tgt WHERE toks < target)
         |SELECT d.shard AS donor, r.shard AS receiver,
         |  CAST(LEAST(d.hi, r.hi) - GREATEST(d.hi - d.s, r.hi - r.s)
         |    AS BIGINT) AS toks_moved
         |FROM don d JOIN rcv r
         |  ON d.hi - d.s < r.hi AND r.hi - r.s < d.hi
         |ORDER BY donor, receiver""".stripMargin) { (s, dir) =>
      val sh = Tables.table(s, dir, "documents")
        .groupBy((col("doc_id") % NSHARD).as("shard"))
        .agg(sum(size(split(col("text"), " "))).cast("bigint")
          .as("toks"))
      val tot = sh.agg(sum(col("toks")).cast("bigint").as("t"))
      val tgt = sh.crossJoin(broadcast(tot))
        .withColumn("target",
          expr(s"t div $NSHARD") +
            when(col("shard") < col("t") % NSHARD, 1L).otherwise(0L))
      // O(shards) cumsum windows — 32 rows by construction
      val wrun = Window.orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val don = tgt.filter(col("toks") > col("target"))
        .withColumn("s", col("toks") - col("target"))
        .withColumn("hi", sum(col("s")).over(wrun).cast("bigint"))
        .select(col("shard").as("donor"), col("s").as("ds"),
          col("hi").as("dhi"))
      val rcv = tgt.filter(col("toks") < col("target"))
        .withColumn("s", col("target") - col("toks"))
        .withColumn("hi", sum(col("s")).over(wrun).cast("bigint"))
        .select(col("shard").as("receiver"), col("s").as("rs"),
          col("hi").as("rhi"))
      don.join(broadcast(rcv),
          col("dhi") - col("ds") < col("rhi") &&
            col("rhi") - col("rs") < col("dhi"))
        .select(col("donor"), col("receiver"),
          (least(col("dhi"), col("rhi")) -
            greatest(col("dhi") - col("ds"), col("rhi") - col("rs")))
            .cast("bigint").as("toks_moved"))
        .orderBy(col("donor"), col("receiver"))
    },

    // E7/QC: embedding outlier detection. sim6 = the member's own-
    // centroid dot (1e6 fixed-point, q271's mem stage); a member is an
    // outlier when sim6 < cell mean - QC_FRAC. mu6 is an integer
    // division of exact integer sums, so both engines agree to the
    // digit; the outlier-id sum is the witness that the exact flagged
    // vectors match, not just their count. Report rows come from the
    // codebook spine LEFT JOIN the member stats (an empty cell still
    // reports n=0 — it cannot hide).
    Q(
      "q282_embedding_outlier_qc",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, VecIndex.CITERS)},
         |asg AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid, c.cs,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl${VecIndex.CITERS} c),
         |mem AS MATERIALIZED (
         |  SELECT vec_id, cid,
         |    CAST(FLOOR(${KMeans.duckDot("embedding", "cs")}) AS BIGINT)
         |      AS sim6
         |  FROM asg WHERE rn = 1),
         |stats AS (
         |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(sim6) // COUNT(*) AS BIGINT) AS mu6
         |  FROM mem GROUP BY cid),
         |outl AS (
         |  SELECT m.cid,
         |    CAST(COUNT(*) AS BIGINT) AS n_out,
         |    CAST(SUM(m.vec_id) AS BIGINT) AS out_id_sum
         |  FROM mem m JOIN stats s ON s.cid = m.cid
         |  WHERE m.sim6 < s.mu6 - $QC_FRAC
         |  GROUP BY m.cid)
         |SELECT c.cid, CAST(COALESCE(s.n, 0) AS BIGINT) AS n,
         |  CAST(COALESCE(s.mu6, 0) AS BIGINT) AS mu6,
         |  CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_out,
         |  CAST(COALESCE(o.out_id_sum, 0) AS BIGINT) AS out_id_sum
         |FROM (SELECT DISTINCT cid FROM cl${VecIndex.CITERS}) c
         |LEFT JOIN stats s ON s.cid = c.cid
         |LEFT JOIN outl o ON o.cid = c.cid
         |ORDER BY c.cid""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), VecIndex.CITERS)
      val mem = KMeans.assign(e, cb)
        .join(broadcast(cb), "cid")
        .select(col("vec_id"), col("cid"),
          floor(expr(KMeans.dotFold("embedding", "cs")))
            .cast("bigint").as("sim6"))
      val stats = mem.groupBy(col("cid"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          expr("SUM(sim6) div COUNT(*)").cast("bigint").as("mu6"))
      val outl = mem.join(broadcast(stats), "cid")
        .filter(col("sim6") < col("mu6") - QC_FRAC)
        .groupBy(col("cid"))
        .agg(count(lit(1)).cast("bigint").as("n_out"),
          sum(col("vec_id")).cast("bigint").as("out_id_sum"))
      cb.select(col("cid")).distinct()
        .join(broadcast(stats), Seq("cid"), "left")
        .join(broadcast(outl), Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n"), lit(0L)).cast("bigint").as("n"),
          coalesce(col("mu6"), lit(0L)).cast("bigint").as("mu6"),
          coalesce(col("n_out"), lit(0L)).cast("bigint").as("n_out"),
          coalesce(col("out_id_sum"), lit(0L)).cast("bigint")
            .as("out_id_sum"))
        .orderBy(col("cid"))
    })
}
