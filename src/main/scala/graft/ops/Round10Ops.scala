package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 production shapes: the evaluation, serving-efficiency and
  * governance operators a training-data platform runs AROUND the
  * pipeline the earlier rounds built.
  *
  *  - q251 RETRIEVAL EVAL HARNESS: rank-sensitive quality metrics
  *    (MRR, hits@10) for the IVF serve path against exact ground
  *    truth, per query and corpus-averaged. Recall curves (q222/q226)
  *    say how many candidates a mode touches; MRR says whether the
  *    answer the user sees FIRST is right — the number an index
  *    rollout is actually gated on.
  *  - q252 LENGTH-BUCKETED BATCHING: padding efficiency of fixed-size
  *    inference batches under arrival order vs length-sorted order —
  *    the standard pre-inference micro-batch shaping pass. Pure
  *    window + aggregation; at 100 TB the sort is a range partition
  *    by token count, not a global single-partition window.
  *  - q253 K-ANONYMITY GENERALIZATION LADDER: release event-count
  *    aggregates only where >= K distinct users support the group;
  *    failing groups generalize one level up (hour -> day) and
  *    re-test; still-failing groups are suppressed into one audited
  *    remainder row. Counting + conditional regrouping only — the
  *    privacy gate every telemetry export runs.
  *
  * Reference scope: PalNilsson/ask-duckdb has no eval, batching or
  * privacy surface (README.md:1-65 — an NL->SQL bridge); this family
  * belongs to the 100 TB training-data mandate.
  */
object Round10Ops {

  private val ITERS = 2 // coarse Lloyd iterations (the q74 serving law)
  private val KANON = 5 // k-anonymity threshold
  private val BATCH = 32 // inference batch size (docs per batch)

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), " +
      s"i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  val queries: Seq[Q] = Seq(
    // E7/eval: rank-sensitive retrieval metrics over the IVF serve.
    // Query set = every 125th vector (corpus-proportional). System =
    // trained-codebook IVF, 2 probed cells per query, exact rank inside
    // the probed lists. Truth = exact top-10 over the whole corpus
    // (the in-band referee every eval needs once per rollout). Metrics:
    // nn_rank = where the TRUE nearest neighbor lands in the system's
    // top-10 (0 = missed), rr6 = floor(1e6/nn_rank), hits10 = overlap
    // with the exact top-10; mrr6/mhits6 are the corpus means every
    // index rollout is gated on. All ranking keys are fixed-point
    // BIGINT (floor(dot*1e6+0.5)) with vec_id tiebreak — deterministic
    // in both engines.
    Q(
      "q251_retrieval_metrics",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, ITERS)},
         |qs AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 125 = 0),
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$ITERS c),
         |lists AS MATERIALIZED (
         |  SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
         |probes AS MATERIALIZED (
         |  SELECT q.qid, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.qid
         |      ORDER BY ${KMeans.duckDot("q.qe", "c.cs")} DESC,
         |        c.cid ASC) AS prn
         |  FROM qs q, cl$ITERS c),
         |sys AS MATERIALIZED (
         |  SELECT qid, vec_id, rnk FROM (
         |    SELECT q.qid, l.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        CAST(FLOOR(${duckDot("l.embedding", "q.qe")}
         |          * 1000000 + 0.5) AS BIGINT) DESC, l.vec_id ASC) AS rnk
         |    FROM qs q
         |    JOIN probes p ON p.qid = q.qid AND p.prn <= 2
         |    JOIN lists l ON l.cid = p.cid
         |    WHERE l.vec_id <> q.qid)
         |  WHERE rnk <= 10),
         |tru AS MATERIALIZED (
         |  SELECT qid, vec_id, trn FROM (
         |    SELECT q.qid, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        CAST(FLOOR(${duckDot("e.embedding", "q.qe")}
         |          * 1000000 + 0.5) AS BIGINT) DESC, e.vec_id ASC) AS trn
         |    FROM qs q JOIN embeddings e ON e.vec_id <> q.qid)
         |  WHERE trn <= 10),
         |perq AS MATERIALIZED (
         |  SELECT q.qid,
         |    CAST(COALESCE(MAX(CASE WHEN t.trn = 1 THEN s.rnk END), 0)
         |      AS BIGINT) AS nn_rank,
         |    CAST(COUNT(t.vec_id) AS BIGINT) AS hits10
         |  FROM qs q
         |  LEFT JOIN sys s ON s.qid = q.qid
         |  LEFT JOIN tru t ON t.qid = s.qid AND t.vec_id = s.vec_id
         |  GROUP BY q.qid),
         |perq2 AS (
         |  SELECT qid, nn_rank, hits10,
         |    CASE WHEN nn_rank = 0 THEN 0
         |      ELSE 1000000 // nn_rank END AS rr6
         |  FROM perq),
         |tot AS (
         |  SELECT CAST(FLOOR(CAST(SUM(rr6) AS DOUBLE) / COUNT(*))
         |      AS BIGINT) AS mrr6,
         |    CAST(FLOOR(CAST(SUM(hits10) AS DOUBLE) * 100000 / COUNT(*))
         |      AS BIGINT) AS mhits6
         |  FROM perq2)
         |SELECT p.qid, p.nn_rank, CAST(p.rr6 AS BIGINT) AS rr6,
         |  p.hits10, t.mrr6, t.mhits6
         |FROM perq2 p, tot t
         |ORDER BY p.qid""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), ITERS)
      val lists = KMeans.assign(e, cb)
      val qs = e.filter(col("vec_id") % 125 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // per-query probe selection: |Q| x k rows under the broadcast
      // codebook — a window over tiny per-qid partitions
      val pw = Window.partitionBy(col("qid"))
        .orderBy(col("cdot").desc, col("cid").asc)
      val probes = qs.crossJoin(broadcast(cb))
        .withColumn("cdot", expr(KMeans.dotFold("qe", "cs")))
        .withColumn("prn", row_number().over(pw))
        .filter(col("prn") <= 2)
        .select(col("qid"), col("cid"))
      val d6 = (emb: String) => expr(
        s"CAST(FLOOR(array_dot($emb, qe) * 1000000 + 0.5) AS BIGINT)")
      val rw = Window.partitionBy(col("qid"))
        .orderBy(col("d6").desc, col("vec_id").asc)
      // system ranking: probed lists only (2/k of the corpus per query)
      val sys = lists.join(broadcast(probes), Seq("cid"))
        .join(broadcast(qs), Seq("qid"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("d6", d6("embedding"))
        .withColumn("rnk", row_number().over(rw))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("vec_id"), col("rnk"))
      // exact referee: full corpus per query, in-band by design
      val tru = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("d6", d6("embedding"))
        .withColumn("trn", row_number().over(rw))
        .filter(col("trn") <= 10)
        .select(col("qid"), col("vec_id"), col("trn"))
      val perq = qs.select(col("qid"))
        .join(sys, Seq("qid"), "left")
        .join(tru, Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(
          coalesce(max(when(col("trn") === 1, col("rnk"))), lit(0L))
            .cast("bigint").as("nn_rank"),
          count(col("trn")).cast("bigint").as("hits10"))
        .withColumn("rr6",
          when(col("nn_rank") === 0, lit(0L))
            .otherwise(expr("1000000 div nn_rank")).cast("bigint"))
      val tot = perq.agg(
        floor(sum(col("rr6")).cast("double") / count(lit(1)))
          .cast("bigint").as("mrr6"),
        floor(sum(col("hits10")).cast("double") * 100000 / count(lit(1)))
          .cast("bigint").as("mhits6"))
      perq.crossJoin(broadcast(tot))
        .select(col("qid"), col("nn_rank"), col("rr6"), col("hits10"),
          col("mrr6"), col("mhits6"))
        .orderBy(col("qid"))
    },

    // Pipeline/serving: padding waste of fixed-size inference batches.
    // Batching is PER SOURCE SHARD (each data-loader reader owns a
    // shard — the window is keyed on source, never a global sort) with
    // two strategies inside each shard: 'arrival' (doc_id order — what
    // a naive reader does) and 'sorted' (token-length order — the
    // standard bucketing pass). Batch width = max token count in the
    // batch; every shorter doc pads to it; fill6 is the useful-token
    // fraction in fixed point. The aggregate rows (batch = -1 per
    // strategy) carry the corpus-level padding totals — the measured
    // argument for length bucketing before GPU inference.
    Q(
      "q252_length_bucket_batching",
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntk
         |  FROM documents),
         |arrival AS (
         |  SELECT 'arrival' AS strategy, source,
         |    (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1)
         |      // $BATCH AS batch,
         |    doc_id, ntk
         |  FROM toks),
         |srt AS (
         |  SELECT 'sorted' AS strategy, source,
         |    (ROW_NUMBER() OVER (PARTITION BY source ORDER BY ntk, doc_id)
         |      - 1) // $BATCH AS batch,
         |    doc_id, ntk
         |  FROM toks),
         |both_s AS (SELECT * FROM arrival UNION ALL SELECT * FROM srt),
         |per_batch AS (
         |  SELECT strategy, source, CAST(batch AS BIGINT) AS batch,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(MAX(ntk) AS BIGINT) AS width,
         |    CAST(MAX(ntk) * COUNT(*) - SUM(ntk) AS BIGINT) AS pad_tokens,
         |    CAST(FLOOR(CAST(SUM(ntk) AS DOUBLE) * 1000000
         |      / (MAX(ntk) * COUNT(*))) AS BIGINT) AS fill6
         |  FROM both_s
         |  GROUP BY strategy, source, batch),
         |tot AS (
         |  SELECT strategy, '*' AS source, CAST(-1 AS BIGINT) AS batch,
         |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |    CAST(MAX(width) AS BIGINT) AS width,
         |    CAST(SUM(pad_tokens) AS BIGINT) AS pad_tokens,
         |    CAST(FLOOR(CAST(SUM(width * n_docs - pad_tokens) AS DOUBLE)
         |      * 1000000 / SUM(width * n_docs)) AS BIGINT) AS fill6
         |  FROM per_batch GROUP BY strategy)
         |SELECT * FROM per_batch
         |UNION ALL SELECT * FROM tot
         |ORDER BY strategy, source, batch""".stripMargin) { (s, dir) =>
      val toks = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("ntk"))
      def strat(name: String, ord: Seq[org.apache.spark.sql.Column]) =
        toks.withColumn("rn0",
            (row_number().over(Window.partitionBy(col("source"))
              .orderBy(ord: _*)) - 1).cast("bigint"))
          .withColumn("batch", expr(s"rn0 div $BATCH")).drop("rn0")
          .withColumn("strategy", lit(name))
      val arrival = strat("arrival", Seq(col("doc_id")))
      val sorted = strat("sorted", Seq(col("ntk"), col("doc_id")))
      val perBatch = arrival.unionByName(sorted)
        .groupBy(col("strategy"), col("source"), col("batch"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          max(col("ntk")).cast("bigint").as("width"),
          (max(col("ntk")) * count(lit(1)) - sum(col("ntk")))
            .cast("bigint").as("pad_tokens"),
          floor(sum(col("ntk")).cast("double") * 1000000
            / (max(col("ntk")) * count(lit(1)))).cast("bigint").as("fill6"))
      val tot = perBatch.groupBy(col("strategy"))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
          max(col("width")).cast("bigint").as("width"),
          sum(col("pad_tokens")).cast("bigint").as("pad_tokens"),
          floor(sum(col("width") * col("n_docs") - col("pad_tokens"))
            .cast("double") * 1000000
            / sum(col("width") * col("n_docs"))).cast("bigint").as("fill6"))
        .withColumn("source", lit("*"))
        .withColumn("batch", lit(-1L))
      val cols = Seq("strategy", "source", "batch", "n_docs", "width",
        "pad_tokens", "fill6").map(col)
      perBatch.select(cols: _*).unionByName(tot.select(cols: _*))
        .orderBy(col("strategy"), col("source"), col("batch"))
    },

    // Governance: k-anonymity with a generalization ladder. Level 0
    // releases (event_type, day, hour) groups supported by >= K
    // distinct users; events of failing groups regroup at
    // (event_type, day) and re-test; the remainder is suppressed into
    // a single audited row (level 2) so released + suppressed always
    // accounts for every event. hr = -1 marks generalized levels.
    Q(
      "q253_k_anonymity",
      s"""WITH g0 AS MATERIALIZED (
         |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |    CAST(hour(ts) AS BIGINT) AS hr,
         |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2, 3),
         |rel0 AS (SELECT * FROM g0 WHERE n_users >= $KANON),
         |fail0 AS MATERIALIZED (
         |  SELECT e.event_type, strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
         |    e.user_id
         |  FROM events e
         |  JOIN g0 ON g0.event_type = e.event_type
         |    AND g0.day = strftime(date_trunc('day', e.ts), '%Y-%m-%d')
         |    AND g0.hr = CAST(hour(e.ts) AS BIGINT)
         |  WHERE g0.n_users < $KANON),
         |g1 AS MATERIALIZED (
         |  SELECT event_type, day,
         |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM fail0 GROUP BY 1, 2),
         |rel1 AS (SELECT * FROM g1 WHERE n_users >= $KANON),
         |supp AS (
         |  SELECT f.event_type, f.day, f.user_id
         |  FROM fail0 f JOIN g1 ON g1.event_type = f.event_type
         |    AND g1.day = f.day
         |  WHERE g1.n_users < $KANON)
         |SELECT CAST(0 AS BIGINT) AS level, event_type, day, hr,
         |  n_users, n_events FROM rel0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), event_type, day, CAST(-1 AS BIGINT),
         |  n_users, n_events FROM rel1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), '*', '*', CAST(-1 AS BIGINT),
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT),
         |  CAST(COUNT(*) AS BIGINT) FROM supp
         |ORDER BY level, event_type, day, hr""".stripMargin) { (s, dir) =>
      val ev = Tables.table(s, dir, "events")
        .select(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          hour(col("ts")).cast("bigint").as("hr"),
          col("user_id"))
      val g0 = ev.groupBy(col("event_type"), col("day"), col("hr"))
        .agg(countDistinct(col("user_id")).cast("bigint").as("n_users"),
          count(lit(1)).cast("bigint").as("n_events"))
      val rel0 = g0.filter(col("n_users") >= KANON)
        .withColumn("level", lit(0L))
      // events of failing groups, re-keyed one level up. The failing
      // group list is small (it is the sparse tail) — broadcast it.
      val fail0 = ev.join(
        broadcast(g0.filter(col("n_users") < KANON)
          .select(col("event_type"), col("day"), col("hr"))),
        Seq("event_type", "day", "hr"))
      val g1 = fail0.groupBy(col("event_type"), col("day"))
        .agg(countDistinct(col("user_id")).cast("bigint").as("n_users"),
          count(lit(1)).cast("bigint").as("n_events"))
      val rel1 = g1.filter(col("n_users") >= KANON)
        .withColumn("level", lit(1L)).withColumn("hr", lit(-1L))
      val supp = fail0.join(
          broadcast(g1.filter(col("n_users") < KANON)
            .select(col("event_type"), col("day"))),
          Seq("event_type", "day"))
        .agg(countDistinct(col("user_id")).cast("bigint").as("n_users"),
          count(lit(1)).cast("bigint").as("n_events"))
        .withColumn("level", lit(2L))
        .withColumn("event_type", lit("*"))
        .withColumn("day", lit("*"))
        .withColumn("hr", lit(-1L))
      val cols = Seq("level", "event_type", "day", "hr", "n_users",
        "n_events").map(col)
      rel0.select(cols: _*)
        .unionByName(rel1.select(cols: _*))
        .unionByName(supp.select(cols: _*))
        .orderBy(col("level"), col("event_type"), col("day"), col("hr"))
    })
}
