package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-lake maintenance operators: MERGE/upsert semantics expressed as a
  * full-outer join (the engine-neutral form of `MERGE INTO`), snapshot
  * diffing (the CDC primitive between two table versions), and the
  * positional-generator surface (posexplode). These are the table-
  * maintenance passes that keep a 100 TB corpus updatable without
  * rewriting it wholesale.
  */
object LakeOps {

  /** Morton (Z-order) interleave of two 8-bit keys, written with only
    * `%` / comparison / addition so the same text is valid Spark SQL and
    * DuckDB SQL (no dialect-specific bit operators).
    */
  private def mortonSql(x: String, y: String): String =
    (0 until 8).map { i =>
      val lo = 1L << i; val hi = 1L << (i + 1)
      val bx = 1L << (2 * i); val by = 1L << (2 * i + 1)
      s"(CASE WHEN $x % $hi >= $lo THEN $bx ELSE 0 END + " +
        s"CASE WHEN $y % $hi >= $lo THEN $by ELSE 0 END)"
    }.mkString(" + ")

  // ------------------------------------------------------------------
  // q198: optimistic commit protocol over the MERGE dataflow
  // ------------------------------------------------------------------

  /** Coordinator state: the table version plus the committed-batch log —
    * exactly q123's foreachBatch idempotence ledger, generalized to
    * optimistic concurrency (Delta/Iceberg-style): a writer declares the
    * snapshot version it read; the commit succeeds only if that is still
    * current, a replayed batch_id is a no-op, and everything else is a
    * conflict the writer must retry against the new snapshot.
    */
  private final case class TxnState(version: Long, committed: Set[String])

  private def attemptCommit(
      st: TxnState, batchId: String, expectedVersion: Long
  ): (TxnState, String) =
    if (st.committed(batchId)) (st, "skipped_idempotent")
    else if (expectedVersion != st.version) (st, "conflict_detected")
    else (TxnState(st.version + 1, st.committed + batchId), "committed")

  /** MERGE: target ∪ source, source-wins on the key (q135's full-outer
    * shape — at 100 TB the target is bucketed on k so only the small
    * source shuffles).
    */
  private[ops] def merge(t: DataFrame, src: DataFrame): DataFrame =
    t.select(col("k").as("tk"), col("v").as("tv"))
      .join(src.select(col("k").as("sk"), col("v").as("sv")),
        col("tk") === col("sk"), "full_outer")
      .select(coalesce(col("sk"), col("tk")).as("k"),
        coalesce(col("sv"), col("tv")).as("v"))

  /** Order-independent table fingerprint: SUM over rows of an integer
    * fold of md5("k|v") mod 1e9+7 — partial-aggregatable (no sort, no
    * string_agg), so two 100 TB table states compare with one scan each.
    * The oracle side; Spark evaluates it with the `char_fold` kernel.
    */
  private[ops] def duckRowFold: String =
    Pq.duckFold("CAST(k AS VARCHAR) || '|' || " +
      "CAST(CAST(v AS DECIMAL(18,2)) AS VARCHAR)")

  /** One protocol-event row carrying the post-event table state summary. */
  private def snap(
      step: Long, batchId: String, event: String, version: Long,
      state: DataFrame): DataFrame =
    state.agg(count(lit(1)).as("n_rows"),
      (sum(graft.functions.TextHash.charFold(md5(concat(
        col("k").cast("string"), lit("|"),
        col("v").cast("decimal(18,2)").cast("string"))), 0L, 31L))
        % 1000000007L).as("table_fp"))
      .select(lit(step).as("step"), lit(batchId).as("batch_id"),
        lit(event).as("event"), lit(version).as("version"),
        col("n_rows"), col("table_fp"))

  val queries: Seq[Q] = Seq(
    // MERGE/upsert: target ∪ source with source-wins conflict resolution,
    // expressed as one full-outer join on the key — the shape MERGE INTO
    // compiles to on any engine. At 100 TB the target is bucketed on the
    // key so only the (small) source shuffles; matched/inserted/unchanged
    // row classes come out of the same join, no second pass. Money sums go
    // through DECIMAL so partial-agg order can't perturb the total.
    Q(
      "q135_upsert_merge",
      """WITH t AS (
        |  SELECT c_custkey AS k, c_acctbal AS v
        |  FROM customer WHERE c_custkey <= 1400),
        |s AS (
        |  SELECT c_custkey AS k, ROUND(c_acctbal + 100, 2) AS v
        |  FROM customer WHERE c_custkey > 1300),
        |m AS (
        |  SELECT COALESCE(s.k, t.k) AS k, COALESCE(s.v, t.v) AS v,
        |    CASE WHEN s.k IS NOT NULL AND t.k IS NOT NULL THEN 'updated'
        |         WHEN s.k IS NOT NULL THEN 'inserted'
        |         ELSE 'unchanged' END AS action
        |  FROM t FULL OUTER JOIN s ON t.k = s.k)
        |SELECT action, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total_v
        |FROM m GROUP BY action
        |ORDER BY action""".stripMargin) { (s, dir) =>
      val cust = Tables.table(s, dir, "customer")
      val t = cust.filter(col("c_custkey") <= 1400)
        .select(col("c_custkey").as("tk"), col("c_acctbal").as("tv"))
      val src = cust.filter(col("c_custkey") > 1300)
        .select(col("c_custkey").as("sk"),
          round(col("c_acctbal") + 100, 2).as("sv"))
      t.join(src, col("tk") === col("sk"), "full_outer")
        .select(
          coalesce(col("sv"), col("tv")).as("v"),
          when(col("sk").isNotNull && col("tk").isNotNull, "updated")
            .when(col("sk").isNotNull, "inserted")
            .otherwise("unchanged").as("action"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"))
        .orderBy(col("action"))
    },

    // Snapshot diff: the CDC primitive — classify every key across two
    // table versions as added / removed / changed / same with ONE
    // full-outer join on the key. At 100 TB both snapshots are bucketed
    // on the key → zero-shuffle sort-merge; the diff is what an
    // incremental downstream consumes instead of the full snapshot.
    Q(
      "q136_snapshot_diff",
      """WITH v1 AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |v2 AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 3 = 0 THEN ROUND(o_totalprice * 1.1, 2)
        |         ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |d AS (
        |  SELECT CASE WHEN v1.k IS NULL THEN 'added'
        |              WHEN v2.k IS NULL THEN 'removed'
        |              WHEN v1.p <> v2.p THEN 'changed'
        |              ELSE 'same' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT change, CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY change
        |ORDER BY change""".stripMargin) { (s, dir) =>
      val o = Tables.table(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k1"), col("o_totalprice").as("p1"))
      val v2 = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k2"),
          when(col("o_orderkey") % 3 === 0,
            round(col("o_totalprice") * 1.1, 2))
            .otherwise(col("o_totalprice")).as("p2"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .select(
          when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("p1") =!= col("p2"), "changed")
            .otherwise("same").as("change"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("change"))
    },

    // SCD Type-2 dimension build: turn a change stream (each user's
    // click events carrying a value) into versioned dimension rows with
    // [valid_from, valid_to) ranges and a current flag — one lead()
    // window per key, no self-join. At 100 TB this is the incremental
    // dimension-maintenance pass: partition by key, order by event time,
    // ties broken by event_id so versioning is deterministic.
    Q(
      "q152_scd2_versions",
      """WITH ch AS (
        |  SELECT user_id, ts, event_id, ROUND(value, 6) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND user_id < 10),
        |ver AS (
        |  SELECT user_id, v, ts AS valid_from, event_id,
        |    LEAD(ts) OVER (PARTITION BY user_id
        |                   ORDER BY ts, event_id) AS valid_to
        |  FROM ch)
        |SELECT user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |                     ORDER BY valid_from, event_id) AS version,
        |  v, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM ver
        |ORDER BY user_id, version""".stripMargin) { (s, dir) =>
      val ch = Tables.table(s, dir, "events")
        .filter(col("event_type") === "click" && col("user_id") < 10)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value"), 6).as("v"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ch.withColumn("valid_to", lead(col("ts"), 1).over(wOrd))
        .withColumn("version", row_number().over(wOrd))
        .select(col("user_id"), col("version"), col("v"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("version"))
    },

    // Conversion funnel: of the users who clicked, how many purchased
    // within 30 minutes of their FIRST click — the attribution rollup
    // (q115/q142's join, aggregated to rates). Two partial-agg group-bys
    // + one equi-join on user_id; no row-level fan-out survives to the
    // output.
    Q(
      "q153_conversion_funnel",
      """WITH fc AS (
        |  SELECT user_id, MIN(ts) AS first_click
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |conv AS (
        |  SELECT fc.user_id,
        |    MAX(CASE WHEN e.ts >= fc.first_click
        |             AND e.ts <= fc.first_click + INTERVAL 30 MINUTE
        |        THEN 1 ELSE 0 END) AS converted
        |  FROM fc LEFT JOIN events e
        |    ON e.user_id = fc.user_id AND e.event_type = 'purchase'
        |  GROUP BY fc.user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_clickers,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
        |    AS conversion_rate
        |FROM conv""".stripMargin) { (s, dir) =>
      val ev = Tables.table(s, dir, "events")
      val fc = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("p_ts"))
      val conv = fc.join(p, col("user_id") === col("pu"), "left")
        .groupBy(col("user_id"))
        .agg(max(when(col("p_ts") >= col("first_click") &&
          col("p_ts") <= col("first_click") + expr("INTERVAL 30 MINUTE"),
          1).otherwise(0)).as("converted"))
      conv.agg(count(lit(1)).as("n_clickers"),
        sum(col("converted")).as("n_converted"),
        round(sum(col("converted")).cast("double") / count(lit(1)), 6)
          .as("conversion_rate"))
    },

    // Z-order layout quality: bucket lineitem 16 ways by the Morton
    // interleave of (l_partkey%256, l_suppkey%256) vs 16 ways by natural
    // l_orderkey ranges, and report each bucket's (x, y) bounding box.
    // Z-order buckets cover ~1/16 of the key plane each (bbox_area ~4k);
    // natural buckets span the whole plane (~65k) — exactly why a
    // Z-ordered table prunes file-level min/max stats on BOTH join keys
    // while a naturally-ordered one prunes neither. This is the layout
    // pass a 100 TB table gets before heavy multi-key scan workloads;
    // clustering = sort by the morton key, stats come free at write time.
    Q(
      "q155_zorder_layout", {
        val m = mortonSql("x", "y")
        s"""WITH base AS (
           |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y, l_orderkey
           |  FROM lineitem),
           |mx AS (SELECT MAX(l_orderkey) AS maxk FROM base),
           |z AS (
           |  SELECT 'zorder' AS layout,
           |    CAST(FLOOR(CAST($m AS DOUBLE) / 4096) AS INT) AS bucket, x, y
           |  FROM base),
           |nat AS (
           |  SELECT 'natural' AS layout,
           |    CAST(FLOOR(CAST(l_orderkey AS DOUBLE) * 16 / (maxk + 1))
           |      AS INT) AS bucket, x, y
           |  FROM base CROSS JOIN mx),
           |u AS (SELECT * FROM z UNION ALL SELECT * FROM nat)
           |SELECT layout, bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  MIN(x) AS x_min, MAX(x) AS x_max,
           |  MIN(y) AS y_min, MAX(y) AS y_max,
           |  CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
           |    AS bbox_area
           |FROM u GROUP BY layout, bucket
           |ORDER BY layout, bucket""".stripMargin
      }) { (s, dir) =>
      val base = Tables.table(s, dir, "lineitem")
        .select((col("l_partkey") % 256).as("x"),
          (col("l_suppkey") % 256).as("y"), col("l_orderkey"))
      val mx = base.agg(max(col("l_orderkey")).as("maxk"))
      val z = base.select(lit("zorder").as("layout"),
        expr(s"CAST(FLOOR(CAST(${mortonSql("x", "y")} AS DOUBLE) / 4096) " +
          "AS INT)").as("bucket"),
        col("x"), col("y"))
      val nat = base.crossJoin(broadcast(mx)).select(
        lit("natural").as("layout"),
        expr("CAST(FLOOR(CAST(l_orderkey AS DOUBLE) * 16 / (maxk + 1)) " +
          "AS INT)").as("bucket"),
        col("x"), col("y"))
      z.union(nat)
        .groupBy(col("layout"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"),
          ((max(col("x")) - min(col("x")) + 1) *
            (max(col("y")) - min(col("y")) + 1)).cast("long").as("bbox_area"))
        .orderBy(col("layout"), col("bucket"))
    },

    // Incremental aggregate maintenance (materialized-view algebra): the
    // already-materialized 90% of events and the 10% delta are aggregated
    // SEPARATELY to partials (n, DECIMAL sum), then merged by summing the
    // partials — never re-reading the base data. DECIMAL partials make
    // merge(base, delta) == full recompute EXACTLY, which is the whole
    // contract of incremental view maintenance; the oracle IS the full
    // recompute. At 100 TB this is the difference between touching the
    // delta and touching the lake.
    Q(
      "q162_incremental_agg",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.table(s, dir, "events")
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast("decimal(18,6)")).as("pv"))
      val base = partial(ev.filter(col("event_id") % 10 =!= 0))
      val delta = partial(ev.filter(col("event_id") % 10 === 0))
      base.union(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          sum(col("pv")).cast("double").as("total_value"))
        .orderBy(col("event_type"))
    },

    // Positional generator surface: posexplode — the (pos, value) form
    // every token-position feature (positional n-grams, truncation,
    // attention-window slicing) builds on. Generate doesn't collapse into
    // its child, so the token array below it is computed once per row.
    Q(
      "q137_posexplode",
      """SELECT doc_id, u.i - 1 AS pos, string_split(text, ' ')[u.i] AS tok
        |FROM documents, LATERAL (
        |  SELECT unnest(generate_series(1,
        |    len(string_split(text, ' ')))) AS i) u
        |WHERE doc_id < 3 AND u.i <= 10
        |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 3)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .filter(col("pos") < 10)
        .orderBy(col("doc_id"), col("pos"))
    },

    // Lake: the transactional envelope around q135's MERGE — optimistic
    // concurrency with snapshot versions, conflict detection, and
    // idempotent replay (q123's foreachBatch ledger as the batch_id
    // log). Scenario: writers A and B both read snapshot v1; A commits
    // (v2); B's stale commit is REJECTED (expected 1, current 2); B
    // retries against v2 and commits (v3); A's batch is then replayed
    // (at-least-once delivery) and is a no-op because its batch_id is
    // already in the log. The output carries each event plus the
    // post-event table state (row count + order-independent md5-fold
    // fingerprint): rows 3 vs 2 prove the conflicted commit changed
    // nothing, rows 5 vs 4 prove the replay changed nothing — the
    // "provably same table state" the protocol exists to guarantee.
    Q(
      "q198_merge_commit_protocol",
      s"""WITH t0 AS (
         |  SELECT c_custkey AS k, c_acctbal AS v
         |  FROM customer WHERE c_custkey <= 1400),
         |ba AS (
         |  SELECT c_custkey AS k, ROUND(c_acctbal + 100, 2) AS v
         |  FROM customer WHERE c_custkey BETWEEN 1301 AND 1500),
         |bb AS (
         |  SELECT c_custkey AS k, ROUND(c_acctbal * 2, 2) AS v
         |  FROM customer WHERE c_custkey BETWEEN 1350 AND 1450),
         |s1 AS (
         |  SELECT COALESCE(s.k, t.k) AS k, COALESCE(s.v, t.v) AS v
         |  FROM t0 t FULL OUTER JOIN ba s ON t.k = s.k),
         |s2 AS (
         |  SELECT COALESCE(s.k, t.k) AS k, COALESCE(s.v, t.v) AS v
         |  FROM s1 t FULL OUTER JOIN bb s ON t.k = s.k),
         |f0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM($duckRowFold) % 1000000007 AS BIGINT) AS fp FROM t0),
         |f1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM($duckRowFold) % 1000000007 AS BIGINT) AS fp FROM s1),
         |f2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM($duckRowFold) % 1000000007 AS BIGINT) AS fp FROM s2)
         |SELECT CAST(1 AS BIGINT) AS step, 'base' AS batch_id,
         |  'committed' AS event, CAST(1 AS BIGINT) AS version,
         |  n AS n_rows, fp AS table_fp FROM f0
         |UNION ALL SELECT 2, 'bA', 'committed', 2, n, fp FROM f1
         |UNION ALL SELECT 3, 'bB', 'conflict_detected', 2, n, fp FROM f1
         |UNION ALL SELECT 4, 'bB', 'committed', 3, n, fp FROM f2
         |UNION ALL SELECT 5, 'bA', 'skipped_idempotent', 3, n, fp FROM f2
         |ORDER BY step""".stripMargin) { (s, dir) =>
      val cust = Tables.table(s, dir, "customer")
      val base = cust.filter(col("c_custkey") <= 1400)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
      val batchA = cust
        .filter(col("c_custkey").between(1301, 1500))
        .select(col("c_custkey").as("k"),
          round(col("c_acctbal") + 100, 2).as("v"))
      val batchB = cust
        .filter(col("c_custkey").between(1350, 1450))
        .select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 2, 2).as("v"))

      // the coordinator replays the attempt log; every decision comes
      // out of attemptCommit, never hand-assigned
      var st = TxnState(1L, Set("base"))
      var state = base
      var out = snap(1L, "base", "committed", st.version, state)
      var stepNo = 1L
      val attempts = Seq( // (batch_id, frame, snapshot version it read)
        ("bA", batchA, 1L), // writer A, fresh
        ("bB", batchB, 1L), // writer B, now stale — must conflict
        ("bB", batchB, 2L), // writer B retry against the new snapshot
        ("bA", batchA, 1L)) // writer A replayed — must be a no-op
      attempts.foreach { case (id, batch, expected) =>
        val (next, event) = attemptCommit(st, id, expected)
        if (event == "committed") state = merge(state, batch)
        st = next
        stepNo += 1
        out = out.unionAll(snap(stepNo, id, event, st.version, state))
      }
      out.orderBy(col("step"))
    })
}
