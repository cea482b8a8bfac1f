package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** UDF/UDAF/custom-Expression surface (SURVEY.md §2.3 E13 + §4.3):
  * a typed Aggregator registered for SQL, and the native codegen
  * `array_dot` Catalyst expression powering similarity search.
  */
object Extensibility {

  val queries: Seq[Q] = Seq(
    // E13: exact weighted average via typed Aggregator (integer-cents
    // buffer → order-independent partial merges).
    Q(
      "q58_udaf_weighted_avg",
      """SELECT l_returnflag,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE), 6)
        |    AS weighted_avg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag,
          |  wavg(l_extendedprice, l_quantity) AS weighted_avg_price
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // §4.3 stretch: q50's top-k cosine, but through the native codegen
    // ArrayDot expression — same fold semantics, no HOF lambda overhead.
    Q(
      "q59_custom_expr_dot",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(list_reduce(list_transform(range(len(e.embedding)),
        |    i -> CAST(e.embedding[i+1] AS DOUBLE)
        |       * CAST(q.qe[i+1] AS DOUBLE)), (x, y) -> x + y), 6) AS cosine
        |FROM embeddings e, q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, vec_id ASC
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("array_dot(embedding, qe)"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    },

    // §4.3 stretch: mergeable HLL sketch (TypedImperativeAggregate).
    // Deterministic (SplitMix64, seed-free) but the sketch itself is not
    // DuckDB-expressible (wrapping 64-bit multiplies), so the gate checks a
    // property the oracle CAN recompute: the estimate must land within 5%
    // of the exact distinct count (HllAggSpec separately pins accuracy and
    // merge associativity).
    Q(
      "q77_hll_sketch",
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT event_type,
          |  COUNT(DISTINCT user_id) AS exact_users,
          |  ABS(CAST(graft_hll(user_id) AS DOUBLE)
          |      - CAST(COUNT(DISTINCT user_id) AS DOUBLE))
          |    <= 0.05 * CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS within_5pct
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // §4.3 #3: the full custom-operator path — AsOfJoinNode logical plan,
    // AsOfStrategy, AsOfJoinExec streaming merge (one co-partitioned
    // shuffle + linear scan; no window state). Same semantics — and the
    // same DuckDB native ASOF JOIN oracle — as the union+window encoding
    // in q32.
    Q(
      "q76_asof_custom_operator",
      """WITH clicks AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click')
        |  WHERE rn = 1),
        |purch AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  ROUND(c.value, 6) AS last_click_value
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.table(s, dir, "events")
      val dedupW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("rn", row_number().over(dedupW))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("value"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.AsOfJoin.asof(purch, clicks, "user_id", "ts", "value",
          "last_click_value")
        .select(col("event_id"), col("user_id"),
          round(col("last_click_value"), 6).as("last_click_value"))
        .orderBy(col("event_id"))
    })
}
