package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.Tables

/** Remaining surface: map functions, regexp_extract_all, UNPIVOT,
  * TRY_CAST, and arbitrary-stateful streaming (mapGroupsWithState) — the
  * custom-state half of E12/E13.
  */
object FinalOps {

  val queries: Seq[Q] = Seq(
    // E11/S14: map construction + map_keys/map_values/cardinality.
    Q(
      "q87_map_functions",
      """SELECT c_custkey,
        |  array_to_string(list_sort(map_keys(
        |    MAP{'seg': c_mktsegment,
        |        'nat': CAST(c_nationkey AS VARCHAR)})), ',') AS ks,
        |  CAST(cardinality(MAP{'seg': c_mktsegment,
        |                       'nat': CAST(c_nationkey AS VARCHAR)}) AS BIGINT)
        |    AS n_entries,
        |  MAP{'seg': c_mktsegment,
        |      'nat': CAST(c_nationkey AS VARCHAR)}['seg'][1] AS seg
        |FROM customer
        |WHERE c_custkey <= 40
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val m = map(
        lit("seg"), col("c_mktsegment"),
        lit("nat"), col("c_nationkey").cast("string"))
      Tables.table(s, dir, "customer")
        .filter(col("c_custkey") <= 40)
        .select(col("c_custkey"),
          // stringified for the driver's pandas compare (no array cells)
          array_join(array_sort(map_keys(m)), ",").as("ks"),
          size(m).cast("bigint").as("n_entries"),
          m(lit("seg")).as("seg"))
        .orderBy(col("c_custkey"))
    },

    // E8/S12: regexp_extract_all.
    Q(
      "q88_regexp_extract_all",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]{6,}')) AS n_long,
        |  COALESCE(regexp_extract_all(text, '[a-z]{6,}')[1], '') AS first_long
        |FROM documents
        |WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val all = expr("regexp_extract_all(text, '[a-z]{6,}', 0)")
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          size(all).as("n_long"),
          // try_element_at: ANSI element_at throws on empty arrays
          coalesce(expr("try_element_at(regexp_extract_all(text, '[a-z]{6,}', 0), 1)"),
            lit("")).as("first_long"))
        .orderBy(col("doc_id"))
    },

    // E2-adjacent reshaping: UNPIVOT wide metrics into (metric, val) rows.
    Q(
      "q89_unpivot",
      """SELECT * FROM (UNPIVOT (
        |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_metric,
        |         p_retailprice AS price_metric
        |  FROM part WHERE p_partkey < 20)
        |  ON size_metric, price_metric
        |  INTO NAME metric VALUE val)
        |ORDER BY p_partkey, metric""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "part")
        .filter(col("p_partkey") < 20)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size_metric"),
          col("p_retailprice").as("price_metric"))
        .unpivot(Array(col("p_partkey")), "metric", "val")
        .orderBy(col("p_partkey"), col("metric"))
    },

    // S18: TRY_CAST — NULL instead of error under ANSI semantics.
    Q(
      "q90_try_cast",
      """SELECT p_partkey,
        |  TRY_CAST(split_part(p_brand, '#', 2) AS BIGINT) AS brand_id,
        |  TRY_CAST(p_name AS BIGINT) AS not_a_number
        |FROM part
        |WHERE p_partkey < 30
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "part")
        .filter(col("p_partkey") < 30)
        .select(col("p_partkey"),
          expr("TRY_CAST(split_part(p_brand, '#', 2) AS BIGINT)")
            .as("brand_id"),
          expr("TRY_CAST(p_name AS BIGINT)").as("not_a_number"))
        .orderBy(col("p_partkey"))
    },

    // E12: sliding windows (10-minute length, 5-minute slide) — each event
    // lands in two windows. Oracle enumerates both window starts per
    // event; epoch alignments agree (origins differ by whole days).
    Q(
      "q92_sliding_window",
      """SELECT ws AS window_start, COUNT(*) AS n
        |FROM (
        |  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
        |                 time_bucket(INTERVAL '5 minutes', ts)
        |                   - INTERVAL '5 minutes']) AS ws
        |  FROM events WHERE event_type = 'error')
        |GROUP BY ws
        |ORDER BY ws""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "events")
        .filter(col("event_type") === "error")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("n"))
        .orderBy(col("window_start"))
    },

    // E1: distribution window functions — percent_rank / cume_dist /
    // nth_value over a total order.
    Q(
      "q93_window_distribution",
      """SELECT c_custkey,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        |  ROUND(CUME_DIST() OVER w, 6) AS cd,
        |  NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_richest
        |FROM customer
        |WHERE c_nationkey < 5
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val wFull = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.table(s, dir, "customer")
        .filter(col("c_nationkey") < 5)
        .select(col("c_custkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          nth_value(col("c_custkey"), 2).over(wFull).as("second_richest"))
        .orderBy(col("c_custkey"))
    },

    // E12/E13: arbitrary stateful streaming — mapGroupsWithState keeping a
    // per-user purchase counter. One input batch → each key emits its
    // final state once, so the batch count oracle matches exactly. State
    // is one long per key, evictable via timeouts in a live deployment.
    Q(
      "q91_stateful_stream",
      """SELECT user_id, COUNT(*) AS n_purchases
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      StreamOps.withConf(s, StreamOps.stateParts) {
      val counted = StreamOps.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as[Long])
        .groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
          (user: Long, events: Iterator[Long], state: GroupState[Long]) => {
            val c = state.getOption.getOrElse(0L) + events.size
            state.update(c)
            (user, c)
          })
        .toDF("user_id", "n_purchases")
      StreamOps.runToMemory(s, counted, "update")
        .orderBy(col("user_id"))
      }
    })
}
