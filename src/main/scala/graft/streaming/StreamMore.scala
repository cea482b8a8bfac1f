package graft.ops

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import graft.Tables

/** Second streaming/observability batch: stream-stream interval join
  * (click→purchase attribution), observed-metrics (the production
  * monitoring surface), and session windows running in true streaming
  * mode (q56 demonstrated the batch form).
  */
object StreamMore {
  import Det._

  val queries: Seq[Q] = Seq(
    // E12: stream-stream INNER join with an event-time range condition —
    // the attribution shape. Each side is keyed by user with a time-bound
    // band; inner-join matches emit as soon as both sides arrive, and the
    // watermark bounds how long unmatched click state is retained (at
    // 100 TB/day the retention horizon IS the state size).
    Q(
      "q115_stream_stream_join",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.event_id, p.event_id, c.user_id
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, dir) =>
      StreamOps.withConf(s, StreamOps.stateParts) {
      val clicks = StreamOps.eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = StreamOps.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
        .withWatermark("p_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTE"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("value"))
      // the GROUP BY in the oracle is only a deterministic-sum guard for
      // the (click, purchase) pair — pairs are already unique, so the
      // streamed rows equal the grouped rows
      StreamOps.runToMemory(s, joined, "append")
        .groupBy(col("click_id"), col("purchase_id"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("purchase_value"))
        .orderBy(col("click_id"), col("purchase_id"))
      }
    },

    // E12: stream-stream LEFT OUTER join — the attribution shape where
    // clicks with NO purchase must also surface (conversion-rate
    // denominators). Null-extended rows are emitted only once the global
    // watermark passes the click's join-window end (the click can no
    // longer match), so state stays bounded AND the unmatched output is
    // deterministic; the trailing clicks still inside the horizon emit
    // nothing — exactly what the oracle's watermark cutoff reproduces.
    Q(
      "q142_stream_stream_left_outer",
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |gw AS (SELECT LEAST(
        |    (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
        |  - INTERVAL 30 MINUTE AS w),
        |j AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id, c.c_ts
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id
        |    AND p.p_ts >= c.c_ts
        |    AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE)
        |SELECT click_id, COALESCE(purchase_id, -1) AS purchase_id, user_id
        |FROM j, gw
        |WHERE purchase_id IS NOT NULL
        |   OR c_ts + INTERVAL 30 MINUTE < gw.w
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, dir) =>
      StreamOps.withConf(s, StreamOps.stateParts) {
      val clicks = StreamOps.eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = StreamOps.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTE"),
        "left_outer")
        .select(col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          col("user_id"))
      StreamOps.runToMemory(s, joined, "append")
        .orderBy(col("click_id"), col("purchase_id"))
      }
    },

    // Observed metrics (production observability): Observation attaches
    // aggregates to a flowing query at zero extra passes — the metrics
    // ride along the action. The gate returns them as a 1-row frame so
    // the oracle can check them exactly.
    Q(
      "q116_observed_metrics",
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_negative,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MAX(o_totalprice) AS max_price
        |FROM orders""".stripMargin) { (s, dir) =>
      val obs = Observation()
      val observed = Tables.table(s, dir, "orders").observe(
        obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("o_totalprice") < 0, 1).otherwise(0)).as("n_negative"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"),
        max(col("o_totalprice")).as("max_price"))
      observed.write.format("noop").mode("overwrite").save() // the action
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("n_negative").asInstanceOf[Long],
        m("total").asInstanceOf[Double],
        m("max_price").asInstanceOf[Double]))
        .toDF("n_rows", "n_negative", "total", "max_price")
    },

    // E12: session windows in TRUE streaming mode — state merges sessions
    // as events arrive and evicts them once the watermark passes
    // last-event + gap. Only closed sessions emit in append mode; the
    // oracle applies the same cutoff against max(ts).
    Q(
      "q117_stream_session_window",
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL '6 hours'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WHERE user_id < 20
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '6 hours' AS session_end, COUNT(*) AS n_events
        |FROM sess
        |GROUP BY user_id, sid
        |HAVING MAX(ts) + INTERVAL '6 hours'
        |       <= (SELECT MAX(ts) FROM events WHERE user_id < 20)
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      StreamOps.withConf(s, StreamOps.stateParts) {
      val sessions = StreamOps.eventsStream(s, dir)
        .filter(col("user_id") < 20)
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
      StreamOps.runToMemory(s, sessions, "append")
        .orderBy(col("user_id"), col("session_start"))
      }
    },

    // foreachBatch + dynamic partition overwrite: the production file
    // sink. Each microbatch rewrites exactly the date partitions it
    // touched — replays are idempotent (same window → same partition →
    // same bytes), which is how exactly-once lands on object storage
    // without a transactional table format.
    Q(
      "q123_foreachbatch_sink",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, COUNT(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin) { (s, dir) =>
      StreamOps.withConf(s, StreamOps.stateParts) {
        val out = StreamOps.scratchDir(
          s"graft_febatch_${VecIndex.dirDigest(dir)}")
        val agg = StreamOps.eventsStream(s, dir)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n"))
        StreamOps.foldBatches(s, agg, out, "update") { (batch, _) =>
          batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(out)
        }
        s.read.parquet(out)
          .select(col("day").cast("string"), col("event_type"), col("n"))
          .orderBy(col("day"), col("event_type"))
      }
    },

    // RocksDB state store: same windowed aggregation as the HDFS-backed
    // default, but state lives off-heap and spills to local SSD — the
    // provider for state that exceeds executor memory (billions of keys
    // at 100 TB/day). Results are provider-independent; only the state
    // backend changes, which is exactly what this gate pins down.
    Q(
      "q125_rocksdb_state_store",
      """SELECT user_id, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE user_id < 30
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      StreamOps.withConf(s, StreamOps.stateParts, StreamOps.rocksDbState) {
        val agg = StreamOps.eventsStream(s, dir)
          .filter(col("user_id") < 30)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("total_value"))
        StreamOps.runToMemory(s, agg, "complete")
          .orderBy(col("user_id"), col("event_type"))
      }
    },

    // E12: transformWithState — Spark 4's arbitrary-state operator (the
    // successor to mapGroupsWithState/q91): typed ValueState holding a
    // per-user (count, cents) pair, updated per input row, emitted per
    // batch in Update mode. State math is all-integer (cents via floor,
    // the engine-agnostic direction), so the FINAL emission per user —
    // recovered from the accumulating memory sink with a monotone
    // max(struct) — equals the batch ground truth regardless of how the
    // source splits into micro-batches. RocksDB provider required by
    // the operator (and the point at 100 TB: per-user state lives
    // off-heap, bounded by distinct keys, not events).
    Q(
      "q194_transform_with_state",
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE user_id < 30
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      StreamOps.withConf(s, StreamOps.stateParts, StreamOps.rocksDbState) {
        val src = StreamOps.eventsStream(s, dir)
          .filter(col("user_id") < 30)
          .select(col("user_id").cast("long"),
            floor(col("value") * 100).cast("long").as("cents"))
          .as[(Long, Long)]
        val out = src.groupByKey(_._1)
          .transformWithState(new RunningUserStats,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n", "total_cents")
        StreamOps.runToMemory(s, out, "update")
          .groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("total_cents"))).as("m"))
          .select(col("user_id"), col("m.n").as("n"),
            col("m.total_cents").as("total_cents"))
          .orderBy(col("user_id"))
      }
    },

    // E12 throughput gate: the ENTIRE events corpus through q194's
    // transformWithState pipeline — every user keyed, every event
    // folded into RocksDB-backed typed state — reduced to one summary
    // row (user count, event count, exact cent total, and an
    // order-independent per-user fingerprint), so correctness is
    // oracle-checkable while the wall time of THIS query at a given SF
    // measured by Bench IS the stateful-streaming throughput number
    // SCALE.md records (events rows / seconds). All integer math; the
    // per-user finals are recovered from the Update-mode sink with the
    // same monotone max(struct) as q194, so the summary is invariant to
    // micro-batch splits.
    Q(
      "q199_stream_throughput",
      """WITH per_user AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST(CAST(SUM((user_id * 2654435761 + n * 97 + cents)
        |    % 1000000007) AS BIGINT) % 1000000007 AS BIGINT) AS user_fp
        |FROM per_user""".stripMargin) { (s, dir) =>
      import s.implicits._
      StreamOps.withConf(s, StreamOps.stateParts, StreamOps.rocksDbState) {
        val src = StreamOps.eventsStream(s, dir)
          .select(col("user_id").cast("long"),
            floor(col("value") * 100).cast("long").as("cents"))
          .as[(Long, Long)]
        val out = src.groupByKey(_._1)
          .transformWithState(new RunningUserStats,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n", "total_cents")
        StreamOps.runToMemory(s, out, "update")
          .groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("total_cents"))).as("m"))
          .select(col("user_id"), col("m.n").as("n"),
            col("m.total_cents").as("cents"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("n")).as("n_events"),
            sum(col("cents")).as("total_cents"),
            (sum((col("user_id") * 2654435761L + col("n") * 97L +
              col("cents")) % 1000000007L) % 1000000007L).as("user_fp"))
      }
    })

  /** q194's StatefulProcessor: per-user running (event count, cent sum)
    * in a single typed ValueState, emitted once per batch per key.
    */
  private class RunningUserStats
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.{Encoders, streaming => ss}
    @transient private var st: ss.ValueState[(Long, Long)] = _

    override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        ss.TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long)],
        timerValues: ss.TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { case (_, c) => n += 1; cents += c }
      st.update((n, cents))
      Iterator.single((key, n, cents))
    }
  }
}
