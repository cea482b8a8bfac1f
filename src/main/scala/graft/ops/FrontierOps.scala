package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch-accelerated and layout-aware patterns a 100 TB pipeline leans
  * on: count-min-sketch heavy-hitter prefilter with exact confirmation,
  * bloom-filter join pruning, stream-static enrichment joins, and
  * range-clustered writes that let parquet row-group stats prune reads.
  *
  * The two sketch queries follow the canonical two-phase shape: a cheap
  * mergeable sketch pass (built with a treeAggregate under
  * `df.stat.countMinSketch` / `.bloomFilter`, exactly how a 1000-executor
  * job would build it) prunes the expensive exact pass; because both
  * sketches only err toward over-inclusion (CMS over-estimates, bloom has
  * false positives but no false negatives), the exact confirmation makes
  * the final answer sketch-free — which is why these queries can be
  * oracle-exact rather than rows-only.
  */
object FrontierOps {
  import Det._

  // one unique store-scratch dir per JVM (bounded sink round-trips)
  private lazy val scratch: String =
    ArtifactStore.tempRoot("graft_frontier")

  val queries: Seq[Q] = Seq(
    // E4 at scale: heavy-hitter keys via count-min sketch prefilter +
    // exact count confirm. est(k) >= true(k) always, so no true heavy
    // hitter is pruned; the exact HAVING removes the over-estimates.
    Q(
      "q106_cms_heavy_hitters",
      """SELECT l_partkey, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING COUNT(*) >= 40
        |ORDER BY n DESC, l_partkey""".stripMargin) { (s, dir) =>
      val l = Tables.table(s, dir, "lineitem")
      val threshold = 40L
      val sketch = l.stat.countMinSketch(
        col("l_partkey"), 1e-4, 0.99, 42)
      val bc = s.sparkContext.broadcast(sketch)
      val maybeHeavy = udf((k: Long) => bc.value.estimateCount(k) >= threshold)
      l.filter(maybeHeavy(col("l_partkey")))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= threshold)
        .orderBy(col("n").desc, col("l_partkey"))
    },

    // Runtime-filter pattern: build a bloom filter over the (already
    // reduced) dim keys, prune the fact scan before the shuffle/join.
    // False positives are removed by the real join, so results are exact.
    Q(
      "q107_bloom_join_pruning",
      s"""SELECT s.s_name,
         |  ${revenueSumSql("l.l_extendedprice", "l.l_discount")} AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem l
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |WHERE s.s_nationkey = 2
         |GROUP BY s.s_name
         |ORDER BY s.s_name""".stripMargin) { (s, dir) =>
      val sup = Tables.table(s, dir, "supplier")
        .filter(col("s_nationkey") === 2)
      // Spark's stat.bloomFilter over an EMPTY frame returns a filter with
      // a null bit buffer (mightContain NPEs) — degrade to filter-nothing.
      val prefilter =
        if (sup.isEmpty) lit(false)
        else {
          val bf = sup.stat.bloomFilter(col("s_suppkey"), 10000L, 0.01)
          val bc = s.sparkContext.broadcast(bf)
          udf((k: Long) => bc.value.mightContain(k)).apply(col("l_suppkey"))
        }
      Tables.table(s, dir, "lineitem")
        .filter(prefilter)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("s_name"))
    },

    // E12: stream-static enrichment join — the streaming side joins a
    // broadcast static dim with no state (stateless row-at-a-time), then
    // aggregates in complete mode. The batch oracle is the same join.
    Q(
      "q108_stream_static_join",
      """SELECT e.event_type, c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY e.event_type, c.c_mktsegment
        |ORDER BY e.event_type, c.c_mktsegment""".stripMargin) { (s, dir) =>
      StreamOps.withConf(s, StreamOps.stateParts) {
      val cust = Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = StreamOps.eventsStream(s, dir)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("total_value"))
      StreamOps.runToMemory(s, enriched, "complete")
        .orderBy(col("event_type"), col("c_mktsegment"))
      }
    },

    // Range-clustered write: repartitionByRange + sortWithinPartitions
    // gives each parquet file a narrow key range, so the read-back
    // predicate prunes whole files/row-groups via min/max stats — the
    // single-column version of Z-ordering, and the cheapest data-skipping
    // lever a 100 TB table has.
    Q(
      "q109_clustered_write_skipping",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey BETWEEN 5000 AND 5300
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val out = s"$scratch/orders_clustered"
      Tables.table(s, dir, "orders")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderkey").between(5000, 5300))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    })
}
