package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list `(a, b)`, labeling
  * every vertex with the minimum vertex id of its component — the step
  * that turns q114's pairwise near-dup output into per-document cluster
  * ids.
  *
  * Two strategies behind a size switch:
  *
  *   - edge sets that fit one task (the common case: near-dup edges are
  *     orders of magnitude fewer than documents) run single-task
  *     union-find behind a repartition(1) boundary — upstream edge
  *     generation stays fully parallel;
  *   - larger edge sets run the alternating LARGE-STAR / SMALL-STAR
  *     contraction of Kiveris et al. ("Connected Components in
  *     MapReduce and Beyond", SoCC 2014): each round rewires every
  *     node's larger neighbors (large-star), then its smaller ones
  *     (small-star), onto the neighborhood minimum. Components contract
  *     to min-rooted stars in O(log² n) rounds REGARDLESS of graph
  *     diameter — the previous min-label-propagation loop was
  *     O(diameter) (information travels one edge per round however
  *     aggressively label chains are pointer-jumped), which measured 37
  *     rounds ≈ 13 s of per-round fixed job cost on the sf0.1 near-dup
  *     graph (diameter ~35); star contraction closes the same graph in
  *     a handful of rounds, and the edge set SHRINKS as it converges,
  *     so late rounds are cheap as well as few.
  *
  * Every contraction round BOTH localCheckpoints (truncating the logical
  * plan, which otherwise doubles per iteration) AND rebuilds the frame
  * from the checkpointed RDD — localCheckpoint alone keeps Catalyst's
  * size statistics, whose BigInt join-size products compound
  * exponentially across checkpointed iterations and eventually stall
  * planning.
  */
object Components {

  /** Default switch point: below this many edges, single-task union-find
    * (a few hundred MB of longs — trivially one task); above it, the
    * contraction loop.
    */
  val SingleTaskMaxEdges: Long = 2000000L

  /** Hard cap on contraction rounds. Alternating star rounds contract
    * any component in O(log² n) — 64 covers any representable vertex
    * set. Hitting the cap therefore means the loop is NOT converging
    * (e.g. a non-deterministic edge source re-sampling per action) and
    * must fail loud with diagnostics instead of spinning shuffles
    * forever.
    */
  val MaxContractRounds: Int = 64

  /** Telemetry: per-round progress witnesses of the most recent
    * contract() call on this JVM (head = round 1). Non-final rounds
    * record a strictly positive witness (the post-round edge count when
    * the cheap signature says the set changed); the final round records
    * the EXACT symmetric-difference count (0 — convergence is always
    * confirmed by the exact check before the loop exits). Written once
    * per call (single harness thread); tests assert convergence
    * behavior on it.
    */
  @volatile private[graft] var lastContractRounds: Seq[Long] = Seq.empty

  /** Label every vertex of `pairs` (columns a, b) with its component's
    * min vertex id. Returns (doc_id, component). `maxSingleTaskEdges` is
    * exposed so tests can force the contraction path.
    */
  def label(
      spark: SparkSession,
      pairs: DataFrame,
      maxSingleTaskEdges: Long = SingleTaskMaxEdges,
      maxRounds: Int = MaxContractRounds): DataFrame = {
    import spark.implicits._
    // materialize the (expensive) candidate join once: the count that
    // picks the strategy and the labeling both read the checkpoint
    val cp = pairs.toDF("a", "b").localCheckpoint(true)
    val edges = spark.createDataFrame(cp.rdd, cp.schema)
    if (edges.count() <= maxSingleTaskEdges)
      edges.as[(Long, Long)]
        .repartition(1)
        .mapPartitions(UnionFind.components)
        .toDF("doc_id", "component")
    else contract(spark, edges, maxRounds)
  }

  private def fresh(spark: SparkSession, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    spark.createDataFrame(cp.rdd, cp.schema)
  }

  private def contract(
      spark: SparkSession, edges: DataFrame, maxRounds: Int): DataFrame = {
    // the vertex universe — needed at the end because star contraction
    // drops self-loops and isolated vertices along the way
    val nodes = fresh(spark,
      edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node"))).distinct())
    // canonical undirected edge set, self-loops dropped
    var e = fresh(spark,
      edges.select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    // Cheap fixpoint detection (guide §2.4 — remove shuffles outright):
    // each round reads a (count, order-independent xxhash64 XOR)
    // signature off the just-checkpointed edge set — one tiny agg job
    // over cached blocks, no join — and only a signature MATCH triggers
    // the exact symmetric-difference join. Termination therefore stays
    // EXACT (the full-outer join confirms every exit; a hash collision
    // merely runs one more round), while non-final rounds skip the
    // per-round two-sided shuffle the old fixpoint count paid.
    // bit_xor (not sum): overflow-free under ANSI, order-independent,
    // and xor's duplicate-cancellation is unreachable — both operands
    // are distinct'd edge SETS.
    def sigOf(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def symDiff(a: DataFrame, b: DataFrame): Long =
      a.withColumn("r", lit(1))
        .join(b.withColumn("l", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("r").isNull || col("l").isNull).count()
    var eSig = sigOf(e)
    var converged = false
    val rounds = Seq.newBuilder[Long]
    var round = 0
    while (!converged) {
      round += 1
      if (round > maxRounds) {
        lastContractRounds = rounds.result()
        throw new IllegalStateException(
          s"Components.contract did not converge after $maxRounds rounds " +
            s"(per-round progress witnesses: " +
            s"${lastContractRounds.mkString(", ")}) — is the edge input " +
            "deterministic across actions?")
      }
      // LARGE-STAR: every node n connects its LARGER neighbors to the
      // min of its closed neighborhood — long chains gain skip edges.
      // The neighborhood min is a WINDOW over n, not a groupBy+join:
      // the min annotates every row inside the one exchange the
      // clustering needs anyway, where the former
      // groupBy(n)+join(on n) pair paid a second exchange for the join
      // probe side (their subtrees differ — partial-agg vs filter — so
      // exchange reuse never fired). 2 exchanges -> 1 (guide §2.4).
      val wN = Window.partitionBy(col("n"))
      val e1 = e.select(col("u").as("n"), col("v").as("w"))
        .union(e.select(col("v").as("n"), col("u").as("w")))
        .withColumn("mw", min(col("w")).over(wN))
        .filter(col("w") > col("n"))
        .select(least(col("n"), col("mw")).as("u"), col("w").as("v"))
        .filter(col("u") =!= col("v"))
      // (e1 is NOT dedup'd: it has at most |e| rows by construction —
      // the w > n filter keeps one direction per canonical edge — min()
      // is duplicate-blind and e2's closing distinct canonicalizes, so
      // the former per-round distinct only added a full exchange.)
      // SMALL-STAR: every node v rewires its SMALLER neighbors (and
      // itself) onto their min — star trees flatten toward the root.
      // In canonical (u < v) form, v's smaller neighborhood is exactly
      // the edges that arrive at v. Same window trick on v; the
      // (v, m) self-rows the former union of the groupBy frame added
      // arrive as one extra projection of the SAME windowed frame (its
      // duplicates collapse in the closing distinct exactly like the
      // join shape's did).
      val wV = Window.partitionBy(col("v"))
      // one explode emits both rewired rows per edge (u -> m and
      // v -> m) so the windowed frame is computed once — a union of
      // two projections would re-run the window per branch (only the
      // exchange below it is reusable)
      val e2q = e1.withColumn("m", min(col("u")).over(wV))
        .select(explode(array(
          struct(col("u").as("x"), col("m")),
          struct(col("v").as("x"), col("m")))).as("p"))
        .filter(col("p.x") =!= col("p.m"))
        .select(least(col("p.x"), col("p.m")).as("u"),
          greatest(col("p.x"), col("p.m")).as("v"))
        .distinct()
      val e2 = fresh(spark, e2q)
      val e2Sig = sigOf(e2)
      if (e2Sig == eSig) {
        // candidate fixpoint: confirm exactly (collision-safe exit)
        val d = symDiff(e2, e)
        rounds += d
        converged = d == 0L
      } else {
        rounds += e2Sig._1 // positive progress witness (edge count)
      }
      e = e2
      eSig = e2Sig
    }
    lastContractRounds = rounds.result()
    // at the fixpoint every component is a single star rooted at its
    // min: each non-root points to the root along its one edge; roots
    // and isolated vertices label themselves. The left-join below
    // RELIES on v being unique in e — assert it and fail loud (like
    // the round-cap path) rather than silently emit duplicate doc_ids
    // if a non-star fixpoint ever slipped through the equality check.
    val Array(nv, ndv) = e.agg(
      count(col("v")), countDistinct(col("v"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    require(nv == ndv,
      s"contract fixpoint is not a star union: $nv edges but only " +
        s"$ndv distinct v — labeling join would duplicate doc_ids")
    nodes
      .join(e.select(col("v").as("node"), col("u").as("root")),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("root"), col("node")).as("component"))
  }
}
