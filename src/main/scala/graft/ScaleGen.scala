package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for slope measurement.
  *
  * The driver ships sf0.001/0.01/0.1 only; measuring how wall-time scales
  * between sf0.1 and sf1 needs a 10× dataset. This replicates the driver's
  * sf0.1 tables `factor`× with disjoint key spaces (key + rep*10M), so join
  * fan-outs, per-key group cardinalities, and value distributions are
  * IDENTICAL to the original inside every replica, and replicas never join
  * each other. Fixed dimensions (region, nation) are copied, matching TPC-H,
  * whose nation/region are SF-invariant.
  *
  * Two perturbations keep the scaled corpus honest for the near-dup / ANN
  * families — naive replication would make every document an exact
  * `factor`-way duplicate, inflating candidate pairs quadratically in the
  * replica count (a data artifact, not an algorithm property):
  *
  *   - documents.text: per-replica bijective token rename (tokens with
  *     pmod(xxhash64(token, rep), 4) = 0 get a "_r<rep>" suffix, ~1/4 of the
  *     vocabulary per replica). A bijective rename preserves every
  *     within-replica Jaccard/SimHash/MinHash relation EXACTLY, while
  *     cross-replica Jaccard drops to ~0.4, below the family's thresholds.
  *     It also reproduces Heaps'-law vocabulary growth: renamed tokens are
  *     replica-local, so document frequencies grow sublinearly and the
  *     rare-first prefix tokens (Dedup.prefixBandPairs' blocking key) stay
  *     replica-local — exactly how rare shingles behave on a real corpus.
  *   - embeddings.embedding: per-replica signed coordinate permutation — an
  *     exactly orthogonal transform, so all within-replica inner products
  *     and norms are preserved, while cross-replica cosines collapse to
  *     ~N(0, 1/sqrt(d)) noise.
  *
  * Replica 0 is the original data verbatim. Everything derives from xxhash64
  * or a fixed-seed Random: same inputs → same dataset.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> <factor>
  */
object ScaleGen {
  /** Key offset per replica; must exceed every key in the source tables. */
  private val Cap = 10000000L

  /** Per-replica bijective token rename: tokens with
    * pmod(xxhash64(token, rep), 4) = 0 get a "_r<rep>" suffix. A
    * bijection on the vocabulary preserves every within-replica set
    * relation (Jaccard, containment, MinHash collision structure)
    * EXACTLY while making renamed tokens replica-local. Exposed (not
    * inlined in main) so ScaleGenSpec can pin the invariant the slope
    * measurements rest on.
    */
  private[graft] def renameText(d: DataFrame, r: Int): DataFrame =
    if (r == 0) d
    else d
      .withColumn("text", expr(
        s"""array_join(transform(split(text, ' '),
           |  t -> CASE WHEN pmod(xxhash64(t, $r), 4) = 0
           |       THEN concat(t, '_r$r') ELSE t END), ' ')""".stripMargin))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Per-replica signed coordinate permutation — an exactly orthogonal
    * transform: within-replica inner products and norms are preserved
    * bit-for-bit modulo float negation (which is exact), cross-replica
    * cosines collapse to noise. Seeded per replica; same inputs → same
    * permutation.
    */
  private[graft] def signedPerm(dim: Int)(d: DataFrame, r: Int): DataFrame =
    if (r == 0) d
    else {
      val rnd   = new scala.util.Random(0x5ca1e + r)
      val perm  = rnd.shuffle((0 until dim).toVector)
      val items = perm.map { j =>
        val s = if (rnd.nextBoolean()) "" else "-"
        s"CAST(${s}embedding[$j] AS FLOAT)"
      }
      d.withColumn("embedding", expr(s"array(${items.mkString(",")})"))
    }

  def main(args: Array[String]): Unit = {
    val src    = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst    = args.lift(1).getOrElse("/root/repo/testdata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", "32",
      Some("graft-scalegen"))

    // readNormalized: the driver writes events.ts as TIMESTAMP(NANOS),
    // which Spark cannot represent — the same ns→µs truncation every query
    // applies is baked into the generated data (a no-op for other tables).
    def base(name: String): DataFrame =
      Tables.readNormalized(spark, s"$src/$name.parquet")

    def offset(df: DataFrame, rep: Int, keys: Seq[String]): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(rep * Cap)))

    /** Union of `factor` key-offset replicas, with an optional per-replica
      * payload perturbation applied after the key offset.
      */
    def replicate(name: String, keys: Seq[String],
                  perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val b = base(name)
      (0 until factor).map(r => perturb(offset(b, r, keys), r)).reduce(_ unionAll _)
    }

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name -> $dst/$name.parquet")
    }

    // Fixed dimensions: SF-invariant, copied verbatim.
    write("region", base("region"), 1)
    write("nation", base("nation"), 1)

    write("customer", replicate("customer", Seq("c_custkey")), 4)
    write("supplier", replicate("supplier", Seq("s_suppkey")), 1)
    write("part",     replicate("part",     Seq("p_partkey")), 4)
    write("orders",   replicate("orders",   Seq("o_orderkey", "o_custkey")), 8)
    write("lineitem", replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")), 32)
    write("events",   replicate("events",   Seq("event_id", "user_id")), 8)

    write("documents",
      replicate("documents", Seq("doc_id"), renameText), 8)

    val dim = base("embeddings").select(size(col("embedding"))).first().getInt(0)
    write("embeddings",
      replicate("embeddings", Seq("vec_id"), signedPerm(dim)), 4)

    // Sanity: report row counts so a truncated run is visible.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { n =>
      println(s"[scalegen] rows $n = ${spark.read.parquet(s"$dst/$n.parquet").count()}")
    }
    spark.stop()
  }
}
