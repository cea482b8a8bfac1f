package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic distributed k-means codebook training (SURVEY.md §2.3
  * E7 — the component every centroid-based scale path consumes: q74's
  * IVF lists, q49's embedding-near-dup blocks, q184's SemDeDup
  * clusters, q197's bucket telemetry).
  *
  * Lloyd's algorithm as an iterative dataflow, engineered so BOTH
  * engines (Spark and the DuckDB oracle) produce bit-identical
  * centroids under ANY partitioning:
  *
  *  - Coordinates are fixed-point BIGINTs: `floor(v * 1e6 + 0.5)`.
  *    Cross-row aggregation (the centroid update) is therefore exact
  *    integer math — partial-agg order cannot perturb it. This is
  *    q187's PageRank discipline applied to vectors.
  *  - The only floating-point value is the per-row assignment dot, a
  *    fixed ascending fold over one vector and one broadcast centroid
  *    — identical doubles in both engines, so argmax (ties to lowest
  *    cid) picks the same centroid everywhere.
  *  - Centroid update is `floorDiv(sum_scaled, count)` with an explicit
  *    positive-remainder formulation, because BIGINT division truncates
  *    toward zero in Spark and the oracle's `//` floors — subtracting
  *    `pmod` first makes the division exact in both.
  *  - Init is the first k vectors by vec_id (deterministic seed, the
  *    k-means|| stand-in a reproducible pipeline wants); an empty
  *    cluster keeps its previous centroid (LEFT JOIN + COALESCE).
  *
  * Scale shape: the assignment is a pure MAP stage — the k-row codebook
  * collapses to a single broadcast array-of-structs row and the argmax
  * is a per-row fold (no explode to k×n rows, no window). The update is
  * q75's (cid, pos) shuffle — partial-aggregatable integer sums, never
  * whole vectors. Each iteration ends in an eager localCheckpoint with
  * a stats reset (the q174/q187 loop discipline) so plan lineage and
  * join-size statistics cannot compound across iterations.
  */
object KMeans {

  /** Fixed ascending dot-product fold (matches ArrayDot / the oracle's
    * list_reduce: 0 + p0 + p1 + ... — IEEE-identical in both engines).
    */
  private[ops] def dotFold(a: String, b: String): String =
    // codegen kernel (graft.functions.DoubleDot) — identical IEEE
    // ascending fold and null semantics to the HOF zip_with/aggregate
    s"double_dot($a, $b)"

  /** Scale a float vector to fixed-point BIGINTs (1e-6 resolution). */
  private[ops] def scaleExpr(a: String): String =
    s"transform($a, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) " +
      "AS BIGINT))"

  /** Collapse a (cid, cs) codebook to one broadcastable row holding the
    * cid-sorted array of centroid structs.
    */
  private def centArr(cent: DataFrame): DataFrame =
    cent.agg(expr("array_sort(collect_list(struct(cid, cs)))").as("cents"))

  /** Assign every vector to its nearest centroid (max dot, ties to
    * lowest cid) — a map-only stage against the broadcast codebook.
    * Output: (vec_id, embedding, cid).
    */
  private[ops] def assign(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(centArr(cent)))
      .withColumn("sel", expr(
        "array_max(transform(cents, c -> " +
          s"struct(${dotFold("embedding", "c.cs")} AS d, -c.cid AS nc)))"))
      .select(col("vec_id"), col("embedding"), (-col("sel.nc")).as("cid"))

  // ---------------- train-once codebook artifact ---------------------
  // A codebook is deterministic in (training relation, k, iters), so
  // consumers share ONE trained artifact per session instead of
  // re-running Lloyd inside every query plan — the shape a 100 TB index
  // build has (train once, serve many; round-5 ran ~13 redundant
  // trainings per suite pass). Keyed by the canonicalized logical plan
  // of the training relation (sameResult), so a different dir, slice,
  // or filter still trains fresh. The cached value is the MATERIALIZED
  // k-row codebook (driver rows, rebuilt as a local relation per serve):
  // a codebook is broadcast-sized by definition — every consumer ships
  // it whole to every task anyway — and holding rows instead of a
  // checkpointed frame keeps the artifact alive across RDD-block
  // cleanup between benchmark queries. Weak session key as in
  // Tables.registered.
  private val trained = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.
      ListBuffer[(Int, Int,
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        Array[org.apache.spark.sql.Row])]]())

  private val cbSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false),
      nullable = true)))

  /** Trained codebook for (e, k, iters): served from the session cache
    * when an identical training job already ran, else trained and
    * cached. Output: (cid BIGINT, cs ARRAY<BIGINT>) fixed-point.
    */
  private[ops] def codebook(
      s: SparkSession, e: DataFrame, k: Int, iters: Int): DataFrame = {
    val plan = e.queryExecution.analyzed
    val buf = trained.computeIfAbsent(s,
      _ => scala.collection.mutable.ListBuffer.empty)
    val rows = buf.synchronized {
      buf.find { case (ck, ci, cp, _) =>
        ck == k && ci == iters && cp.sameResult(plan)
      } match {
        case Some((_, _, _, cached)) => cached
        case None =>
          // bounded collect: k centroid rows — the broadcast payload
          val cb = trainCodebook(s, e, k, iters).collect()
          buf += ((k, iters, plan, cb))
          cb
      }
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), cbSchema)
  }

  // ---------------- bounded deterministic training sample ------------
  // Production coarse quantizers train on a bounded sample (~64·k
  // vectors), not the full corpus: full-corpus Lloyd with k ∝ √n is
  // O(n^1.5) per iteration — the measured q74/q207/q220 scale-killer
  // (0.70-0.79 decade slopes, round-7 verdict). The sample is
  // DETERMINISTIC — a Knuth multiplicative-hash threshold on vec_id,
  // the q238 LCG-split discipline — and always keeps the k seed
  // vectors, so both engines train on identical rows. When
  // n ≤ 64·k the threshold saturates and the full corpus trains:
  // sampling is then bit-identical to the unsampled formulation.
  // Full-corpus ASSIGNMENT (the consumers' `assign`) is untouched —
  // one O(n·k) pass, not per-iteration.
  private[ops] val SAMPLE_PER_CELL = 64L
  private[ops] val HASH_MOD = 1048576L // 2^20
  private[ops] val HASH_MULT = 2654435761L // Knuth, 2^32/phi

  /** Ceil(MOD·64·k / n) clamped to MOD — the vec_id-hash admission
    * threshold giving an expected 64·k training vectors.
    */
  private[ops] def sampleThreshold(n: Long, k: Int): Long = {
    val nn = math.max(n, 1L)
    math.min(HASH_MOD, (HASH_MOD * SAMPLE_PER_CELL * k + nn - 1) / nn)
  }

  /** The bounded training relation: seed rows (vec_id < k) plus the
    * hash-admitted sample. Identity when the threshold saturates. The
    * hash masks vec_id to HASH_MOD BEFORE multiplying — equivalent mod
    * 2^20 (HASH_MOD divides 2^64, so silent wrap cannot change the
    * residue) and overflow-free in engines with CHECKED BIGINT math
    * (DuckDB errors on vec_id ≥ ~3.5e9 unmasked — round-8 advice).
    */
  private[ops] def trainSample(e: DataFrame, k: Int): DataFrame = {
    val t = sampleThreshold(e.count(), k)
    if (t >= HASH_MOD) e
    else e.filter(col("vec_id") < k ||
      expr(s"((vec_id % $HASH_MOD) * ${HASH_MULT}L) % $HASH_MOD") < lit(t))
  }

  /** Train the codebook: k centroids, `iters` Lloyd iterations over the
    * bounded deterministic sample. Output: (cid BIGINT, cs
    * ARRAY<BIGINT>) — fixed-point centroid vectors.
    */
  private def trainCodebook(
      s: SparkSession, e: DataFrame, k: Int, iters: Int): DataFrame = {
    val tr = trainSample(e, k)
    var cent = tr.filter(col("vec_id") < k)
      .select(col("vec_id").cast("bigint").as("cid"),
        expr(scaleExpr("embedding")).as("cs"))
    for (_ <- 1 to iters) {
      val upd = assign(tr, cent)
        .select(col("cid"),
          posexplode(expr(scaleExpr("embedding"))).as(Seq("pos", "sval")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("sval")).as("ssum"), count(lit(1)).as("cnt"))
        .withColumn("nval", expr("(ssum - pmod(ssum, cnt)) div cnt"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, nval))), " +
          "p -> p.nval)").as("ncs"))
      val next = cent.join(upd, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("ncs"), col("cs")).as("cs"))
      // eager checkpoint + stats reset: lineage and join-size estimates
      // must not compound across iterations (see q174/q187)
      cent = pin(s, next)
    }
    cent
  }

  // ---------------- scale-derived serving geometry --------------------
  // The coarse-cell count of the SERVING index family (q74/q207/q217/
  // q220/q222-q227) rides the same corpus-scaling law as q49's blocking
  // codebook: k = max(4, floor(sqrt(n))/2), so expected cell occupancy
  // grows ~2*sqrt(n) instead of n/CK — per-probe work stays bounded as
  // the corpus grows (the round-6 verdict's "fixed IVF geometry" fix).
  // Production indexes do exactly this (cells ~ sqrt(n)); the blocking
  // (q49/q184/q197) and serving families share the one law, scaledK.

  /** Corpus-scaling centroid count, shared with q49: k = max(4,
    * floor(sqrt(n))/2) — expected block population ~2*sqrt(n).
    */
  private[ops] def scaledK(n: Long): Int =
    math.max(4L, math.floor(math.sqrt(n.toDouble)).toLong / 2).toInt

  /** Corpus-derived coarse-cell count for the serving index over `e`. */
  private[ops] def servingK(e: DataFrame): Int =
    scaledK(e.count())

  /** The same law as a one-row oracle CTE (named `kk`) over `src`. */
  private[ops] def kkCte(src: String = "embeddings"): String =
    s"kk AS (SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(COUNT(*) AS " +
      s"DOUBLE))) AS BIGINT) // 2) AS k FROM $src)"

  /** Scalar reference to the kk CTE, pluggable wherever oracleCtes takes
    * `k` as a SQL expression.
    */
  private[ops] val duckK = "(SELECT k FROM kk)"

  // ---------------- DuckDB oracle: unrolled Lloyd iterations ----------

  private[ops] def duckDot(emb: String, cs: String): String =
    s"list_reduce(list_transform(range(len($emb)), " +
      s"i -> CAST($emb[i+1] AS DOUBLE) * CAST($cs[i+1] AS DOUBLE)), " +
      "(a, b) -> a + b)"

  /** CTE chain `sv, cent0, cl0, as1, up1, cent1, cl1, ..., cl<iters>`
    * replaying the exact same fixed-point Lloyd iterations in DuckDB.
    * The final codebook is `cent<iters>` (long) / `cl<iters>` (lists).
    */
  private[ops] def oracleCtes(k: Int, iters: Int): String =
    oracleCtes(k.toString, iters)

  /** Variant with `k` as a SQL scalar expression (e.g. a subquery
    * computing a corpus-size-scaled centroid count — q49).
    */
  private[ops] def oracleCtes(k: String, iters: Int): String =
    oracleCtesSlice(k, iters, 0, 0, "")

  /** Variant with a custom training relation (a CTE name — q215). */
  private[ops] def oracleCtes(k: Int, iters: Int, src: String): String =
    oracleCtesSlice(k.toString, iters, 0, 0, "", src)

  /** Fully parameterized variant: trains on `list_slice(embedding,
    * off+1, off+len)` (len = 0 → the full vector) and suffixes every
    * CTE name with `tag`, so q202's product quantizer can lay M
    * independent per-subspace Lloyd chains side by side in one WITH.
    * `src` is the training relation (default the embeddings table —
    * q215 trains on a filtered CTE instead).
    */
  /** Every chain CTE is spelled `AS MATERIALIZED`: DuckDB inlines CTEs
    * by default, and a chain level referenced more than once (the final
    * cl is probed, assigned against, and residual-joined by the serving
    * gates; sv feeds every iteration) would re-execute the ENTIRE
    * unrolled training per reference — measured 554 s → 5.9 s on q220
    * at sf0.3. Materialization is semantics-preserving; only the oracle
    * dialect carries the hint.
    */
  private[ops] def oracleCtesSlice(
      k: String, iters: Int, off: Int, len: Int, tag: String,
      src: String = "embeddings"): String = {
    def emb(p: String): String =
      if (len == 0) s"${p}embedding"
      else s"list_slice(${p}embedding, ${off + 1}, ${off + len})"
    val sb = new StringBuilder
    // kmthr/kmtr/kmsvt: the bounded deterministic training sample —
    // the exact mirror of the Spark side's trainSample (seed rows
    // vec_id < k always admitted; Knuth-hash threshold for the rest;
    // saturates to the full corpus when n <= SAMPLE_PER_CELL·k = 64·k).
    // The constants interpolate from SAMPLE_PER_CELL/HASH_MOD/HASH_MULT
    // so retuning them can never desync the mirror, and vec_id masks to
    // HASH_MOD before multiplying (overflow-free — see trainSample).
    sb ++= s"""kmthr$tag AS (
      |  SELECT LEAST($HASH_MOD, ($HASH_MOD * $SAMPLE_PER_CELL * ($k)
      |    + GREATEST(CAST(COUNT(*) AS BIGINT), 1) - 1)
      |    // GREATEST(CAST(COUNT(*) AS BIGINT), 1)) AS t FROM $src),
      |kmtr$tag AS MATERIALIZED (
      |  SELECT * FROM $src
      |  WHERE vec_id < $k OR ((vec_id % $HASH_MOD) * $HASH_MULT) % $HASH_MOD <
      |    (SELECT t FROM kmthr$tag)),
      |sv$tag AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(${emb("")}, 1) - 1 AS pos,
      |    CAST(FLOOR(CAST(unnest(${emb("")}) AS DOUBLE) * 1000000 + 0.5)
      |      AS BIGINT) AS sval
      |  FROM $src),
      |kmsvt$tag AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(${emb("")}, 1) - 1 AS pos,
      |    CAST(FLOOR(CAST(unnest(${emb("")}) AS DOUBLE) * 1000000 + 0.5)
      |      AS BIGINT) AS sval
      |  FROM kmtr$tag),
      |cent0$tag AS MATERIALIZED (
      |  SELECT vec_id AS cid, pos, sval AS cval FROM kmsvt$tag
      |  WHERE vec_id < $k),
      |cl0$tag AS MATERIALIZED (
      |  SELECT cid, list(cval ORDER BY pos) AS cs
      |  FROM cent0$tag GROUP BY cid)""".stripMargin
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
      |as$i$tag AS MATERIALIZED (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${duckDot(emb("e."), "c.cs")} DESC, c.cid ASC)
      |        AS rn
      |    FROM kmtr$tag e, cl$p$tag c) WHERE rn = 1),
      |up$i$tag AS MATERIALIZED (
      |  SELECT a.cid, s.pos, CAST(SUM(s.sval) AS BIGINT) AS ssum,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM as$i$tag a JOIN kmsvt$tag s ON a.vec_id = s.vec_id
      |  GROUP BY a.cid, s.pos),
      |cent$i$tag AS MATERIALIZED (
      |  SELECT p.cid, p.pos,
      |    COALESCE((u.ssum - (((u.ssum % u.cnt) + u.cnt) % u.cnt)) // u.cnt,
      |      p.cval) AS cval
      |  FROM cent$p$tag p LEFT JOIN up$i$tag u
      |    ON p.cid = u.cid AND p.pos = u.pos),
      |cl$i$tag AS MATERIALIZED (
      |  SELECT cid, list(cval ORDER BY pos) AS cs
      |  FROM cent$i$tag GROUP BY cid)""".stripMargin
    }
    sb.result()
  }

  private val K = 8
  private val ITERS = 3
  private val SK = 4 // q248: fixed small k — sampling active at sf0.01
  private val SITERS = 2 // q248: Lloyd iterations

  val queries: Seq[Q] = Seq(
    // E7: the codebook-training gate itself. Output: the full trained
    // codebook in long form (cid, pos, cval fixed-point) plus each
    // cluster's population under the final codebook. The oracle replays
    // all three Lloyd iterations as an unrolled CTE chain — every
    // centroid coordinate must match to the last fixed-point digit.
    Q(
      "q196_kmeans_codebook",
      s"""WITH ${oracleCtes(K, ITERS)},
         |asF AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.cs")} DESC, c.cid ASC)
         |        AS rn
         |    FROM embeddings e, cl$ITERS c) WHERE rn = 1),
         |sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM asF GROUP BY cid)
         |SELECT c.cid, CAST(c.pos AS BIGINT) AS pos, c.cval,
         |  COALESCE(z.n, 0) AS n_members
         |FROM cent$ITERS c LEFT JOIN sizes z ON c.cid = z.cid
         |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = codebook(s, e, K, ITERS)
      val sizes = assign(e, cb).groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"))
      cb.select(col("cid"), posexplode(col("cs")).as(Seq("pos", "cval")))
        .join(broadcast(sizes), Seq("cid"), "left")
        .select(col("cid"), col("pos").cast("bigint").as("pos"),
          col("cval"), coalesce(col("n_members"), lit(0L)).as("n_members"))
        .orderBy(col("cid"), col("pos"))
    },

    // E7: SAMPLED CODEBOOK with a fixed small k — the geometry that
    // makes the round-8 Knuth-hash training sample ACTIVE at the
    // sf0.01 hard gate (64·4 = 256 < 500): the hard correctness
    // signal itself now hash-verifies the sampled Lloyd path, with the
    // admitted-sample size and threshold as output columns.
    Q(
      "q248_sampled_codebook_small",
      s"""WITH ${oracleCtes(SK, SITERS)},
         |asF AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM embeddings e, cl$SITERS c) WHERE rn = 1),
         |sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM asF GROUP BY cid),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM kmtr),
         |th AS (SELECT CAST(t AS BIGINT) AS thr FROM kmthr)
         |SELECT c.cid, CAST(c.pos AS BIGINT) AS pos, c.cval,
         |  COALESCE(z.n, 0) AS n_members, nt.n_train, th.thr
         |FROM cent$SITERS c LEFT JOIN sizes z ON c.cid = z.cid, nt, th
         |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = codebook(s, e, SK, SITERS)
      val sizes = assign(e, cb).groupBy(col("cid"))
        .agg(count(lit(1)).cast("bigint").as("n_members"))
      val thr = sampleThreshold(e.count(), SK)
      val nTrain = trainSample(e, SK)
        .agg(count(lit(1)).cast("bigint").as("n_train"))
      cb.select(col("cid"), posexplode(col("cs")).as(Seq("pos", "cval")))
        .join(broadcast(sizes), Seq("cid"), "left")
        .crossJoin(broadcast(nTrain))
        .select(col("cid"), col("pos").cast("bigint").as("pos"),
          col("cval"),
          coalesce(col("n_members"), lit(0L)).as("n_members"),
          col("n_train"), lit(thr).as("thr"))
        .orderBy(col("cid"), col("pos"))
    }
  )
}
