package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 additions: ANN bucket-boundedness telemetry, a transactional
  * commit-protocol envelope over the MERGE dataflow, and the hash-path
  * exact-dedup formulation. Shared determinism discipline: cross-row
  * aggregation is integer-only; the per-row md5 digests both engines
  * compute are bit-identical, and table fingerprints are SUMs of per-row
  * integer folds — order-independent, partial-aggregatable, and therefore
  * the 100 TB-safe way to compare two table states.
  */
object Round5Ops {

  // ------------------------------------------------------------------
  // q197: bucket-size telemetry for the ANN blocking paths
  // ------------------------------------------------------------------

  /** Corpus-scaling centroid count, shared with q49: k = max(4,
    * floor(sqrt(n))/2) — expected block population ~2*sqrt(n).
    */
  private[ops] def scaledK(n: Long): Int =
    math.max(4L, math.floor(math.sqrt(n.toDouble)).toLong / 2).toInt

  private[ops] val duckScaledK =
    "SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) " +
      "AS BIGINT) // 2) AS k FROM embeddings"

  /** Corpus-scaling signature width: smallest w in [4, 24] with
    * 2^w * 64 >= n, so the expected bucket population stays ~64 no
    * matter the corpus size — the "derive the constants from N" the
    * fixed 8-bit demo signature lacked. A 100 TB corpus (n ~ 1e10)
    * lands at w = 24 (16.7M buckets).
    */
  private[ops] def sigBits(n: Long): Int = {
    var w = 4
    while (w < 24 && (64L << w) < n) w += 1
    w
  }

  /** The same width formula as a pure integer SQL CASE chain (no
    * floating log2 — engine-exact at every boundary).
    */
  private val duckSigBits: String =
    "CASE " + (4 to 23).map(w => s"WHEN n <= ${64L << w} THEN $w")
      .mkString(" ") + " ELSE 24 END"

  /** One-row integer bucket-population stats for a (bucket, size) frame:
    * item count, bucket count, max bucket, mean×100, max-bucket share in
    * ppm, and skew×100 (= max/mean ×100) — the number that must stay flat
    * as the corpus grows for the blocking path to be scale-safe.
    */
  private def bucketStats(path: String, buckets: DataFrame): DataFrame =
    buckets.agg(
      sum(col("bs")).as("n_items"),
      count(lit(1)).as("n_buckets"),
      max(col("bs")).as("max_bucket"))
      .select(lit(path).as("path"), col("n_items"), col("n_buckets"),
        col("max_bucket"),
        expr("(n_items * 100) div n_buckets").as("mean_x100"),
        expr("(max_bucket * 1000000) div n_items").as("max_share_ppm"),
        expr("(max_bucket * 100 * n_buckets) div n_items").as("skew_x100"))

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
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(md5(CAST(k AS VARCHAR) || '|' || " +
      "CAST(CAST(v AS DECIMAL(18,2)) AS VARCHAR)), ''), " +
      "c -> CAST(unicode(c) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"

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
    // E7 telemetry: bucket-boundedness for BOTH ANN blocking paths —
    // q52's 8-bit hyperplane signatures and the trained-centroid blocks
    // q49/q74 key on. This is q139's MinHash diagnostic generalized to
    // the vector paths: the observability check that catches a
    // degenerate codebook or collapsed signature BEFORE a quadratic
    // bucket join runs. All stats are exact integer arithmetic from two
    // partial-agg group-bys; skew_x100 (max bucket over mean bucket) is
    // the scale invariant — it must stay bounded as the corpus grows,
    // and the slope sweep re-measures it at every SF.
    Q(
      "q197_ann_bucket_stats",
      s"""WITH kk AS ($duckScaledK),
         |${KMeans.oracleCtes("(SELECT k FROM kk)", 2)},
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM embeddings e, cl2 c) WHERE rn = 1),
         |cb AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS bs
         |  FROM asg GROUP BY cid),
         |sg AS (SELECT ${Similarity.sigExprDuck("embedding")} AS sig
         |  FROM embeddings),
         |sb AS (SELECT sig, CAST(COUNT(*) AS BIGINT) AS bs
         |  FROM sg GROUP BY sig),
         |stats AS (
         |  SELECT 'centroid' AS path, CAST(SUM(bs) AS BIGINT) AS n_items,
         |    CAST(COUNT(*) AS BIGINT) AS n_buckets, MAX(bs) AS max_bucket
         |  FROM cb
         |  UNION ALL
         |  SELECT 'hyperplane', CAST(SUM(bs) AS BIGINT),
         |    CAST(COUNT(*) AS BIGINT), MAX(bs)
         |  FROM sb)
         |SELECT path, n_items, n_buckets, max_bucket,
         |  (n_items * 100) // n_buckets AS mean_x100,
         |  (max_bucket * 1000000) // n_items AS max_share_ppm,
         |  (max_bucket * 100 * n_buckets) // n_items AS skew_x100
         |FROM stats ORDER BY path""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val k = scaledK(e.count())
      val cents = KMeans.assign(e, KMeans.codebook(s, e, k, 2))
        .groupBy(col("cid")).agg(count(lit(1)).as("bs"))
      val sigs = Similarity.withSig(s, e)
        .groupBy(col("sig")).agg(count(lit(1)).as("bs"))
      bucketStats("centroid", cents)
        .unionAll(bucketStats("hyperplane", sigs))
        .orderBy(col("path"))
    },

    // E7 scale parameterization: the hyperplane signature with its
    // width DERIVED from the corpus size (w = smallest in [4,24] with
    // 2^w * 64 >= n) instead of the fixed 8 bits q52 demonstrates —
    // per-probe candidate count stays ~64 = O(1) as the corpus grows,
    // not O(corpus/256). Narrower signatures are prefixes of wider
    // ones (same plane LCG), so re-widening as a corpus grows only
    // splits buckets, never reshuffles them. Output is the q197-style
    // bucket telemetry plus the chosen width, all exact integers.
    Q(
      "q201_scaled_sig_stats",
      s"""WITH ww AS (
         |  SELECT $duckSigBits AS w
         |  FROM (SELECT COUNT(*) AS n FROM embeddings)),
         |sg AS (
         |  SELECT ${Similarity.sigExprDuckW("embedding", "(SELECT w FROM ww)")}
         |    AS sig
         |  FROM embeddings),
         |sb AS (SELECT sig, CAST(COUNT(*) AS BIGINT) AS bs
         |  FROM sg GROUP BY sig)
         |SELECT 'scaled_sig' AS path,
         |  CAST((SELECT w FROM ww) AS BIGINT) AS sig_bits,
         |  CAST(SUM(bs) AS BIGINT) AS n_items,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  MAX(bs) AS max_bucket,
         |  (CAST(SUM(bs) AS BIGINT) * 100) // COUNT(*) AS mean_x100,
         |  (MAX(bs) * 1000000) // CAST(SUM(bs) AS BIGINT) AS max_share_ppm,
         |  (MAX(bs) * 100 * COUNT(*)) // CAST(SUM(bs) AS BIGINT)
         |    AS skew_x100
         |FROM sb""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val w = sigBits(e.count())
      val sb = Similarity.withSigW(s, e, w)
        .groupBy(col("sig")).agg(count(lit(1)).as("bs"))
      bucketStats("scaled_sig", sb)
        .select(col("path"), lit(w.toLong).as("sig_bits"), col("n_items"),
          col("n_buckets"), col("max_bucket"), col("mean_x100"),
          col("max_share_ppm"), col("skew_x100"))
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
    },

    // E6 exact dedup, hash path (the formulation q44's comment promised):
    // the 100 TB pass never ships document text to a shuffle — it
    // distincts on a 64-bit content digest (here the first 16 hex chars
    // of md5), with the full-width md5 as the collision check: if any
    // two distinct documents collided in the 64-bit prefix, the two
    // distinct counts would differ and n_hash64_collisions would be > 0.
    // Each shuffled row is a fixed-width digest regardless of document
    // size; COUNT(DISTINCT text) from q44 survives only in spirit — the
    // widest value this query moves is 32 bytes.
    Q(
      "q200_dedup_hash_path",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  COUNT(DISTINCT substr(md5(text), 1, 16)) AS n_unique,
        |  CAST(COUNT(*) AS BIGINT)
        |    - COUNT(DISTINCT substr(md5(text), 1, 16)) AS n_dup_docs,
        |  COUNT(DISTINCT md5(text))
        |    - COUNT(DISTINCT substr(md5(text), 1, 16))
        |    AS n_hash64_collisions
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(md5(col("text")).as("d128"),
          substring(md5(col("text")), 1, 16).as("h64"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h64")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("h64"))).as("n_dup_docs"),
          (countDistinct(col("d128")) - countDistinct(col("h64")))
            .as("n_hash64_collisions"))
    })
}
