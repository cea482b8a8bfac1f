package graft.ops

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over `embeddings` (SURVEY.md §2.3 E7 + training-data
  * mandate): brute-force cosine top-k (the correctness baseline), grouped
  * per-query top-k, hyperplane-LSH bucketed ANN (the scale path), and
  * MLlib MinHashLSH near-dup join on text (rows-only: its sketch is not
  * SQL-expressible in DuckDB).
  *
  * Vectors are unit-norm so cosine = dot product. Dot products are
  * sequential left-to-right double folds in BOTH engines → bit-identical,
  * making thresholds and rankings hash-stable.
  *
  * Scale shape: brute-force top-k broadcasts the (tiny) query set and
  * keeps per-partition heaps via TakeOrderedAndProject; LSH replaces the
  * full scan with an equi-join on bucket signature. At 100 TB the bucket
  * join is the only viable plan; the brute-force query stays as the
  * recall oracle on samples.
  */
object Similarity {

  /** Spark dot product of two array columns (sequential double fold). */
  private[ops] def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  /** DuckDB dot product (identical fold order). */
  private[ops] def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), " +
      s"i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  /** Deterministic pseudo-random hyperplane component for LSH: pure
    * integer LCG scaled by a power of two → exact double in both engines.
    * plane(j, i) for plane j (0..7), dimension i (0..63).
    */
  private val planeSql = // same text is valid Spark SQL and DuckDB SQL;
    // BIGINT cast: the product overflows INT (Spark 4 is ANSI by default)
    "(((CAST(1103515245 AS BIGINT) * (j * 64 + i) + 12345) % 2147483648) " +
      "/ 2147483648.0 - 0.5)"

  /** DuckDB-side 8-bit bucket signature: sign bits of the dots with the 8
    * hyperplanes (the Spark side uses codegen array_dot against literal
    * plane vectors built from the same integer LCG — identical doubles).
    */
  private[ops] def sigExprDuck(v: String): String = sigExprDuckW(v, "8")

  /** Width-parameterized variant: `w` is any SQL scalar expression (e.g.
    * a subquery deriving the signature width from the corpus size —
    * q201). Same plane LCG, so an 8-bit signature is a prefix of a
    * wider one.
    */
  private[ops] def sigExprDuckW(v: String, w: String): String =
    s"list_sum(list_transform(range(CAST($w AS BIGINT)), j -> " +
      s"CASE WHEN list_reduce(list_transform(range(64), i -> " +
      s"CAST($v[i + 1] AS DOUBLE) * $planeSql), (acc, x) -> acc + x) > 0 " +
      "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))"

  /** Add the 8-bit hyperplane-LSH signature column `sig` to an embeddings
    * frame (codegen array_dot against literal plane vectors built from the
    * same integer LCG the DuckDB oracle evaluates — identical doubles).
    * Shared by q52 (ANN lookup) and q140 (recall evaluation).
    */
  private[ops] def withSig(
      s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withSigW(s, df, 8)

  /** Width-parameterized variant (q201): `w` sign-bit planes from the
    * same integer LCG, so narrower signatures are prefixes of wider
    * ones and the width can scale with the corpus.
    */
  private[ops] def withSigW(
      s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = {
    val planes = (0 until w).map { j =>
      typedLit((0 until 64).map { i =>
        ((1103515245L * (j * 64 + i) + 12345) % 2147483648L) /
          2147483648.0 - 0.5
      })
    }
    val withPlanes = planes.zipWithIndex.foldLeft(df) { case (d, (p, j)) =>
      d.withColumn(s"plane_$j", p)
    }
    val sigCol = (0 until w).map { j =>
      when(expr(s"array_dot(embedding, plane_$j)") > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    withPlanes.select(col("vec_id"), col("embedding"), sigCol.as("sig"))
  }

  /** Exact shingle-Jaccard >= 0.8 pair SQL — q53's oracle (the MinHashLSH
    * candidates are recall-verified against this exact set). The
    * size-band join predicate is implied by J >= 0.8 (min(|A|,|B|) >=
    * 0.8*max) — it prunes the oracle's pair search, never its answer.
    */
  private val exactShingleJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i+1] || ' ' ||
      |           string_split(text, ' ')[i+2] || ' ' ||
      |           string_split(text, ' ')[i+3])) AS sg
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |ss AS (SELECT doc_id, sg, len(sg) AS n FROM sh)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  ROUND(CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sg, b.sg))), 6) AS jaccard
      |FROM ss a JOIN ss b
      |  ON a.doc_id < b.doc_id
      | AND a.n >= b.n * 0.8 AND b.n >= a.n * 0.8
      |WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sg, b.sg))) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

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
  private[ops] def bucketStats(path: String, buckets: DataFrame): DataFrame =
    buckets.agg(
      sum(col("bs")).as("n_items"),
      count(lit(1)).as("n_buckets"),
      max(col("bs")).as("max_bucket"))
      .select(lit(path).as("path"), col("n_items"), col("n_buckets"),
        col("max_bucket"),
        expr("(n_items * 100) div n_buckets").as("mean_x100"),
        expr("(max_bucket * 1000000) div n_items").as("max_share_ppm"),
        expr("(max_bucket * 100 * n_buckets) div n_items").as("skew_x100"))

  val queries: Seq[Q] = Seq(
    // E7 baseline: exact top-10 neighbors of vec 0 across the corpus.
    Q(
      "q50_knn_bruteforce",
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  ROUND(${duckDot("e.embedding", "q.qe")}, 6) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine DESC, vec_id ASC
         |LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr(dotExpr("embedding", "qe")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    },

    // E7 grouped top-k: top-3 neighbors for each of 5 query vectors via
    // ranking window over the broadcast-join fan-out.
    Q(
      "q51_knn_per_query",
      s"""SELECT * FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    ROUND(${duckDot("e.embedding", "q.embedding")}, 6) AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ROUND(${duckDot("e.embedding", "q.embedding")}, 6) DESC,
         |               e.vec_id ASC) AS rn
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5)
         |WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val cos = round(expr(dotExpr("embedding", "qe")), 6)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cos.as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("query_id"), col("rn"))
    },

    // E7 scale path: hyperplane-LSH bucketing. Candidates = vectors whose
    // 8-bit signature equals the query's; ranked by exact cosine. At scale
    // this is an equi-join on the signature — no corpus-wide scan per query.
    Q(
      "q52_ann_lsh",
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding,
         |    ${sigExprDuck("embedding")} AS sig
         |  FROM embeddings),
         |q AS (SELECT embedding AS qe, sig AS qsig FROM sigs WHERE vec_id = 0)
         |SELECT s.vec_id,
         |  ROUND(${duckDot("s.embedding", "q.qe")}, 6) AS cosine
         |FROM sigs s, q
         |WHERE s.sig = q.qsig AND s.vec_id <> 0
         |ORDER BY cosine DESC, vec_id ASC
         |LIMIT 5""".stripMargin) { (s, dir) =>
      // plane vectors precomputed driver-side with the SAME integer LCG
      // the oracle uses → bit-identical doubles; each signature bit is one
      // codegen array_dot against a literal plane instead of a ~64-step
      // interpreted HOF fold (2.3s → sub-second at sf0.1)
      val sigs = withSig(s, Tables.table(s, dir, "embeddings"))
      val q = sigs.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("sig").as("qsig"))
      sigs.join(broadcast(q), col("sig") === col("qsig"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(expr("array_dot(embedding, qe)"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },

    // E6/E7 MLlib scale path: MinHashLSH approx similarity self-join over
    // token-3-gram SHINGLE sets. Shingling (q79's front half) expands the
    // feature space from the ~40-word vocabulary to a huge shingle space —
    // this is the exact featurization a 100 TB near-dup pass runs. The
    // gate re-scores every emitted candidate with the EXACT shingle
    // Jaccard at >= 0.8, and the oracle recomputes that exact set with
    // q46's formula. LSH is recall-verified against the exact set at the
    // gate SFs; 6 OR-ed tables put the per-pair miss probability at
    // (1-0.8)^6 ≈ 6e-5. PINNED ASSUMPTION: the gate compares the LSH
    // candidate set EXACTLY against the exact-Jaccard oracle, which holds
    // only while Spark's seeded MinHashLSH/HashingTF hash functions stay
    // stable (true for the pinned Spark 4.1.2). If a Spark upgrade ever
    // reshuffles the sketch, re-gate on measured recall >= threshold
    // (q140's pattern) — q171 is the deterministic exact-guarantee
    // alternative either way.
    Q(
      "q53_minhash_lsh_ml",
      exactShingleJaccardSql) { (s, dir) =>
      // Shingle arrays are sorted ONCE per doc (array_sort is per-doc,
      // not per-pair) so the exact rescoring can use the zero-allocation
      // merge kernel token_jaccard_sorted instead of per-pair hash sets —
      // the rescoring join was 54 of the 60 s this query cost at sf1.
      val shingles =
        "array_sort(array_distinct(transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', element_at(toks, i + 1), " +
          "element_at(toks, i + 2), element_at(toks, i + 3)))))"
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), expr(shingles).as("sg"))
      val tf = new HashingTF().setInputCol("sg").setOutputCol("features")
        .setNumFeatures(1 << 18).setBinary(true)
      val featured = tf.transform(docs)
      val lsh = new MinHashLSH().setInputCol("features").setOutputCol("sig")
        .setNumHashTables(6).setSeed(42L)
      val model = lsh.fit(featured)
      // materialize the signed frame ONCE: the candidate self-join
      // consumes it twice, and without this the shingle + minhash
      // computation runs twice (measured ~2x on the whole query)
      val signed = pin(s, model.transform(featured))
      // Candidate join done MANUALLY on the (table, minhash) composite
      // key instead of model.approxSimilarityJoin: the MLlib join
      // explodes the same keys internally but then computes a hashed
      // distance per DUPLICATE candidate with the full shingle arrays
      // riding every copy through the shuffle — measured superlinear
      // (slope 1.45, 93 s at sf1). Joining on bucket equality, reducing
      // to DISTINCT id pairs FIRST (a fixed-width shuffle), and
      // exact-scoring each survivor ONCE is the q46/q171 banded-join
      // discipline; it is also strictly higher-recall — a pair is missed
      // only when ALL 6 tables differ: (1-J)^6 ~ 6e-5.
      //
      // Two bounds tame the bucket blowup this corpus's SATURATING
      // shingle space causes (31-word vocab => ~30k possible shingles,
      // so past ~sf0.3 new docs land in EXISTING minhash buckets and
      // per-bucket pairs grow n² — measured slope 1.12, 30 s at sf1):
      //  1. EXACT size-ratio predicate in the join: J >= 0.8 forces
      //     5*min(|A|,|B|) >= 4*max — the same length filter the oracle's
      //     pair search uses, so it can never drop a true pair (verified
      //     identical output at sf0.01/0.1/1). Cuts candidate pairs ~4x
      //     BEFORE the distinct + scoring shuffles.
      //  2. DF-capped posting lists (q177's bounded-posting discipline):
      //     each (table, minhash) bucket keeps its first DF_CAP=64 docs,
      //     bounding total pairs by 3*n*DF_CAP — linear in the corpus. A
      //     no-op at the gate SFs (max bucket df: 8 at sf0.01, 31 at
      //     sf0.1) and verified pair-identical at sf1 (max df 179): a
      //     pair dropped from one table's degenerate bucket re-surfaces
      //     via the other 5 OR-ed tables, whose minhashes are
      //     independent. This is the bound that holds at 100x, where a
      //     boilerplate-heavy real corpus has the same saturating tail.
      val DF_CAP = 64
      val keys = signed.select(col("doc_id"), size(col("sg")).as("nsg"),
        posexplode(col("sig")).as(Seq("t", "h")))
        .select(col("doc_id"), col("nsg"), col("t"),
          org.apache.spark.ml.functions.vector_to_array(col("h"))
            .getItem(0).as("hv"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("t"), col("hv")).orderBy(col("doc_id"))))
        .filter(col("rn") <= DF_CAP).drop("rn")
      val cand = keys.as("ka").join(keys.as("kb"),
        col("ka.t") === col("kb.t") && col("ka.hv") === col("kb.hv") &&
          col("ka.doc_id") < col("kb.doc_id") &&
          least(col("ka.nsg"), col("kb.nsg")) * 5 >=
            greatest(col("ka.nsg"), col("kb.nsg")) * 4)
        .select(col("ka.doc_id").as("doc_a"), col("kb.doc_id").as("doc_b"))
        .distinct()
      val sgOnly = signed.select(col("doc_id"), col("sg"))
      val jac = expr("token_jaccard_sorted(sg_a, sg_b)")
      cand
        .join(sgOnly.select(col("doc_id").as("doc_a"), col("sg").as("sg_a")),
          "doc_a")
        .join(sgOnly.select(col("doc_id").as("doc_b"), col("sg").as("sg_b")),
          "doc_b")
        .filter(jac >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Exact set-similarity self-join via PREFIX FILTERING (the ppjoin
    // family) — the deterministic complement to q53's LSH, run under the
    // SAME corpus blocking contract as q46 (same lang, |Δn_chars| <= 5)
    // with 3-gram SHINGLES as the set payload instead of q46's token
    // sets. Candidates come from Dedup.prefixBandPairs — ONE proven
    // (lang, prefix-element, length-band) composite implementation
    // serves the whole family — so the guarantee stays EXACT (ppjoin:
    // under a global rare-first order, J >= 0.8 forces a shared prefix
    // element; the band key is implied by the length predicate; both
    // proofs in Dedup.scala) with no LSH miss probability. The composite
    // key matters at scale: a prefix-shingle-ONLY join (this query's
    // pre-round-4 shape) lets the commonest prefix shingle of a
    // boilerplate-heavy corpus fatten one bucket with no second key to
    // split it — (lang, pt, band) bounds every bucket by construction
    // (and cut this query 10.0 s → ~2 s at sf0.1). q53 remains the
    // unblocked LSH variant recall-verified against its exact oracle.
    Q(
      "q171_prefix_filter_join",
      """WITH sh AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(
        |      range(len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2] || ' ' ||
        |           string_split(text, ' ')[i+3])) AS sg
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sg, b.sg))), 6) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 5
        |WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sg, b.sg))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val shingles =
        "array_distinct(transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', element_at(toks, i + 1), " +
          "element_at(toks, i + 2), element_at(toks, i + 3))))"
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr(shingles).as("sg"))
      val jac = expr("token_jaccard(sg_a, sg_b)")
      Dedup.prefixBandPairs(docs, "sg")
        .filter(jac >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // E7 evaluation: recall@10 of the hyperplane-LSH index (q52's
    // signature) against exact brute-force ground truth (q50's ranking)
    // for 5 probe queries — the index-quality gate an ANN deployment
    // monitors continuously. Ground truth runs on the (tiny) probe set
    // only — broadcast fan-out + per-query top-k window, exactly the
    // "recall oracle on samples" role q50 documents; candidates come from
    // the signature equi-join. At 100 TB this evaluates the production
    // index on a sampled probe set at constant cost.
    Q(
      "q140_ann_recall",
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding, ${sigExprDuck("embedding")} AS sig
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, sig AS qsig
         |      FROM sigs WHERE vec_id < 5),
         |ranked AS (
         |  SELECT q.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ROUND(${duckDot("e.embedding", "q.qe")}, 6) DESC,
         |               e.vec_id ASC) AS rn
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |topk AS (SELECT query_id, vec_id FROM ranked WHERE rn <= 10),
         |cand AS (
         |  SELECT q.query_id, s.vec_id
         |  FROM sigs s JOIN q ON s.sig = q.qsig AND s.vec_id <> q.query_id),
         |nc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM cand GROUP BY query_id)
         |SELECT topk.query_id,
         |  CAST(COALESCE(MAX(nc.n), 0) AS BIGINT) AS n_candidates,
         |  CAST(SUM(CASE WHEN cand.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(CASE WHEN cand.vec_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS DOUBLE) / 10, 6) AS recall10
         |FROM topk
         |LEFT JOIN cand ON topk.query_id = cand.query_id
         |               AND topk.vec_id = cand.vec_id
         |LEFT JOIN nc ON topk.query_id = nc.query_id
         |GROUP BY topk.query_id
         |ORDER BY topk.query_id""".stripMargin) { (s, dir) =>
      val sigs = withSig(s, Tables.table(s, dir, "embeddings"))
      val sg = pin(s, sigs)
      val q = sg.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("sig").as("qsig"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
      val topk = sg.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(expr("array_dot(embedding, qe)"), 6).as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("vec_id"))
      val cand = sg.join(broadcast(q.select(col("query_id"), col("qsig"))),
          col("sig") === col("qsig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id").as("cq"), col("vec_id").as("cv"))
      val nc = cand.groupBy(col("cq")).agg(count(lit(1)).as("n"))
      val hits = sum(when(col("cv").isNotNull, 1).otherwise(0))
      topk
        .join(cand, col("query_id") === col("cq")
          && col("vec_id") === col("cv"), "left")
        .join(nc.withColumnRenamed("cq", "nq"),
          col("query_id") === col("nq"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(max(col("n")), lit(0L)).as("n_candidates"),
          hits.as("n_hits"),
          round(hits.cast("double") / 10, 6).as("recall10"))
        .orderBy(col("query_id"))
    },

    // Late-interaction (ColBERT-style) max-sim retrieval: each 64-dim
    // vector is treated as 4 x 16-dim sub-vectors (a multi-vector record
    // in miniature); score(q, d) = sum over query sub-vectors of the MAX
    // dot product against any doc sub-vector. All 16 sub-dots are
    // sequential folds (bit-identical across engines), the 4 maxes are
    // GREATEST, and the final sum is a FIXED-ORDER addition chain — never
    // a grouped SUM of doubles. Scale shape: this full scan is the
    // correctness baseline; production prefilters candidates per
    // sub-vector with q52's signature join (any sub-vector match recalls
    // the pair), then re-ranks exactly — the same two-tier pattern as
    // q140.
    Q(
      "q159_maxsim_multivector", {
        def sub(qs: Int, ds: Int): String =
          s"list_reduce(list_transform(range(16), i -> " +
            s"CAST(e.embedding[${ds * 16} + i + 1] AS DOUBLE) * " +
            s"CAST(q.qe[${qs * 16} + i + 1] AS DOUBLE)), (x, y) -> x + y)"
        val ms = (0 until 4).map { qs =>
          s"GREATEST(${(0 until 4).map(ds => sub(qs, ds)).mkString(", ")}) " +
            s"AS m$qs"
        }.mkString(",\n    ")
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings
           |  WHERE vec_id = 7),
           |s AS (
           |  SELECT e.vec_id,
           |    $ms
           |  FROM embeddings e, q WHERE e.vec_id <> 7)
           |SELECT vec_id, ROUND(((m0 + m1) + m2) + m3, 6) AS maxsim
           |FROM s
           |ORDER BY maxsim DESC, vec_id
           |LIMIT 8""".stripMargin
      }) { (s, dir) =>
      def sub(qs: Int, ds: Int): String =
        s"aggregate(zip_with(slice(embedding, ${ds * 16 + 1}, 16), " +
          s"slice(qe, ${qs * 16 + 1}, 16), " +
          "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
      val e = Tables.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7).select(col("embedding").as("qe"))
      val withMax = (0 until 4).foldLeft(
        e.filter(col("vec_id") =!= 7).crossJoin(broadcast(q))) { (d, qs) =>
        d.withColumn(s"m$qs",
          greatest((0 until 4).map(ds => expr(sub(qs, ds))): _*))
      }
      withMax
        .select(col("vec_id"),
          round(((col("m0") + col("m1")) + col("m2")) + col("m3"), 6)
            .as("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id"))
        .limit(8)
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
         |  SELECT ${sigExprDuckW("embedding", "(SELECT w FROM ww)")}
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
      val sb = withSigW(s, e, w)
        .groupBy(col("sig")).agg(count(lit(1)).as("bs"))
      bucketStats("scaled_sig", sb)
        .select(col("path"), lit(w.toLong).as("sig_bits"), col("n_items"),
          col("n_buckets"), col("max_bucket"), col("mean_x100"),
          col("max_share_ppm"), col("skew_x100"))
    })
}
