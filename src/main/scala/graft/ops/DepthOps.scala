package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Depth batch: LATERAL correlated subqueries, recursive CTEs (date
  * spine), ordered-set/robust aggregates, a full manual TF-IDF pipeline,
  * and connected-components clustering of near-duplicate pairs — the step
  * that turns pairwise dedup output into per-document cluster ids.
  */
object DepthOps {

  val queries: Seq[Q] = Seq(
    // LATERAL correlated subquery: top-2 customers per nation, the
    // "for each row, run this dependent subquery" shape. Catalyst plans
    // the decorrelated window equivalent; DuckDB executes LATERAL as-is.
    Q(
      "q110_lateral_topk",
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n.n_name, t.c_custkey, t.c_acctbal
          |FROM nation n, LATERAL (
          |  SELECT c_custkey, c_acctbal FROM customer c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
    },

    // Recursive CTE: generate a daily spine (the canonical gap-filling
    // tool) and left-join per-day event counts so empty days surface as 0.
    Q(
      "q111_recursive_date_spine",
      """WITH RECURSIVE days(d) AS (
        |  SELECT TIMESTAMP '2024-01-01 00:00:00'
        |  UNION ALL
        |  SELECT d + INTERVAL 1 DAY FROM days
        |  WHERE d < TIMESTAMP '2024-01-30 00:00:00')
        |SELECT days.d, COUNT(e.event_id) AS n
        |FROM days LEFT JOIN events e ON date_trunc('day', e.ts) = days.d
        |GROUP BY days.d
        |ORDER BY days.d""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH RECURSIVE days(d) AS (
          |  SELECT TIMESTAMP '2024-01-01 00:00:00'
          |  UNION ALL
          |  SELECT d + INTERVAL 1 DAY FROM days
          |  WHERE d < TIMESTAMP '2024-01-30 00:00:00')
          |SELECT days.d, COUNT(e.event_id) AS n
          |FROM days LEFT JOIN events e ON date_trunc('day', e.ts) = days.d
          |GROUP BY days.d
          |ORDER BY days.d""".stripMargin)
    },

    // Ordered-set / robust aggregates: exact median and interpolated vs
    // discrete quantiles per group (percentile_disc picks the smallest
    // value whose cumulative distribution reaches p — same in DuckDB).
    Q(
      "q112_robust_stats",
      """SELECT o_orderpriority,
        |  ROUND(median(o_totalprice), 4) AS med,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  quantile_disc(o_totalprice, 0.75) AS p75_disc,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(median(col("o_totalprice")), 4).as("med"),
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p75_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // Full manual TF-IDF (E8): tokenize -> per-doc term counts -> document
    // frequency -> smooth idf -> top-3 terms for the first 5 docs. Unlike
    // HashingTF this is hash-free, so the DuckDB oracle reproduces it
    // bit-for-bit (ln() ulp noise absorbed by round-6).
    Q(
      "q113_tfidf_topterms",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |total AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    ROUND(tf.tf * ln(1.0 + CAST(total.n AS DOUBLE) / dfreq.df), 6)
        |      AS tfidf
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN total),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term) AS rn
        |  FROM scored WHERE doc_id < 5)
        |SELECT doc_id, term, tfidf FROM ranked
        |WHERE rn <= 3
        |ORDER BY doc_id, tfidf DESC, term""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val toks = docs
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "term")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(lit(1.0) + col("n").cast("double") / col("df")),
            6).as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      scored.filter(col("doc_id") < 5)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    },

    // Connected components over the near-dup pair graph (q46's edge
    // definition): each clustered document labeled with the min doc_id of
    // its component. Spark side: iterative min-label propagation to a
    // fixpoint — each step is one shuffle join on the (tiny) edge set; the
    // loop condition is an aggregate, never a data collect. The oracle is
    // a recursive CTE computing the same transitive closure.
    Q(
      "q114_neardup_components",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(string_split(text, ' ')) AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM toks a JOIN toks b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(a.n_chars - b.n_chars) <= 5
        |  WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.8),
        |edges AS (
        |  SELECT a, b FROM pairs
        |  UNION SELECT b, a FROM pairs
        |  UNION SELECT a, a FROM pairs
        |  UNION SELECT b, b FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, MIN(b) AS component
        |FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          array_distinct(split(col("text"), " ")).as("tk"))
      val jac = expr("token_jaccard(tk_a, tk_b)")
      val pairs = Dedup.prefixBandPairs(docs, "tk")
        .filter(jac >= 0.8)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      // Edge generation is the distributed, expensive part (banded
      // all-pairs). The component step goes through Components.label: edge
      // sets that fit one task (here ~50k pairs from 5k docs) run
      // single-task union-find behind a repartition(1) boundary; bigger
      // edge sets automatically switch to the distributed min-label
      // contraction loop (with the localCheckpoint + stats-reset pattern
      // per round). ComponentsSpec pins both paths to the same labeling.
      Components.label(s, pairs).orderBy(col("doc_id"))
    })
}
