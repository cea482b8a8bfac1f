package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality surface for training-data pipelines: a declarative
  * constraint suite evaluated in ONE scan (the Deequ shape), and parquet
  * schema evolution via mergeSchema reads (the data-lake reality that
  * yesterday's files lack today's columns).
  */
object QualityOps {

  val queries: Seq[Q] = Seq(
    // Constraint suite over `documents`: each check is an aggregate over
    // the same single scan (conditional counts), emitted as one row per
    // constraint with its metric and pass/fail. At 100 TB this runs at
    // scan speed — no per-constraint pass, no shuffle beyond the 1-row
    // aggregate — and is the gate a pipeline evaluates before promoting
    // a snapshot.
    Q(
      "q121_quality_constraints",
      """WITH m AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(DISTINCT doc_id) AS n_ids,
        |    SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
        |      AS n_empty_text,
        |    SUM(CASE WHEN lang NOT IN ('en','de','fr','es','pt','zh')
        |             THEN 1 ELSE 0 END) AS n_bad_lang,
        |    SUM(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END) AS n_bad_len,
        |    SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
        |      AS n_len_mismatch
        |  FROM documents)
        |SELECT c.constraint_name, CAST(c.metric AS BIGINT) AS metric,
        |  CASE WHEN c.metric = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM m, LATERAL (VALUES
        |  ('unique_doc_id',      m.n_rows - m.n_ids),
        |  ('non_empty_text',     m.n_empty_text),
        |  ('known_language',     m.n_bad_lang),
        |  ('positive_length',    m.n_bad_len),
        |  ('length_consistency', m.n_len_mismatch))
        |  AS c(constraint_name, metric)
        |ORDER BY c.constraint_name""".stripMargin) { (s, dir) =>
      val langs = Seq("en", "de", "fr", "es", "pt", "zh")
      val m = Tables.table(s, dir, "documents").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_ids"),
        sum(when(col("text").isNull || col("text") === "", 1).otherwise(0))
          .as("n_empty_text"),
        sum(when(!col("lang").isin(langs: _*), 1).otherwise(0))
          .as("n_bad_lang"),
        sum(when(col("n_chars") <= 0, 1).otherwise(0)).as("n_bad_len"),
        sum(when(col("n_chars") =!= length(col("text")), 1).otherwise(0))
          .as("n_len_mismatch"))
      val checks = m.select(
        map(
          lit("unique_doc_id"), col("n_rows") - col("n_ids"),
          lit("non_empty_text"), col("n_empty_text"),
          lit("known_language"), col("n_bad_lang"),
          lit("positive_length"), col("n_bad_len"),
          lit("length_consistency"), col("n_len_mismatch")).as("m"))
        .select(explode(col("m")).as(Seq("constraint_name", "metric")))
      checks
        .withColumn("status",
          when(col("metric") === 0, "pass").otherwise("fail"))
        .orderBy(col("constraint_name"))
    },

    // Schema evolution: v1 files lack a column that v2 files carry;
    // mergeSchema unions the footers and back-fills nulls. The oracle
    // reconstructs the same frame from the source table (v1 rows with a
    // NULL quality column). At 100 TB this is why new pipeline columns
    // don't require rewriting history.
    Q(
      "q122_schema_evolution",
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 = 1
        |       THEN CAST(n_chars AS DOUBLE) / 1000 END AS quality
        |FROM documents
        |WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // deterministic scratch, built ONCE per corpus content (round-14
      // advice: the previous wipe-and-rebuild-per-run could interleave
      // its delete with another JVM's reads). Re-runs now converge
      // without ever deleting what a concurrent reader may hold open.
      val scratch = ArtifactStore.root(
        s"graft_evolve_${VecIndex.dirDigest(dir)}")
      ArtifactStore.buildOnce(scratch,
          s"evolve:v1:${ArtifactStore.tableFileSig(dir, "documents")}") {
        val docs = Tables.table(s, dir, "documents")
          .filter(col("doc_id") < 50)
        docs.filter(col("doc_id") % 2 === 0) // v1: no quality column
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$scratch/v=1")
        docs.filter(col("doc_id") % 2 === 1) // v2: adds quality
          .select(col("doc_id"), col("lang"),
            (col("n_chars").cast("double") / 1000).as("quality"))
          .write.mode("overwrite").parquet(s"$scratch/v=2")
      }
      ArtifactStore.readParquet(s, Seq(s"$scratch/v=1", s"$scratch/v=2"),
          Map("mergeSchema" -> "true"))
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // Modern SQL ergonomics: GROUP BY ALL (implicit grouping keys) and
    // IDENTIFIER() (safe late-bound table/column names — the injection-
    // proof version of the reference's qident string quoting, P5/S15).
    Q(
      "q124_group_by_all_identifier",
      """SELECT lang, source, COUNT(*) AS n,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS total_chars
        |FROM documents
        |GROUP BY ALL
        |ORDER BY lang, source""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT lang, source, COUNT(*) AS n,
          |  CAST(SUM(CAST(IDENTIFIER(:metric) AS DECIMAL(18,0))) AS DOUBLE)
          |    AS total_chars
          |FROM IDENTIFIER(:tbl)
          |GROUP BY ALL
          |ORDER BY lang, source""".stripMargin,
        Map("tbl" -> "documents", "metric" -> "n_chars"))
    })
}
