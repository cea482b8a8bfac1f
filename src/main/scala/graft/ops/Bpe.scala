package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** BPE merge training — the tokenizer-training half of the token
  * pipeline (SURVEY.md §2.3 E8; q143 counts tokens with a FIXED
  * BPE-ish rule, this gate TRAINS the merge table itself, the step a
  * real training-data pipeline runs before any token budget can be
  * enforced). q210 (Round5Final) closes the loop by APPLYING the
  * trained merges to encode the corpus.
  *
  * Byte-pair encoding as an iterative dataflow, deterministic in both
  * engines:
  *  - Training runs over the WORD-FREQUENCY table, not the corpus: one
  *    corpus scan builds (word, freq), and every Lloyd-style merge
  *    iteration after that touches only the vocabulary — which grows
  *    Heaps-sublinearly with corpus size (measured in SCALE.md). That
  *    is the standard trick that makes BPE training feasible at 100 TB:
  *    the iterations ride |vocab|, not |corpus|.
  *  - A word's symbol sequence is carried as a delimited string
  *    `|sym||sym|...|sym|`. Applying a merge (pa, pb) -> papb is then
  *    `replace(s, '|pa||pb|', '|papb|')` — and because every symbol
  *    carries its OWN delimiters, left-to-right non-overlapping
  *    `replace` (the semantics BOTH Spark and DuckDB implement) is
  *    exactly BPE's greedy merge scan: `|a||a||a|` -> `|aa||a|`, the
  *    freshly merged symbol never re-merges in the same pass.
  *  - Pair counting explodes adjacent symbol pairs weighted by word
  *    freq; the winning pair is the 1-row partial-aggregatable
  *    `max(struct(cnt, pa, pb))` — ties break by (count, pa, pb)
  *    descending, binary string order, identical in both engines.
  *  - Each iteration ends in an eager localCheckpoint + stats reset
  *    (the q174/q187/q196 loop discipline).
  *
  * Output: one row per merge step — the learned pair, its weighted
  * count, and the corpus-weighted symbol count after applying it (the
  * number a token-budget planner actually consumes).
  */
object Bpe {

  private[ops] val STEPS = 5

  /** Symbol array from the delimited form (symbols are a-z only, so
    * trimming the outer pipes and splitting on `||` is exact).
    */
  private val arr = "split(trim(BOTH '|' FROM s), '\\\\|\\\\|')"

  /** Corpus-weighted symbol count of the current segmentation: each
    * symbol contributes exactly 2 pipes, so count pipes — no split.
    */
  private[ops] val nSyms =
    "CAST(SUM(f * ((length(s) - length(replace(s, '|', ''))) div 2)) " +
      "AS BIGINT)"

  /** Global (freq, delimited-symbols) vocabulary of the corpus — the
    * one corpus-scale scan; everything after rides |vocab|.
    */
  private[ops] def globalWords(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), " ")).as("w0"))
      .select(lower(col("w0")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("f"), regexp_replace(col("w"), "(.)", "|$1|").as("s"))

  /** Run STEPS merge-training iterations from the checkpointed w0.
    * Returns, per step, the 1-row winning-pair frame (pa, pb, cnt) and
    * the vocabulary AFTER applying that merge (checkpointed).
    */
  private[ops] def trainSteps(
      s: SparkSession, w0: DataFrame): Seq[(DataFrame, DataFrame)] = {
    var wf = pin(s, w0)
    var out: Seq[(DataFrame, DataFrame)] = Nil
    for (_ <- 1 to STEPS) {
      val best = wf
        .select(col("f"), explode(expr(
          s"zip_with(slice($arr, 1, size($arr) - 1), " +
            s"slice($arr, 2, size($arr) - 1), " +
            "(a, b) -> struct(a AS pa, b AS pb))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("f")).as("cnt"))
        .agg(max(struct(col("cnt"), col("pa"), col("pb"))).as("b"))
        .select(col("b.pa").as("pa"), col("b.pb").as("pb"),
          col("b.cnt").as("cnt"))
      val merged = wf.crossJoin(broadcast(best))
        .withColumn("s", expr(
          "replace(s, '|' || pa || '||' || pb || '|', " +
            "'|' || pa || pb || '|')"))
        .select(col("f"), col("s"))
      // eager checkpoint + stats reset each merge round (q174/q187)
      wf = pin(s, merged)
      out = out :+ (best, wf)
    }
    out
  }

  /** Oracle CTE chain `w0, p1, b1, w1, n1, ..., b<STEPS>, w<STEPS>,
    * n<STEPS>` replaying the same training in DuckDB. b<t> is the step-t
    * winning pair; w<t> the vocabulary after applying it.
    */
  private[ops] def trainCtes: String = trainCtes("")

  /** Variant with a WHERE clause restricting the TRAINING slice of
    * `documents` (q273 trains on a base split and scores held-out fit);
    * the empty default keeps q203/q210's oracle text unchanged.
    */
  private[ops] def trainCtes(where: String): String = {
    val sb = new StringBuilder
    sb ++= s"""w0 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS f,
      |    regexp_replace(w, '(.)', '|\\1|', 'g') AS s
      |  FROM (SELECT lower(unnest(string_split(text, ' '))) AS w
      |        FROM documents $where)
      |  WHERE regexp_matches(w, '^[a-z]+$$')
      |  GROUP BY w)""".stripMargin
    for (t <- 1 to STEPS) {
      val p = t - 1
      sb ++= s""",
      |p$t AS (
      |  SELECT a.sy[u.i] AS pa, a.sy[u.i + 1] AS pb, w.f
      |  FROM w$p w,
      |    LATERAL (SELECT string_split(trim(w.s, '|'), '||') AS sy) a,
      |    LATERAL (SELECT unnest(generate_series(1, len(a.sy) - 1)) AS i) u),
      |b$t AS (
      |  SELECT pa, pb, CAST(SUM(f) AS BIGINT) AS cnt FROM p$t
      |  GROUP BY pa, pb ORDER BY cnt DESC, pa DESC, pb DESC LIMIT 1),
      |w$t AS (
      |  SELECT w.f,
      |    replace(w.s, '|' || b.pa || '||' || b.pb || '|',
      |      '|' || b.pa || b.pb || '|') AS s
      |  FROM w$p w, b$t b),
      |n$t AS (SELECT CAST(SUM(f * ((length(s) -
      |    length(replace(s, '|', ''))) // 2)) AS BIGINT) AS n_syms
      |  FROM w$t)""".stripMargin
    }
    sb.result()
  }

  private def oracle: String =
    "WITH " + trainCtes + (1 to STEPS).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS step, b.pa, b.pb, b.cnt, n.n_syms
         |FROM b$t b, n$t n""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY step")

  val queries: Seq[Q] = Seq(
    Q("q203_bpe_train", oracle) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
      val steps = trainSteps(s, globalWords(d))
      steps.zipWithIndex.map { case ((best, wf), i) =>
        val nsy = wf.agg(expr(nSyms).as("n_syms"))
        best
          .withColumn("step", lit(i + 1L))
          .crossJoin(broadcast(nsy))
          .select(col("step"), col("pa"), col("pb"), col("cnt"),
            col("n_syms"))
      }.reduce(_.unionByName(_)).orderBy(col("step"))
    })
}
