package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Text-analysis operators over `documents` (SURVEY.md §2.3 E8 + the
  * training-data-pipeline mandate): token statistics, quality scoring,
  * language-ID heuristic, and document fingerprinting (rolling hash).
  *
  * All per-document — embarrassingly parallel, no shuffle except the final
  * presentation sort; at 100 TB these run as a single map stage over the
  * corpus. Scoring arithmetic is integer/rational only (no transcendental
  * functions) so Spark and DuckDB produce bit-identical doubles.
  */
object TextOps {

  /** Shared stopword list (these appear in the synthetic vocabulary). */
  private val stopwords = Seq("the", "a", "of", "and")
  private def stopSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  val queries: Seq[Q] = Seq(
    // E8: token counting — whitespace tokenization, distinct counts,
    // average token length.
    Q(
      "q40_token_stats",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  ROUND(CAST(list_sum(list_transform(string_split(text, ' '),
        |      t -> len(t))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS avg_token_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          round(
            expr("aggregate(transform(split(text, ' '), t -> length(t)), " +
              "0L, (a, x) -> a + x)").cast("double") / size(toks), 6)
            .as("avg_token_len"))
        .orderBy(col("doc_id"))
    },

    // E8: quality scoring — stopword ratio, char length, type-token ratio;
    // purely rational arithmetic, identical in both engines.
    Q(
      "q41_quality_score",
      s"""SELECT doc_id, lang,
         |  ROUND(CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopSqlList))) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS stop_ratio,
         |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS type_token_ratio,
         |  ROUND(1.0 - CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopSqlList))) AS DOUBLE)
         |      / len(string_split(text, ' ')) * 0.5
         |    + LEAST(n_chars, 400) / 1000.0, 6) AS quality
         |FROM documents
         |WHERE n_chars >= 100
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val stopList = stopwords.map(w => s"'$w'").mkString(", ")
      val nStop = size(expr(
        s"filter(split(text, ' '), t -> t IN ($stopList))")).cast("double")
      val stopRatio = nStop / size(toks)
      Tables.table(s, dir, "documents")
        .filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("lang"),
          round(stopRatio, 6).as("stop_ratio"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 6)
            .as("type_token_ratio"),
          round(lit(1.0) - stopRatio * 0.5 +
            least(col("n_chars"), lit(400)) / 1000.0, 6).as("quality"))
        .orderBy(col("doc_id"))
    },

    // E8: language-ID heuristic — charset check (CJK) then
    // stopword-marker matching, identical CASE in both engines. The
    // synthetic corpus is English-vocabulary for every lang label, so the
    // interesting output is the confusion matrix against the label.
    Q(
      "q42_lang_id",
      """SELECT lang AS lang_label,
        |  CASE
        |    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |    WHEN text LIKE '% der %' OR text LIKE '% und %' THEN 'de'
        |    WHEN text LIKE '% le %' OR text LIKE '% une %' THEN 'fr'
        |    WHEN text LIKE '% el %' OR text LIKE '% los %' THEN 'es'
        |    ELSE 'en'
        |  END AS lang_pred,
        |  COUNT(*) AS n
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val pred = when(col("text").rlike("[一-鿿]"), "zh")
        .when(col("text").like("% der %") || col("text").like("% und %"), "de")
        .when(col("text").like("% le %") || col("text").like("% une %"), "fr")
        .when(col("text").like("% el %") || col("text").like("% los %"), "es")
        .otherwise("en")
      Tables.table(s, dir, "documents")
        .groupBy(col("lang").as("lang_label"), pred.as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_label"), col("lang_pred"))
    },

    // E8: token 3-gram shingles → corpus-wide heavy hitters. The shingle
    // generation is the front half of every MinHash/Jaccard pipeline
    // (q46/q47) surfaced as its own operator; explode + count + top-k.
    Q(
      "q79_ngram_topk",
      """SELECT shingle, COUNT(*) AS n FROM (
        |  SELECT unnest(list_transform(range(len(string_split(text, ' ')) - 2),
        |    i -> string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2] || ' ' ||
        |         string_split(text, ' ')[i+3])) AS shingle
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)
        |GROUP BY shingle
        |ORDER BY n DESC, shingle ASC
        |LIMIT 20""".stripMargin) { (s, dir) =>
      // guard: Spark's sequence(0, n) is DESCENDING for n < 0, so short
      // docs are filtered out instead of relying on an empty sequence.
      // The token array is materialized in the projection BELOW the
      // generator (Generate doesn't collapse into its child), so the
      // lambda's three accesses hit a bound attribute instead of
      // re-splitting the text (measured 3.6s → ~1s at sf0.1).
      val shingles =
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', element_at(toks, i + 1), " +
          "element_at(toks, i + 2), element_at(toks, i + 3)))"
      Tables.table(s, dir, "documents")
        .select(split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(explode(expr(shingles)).as("shingle"))
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("shingle").asc)
        .limit(20)
    },

    // E8: document fingerprinting — polynomial rolling hash over the full
    // character stream (content-defined identity, mod 1e9+7), plus a
    // 1-function MinHash (min over per-token rolling hashes). Pure integer
    // folds → identical in both engines, and mergeable at 100 TB.
    Q(
      "q43_fingerprint",
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS doc_hash,
        |  list_min(list_transform(string_split(text, ' '),
        |    t -> list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(string_split(t, ''),
        |          c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 131 + b) % 1000000007))) AS min_token_hash
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          TextHash.charFold(col("text"), 0L, 31L).as("doc_hash"),
          array_min(TextHash.tokenHashesPos(col("text")))
            .as("min_token_hash"))
        .orderBy(col("doc_id"))
    },

    // E8/E13: TRAINED language classifier — multinomial NB with add-one
    // smoothing, trained on the doc_id%5!=0 split (labels = the lang
    // column), evaluated on the %5==0 split as a confusion matrix.
    // p(tok|lang) = (c(tok,lang)+1)/(tot_lang+V); score(doc,lang) =
    // ln prior + Σ ln p(tok|lang); argmax ties break to the
    // lexicographically first lang. Every ln is round(·,6) into
    // DECIMAL(18,9) BEFORE the sum, so both engines rank identical exact
    // decimals — no float-order drift can flip a near-tie argmax.
    Q(
      "q218_nb_lang_classifier",
      """WITH train AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE doc_id % 5 <> 0),
        |test AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        |  FROM documents WHERE doc_id % 5 = 0),
        |ttok AS (SELECT lang, unnest(t) AS tok FROM train),
        |cnt AS (
        |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ttok GROUP BY lang, tok),
        |tot AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ttok GROUP BY lang),
        |vocab AS (
        |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vs FROM ttok),
        |prior AS (
        |  SELECT lang,
        |    CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE) /
        |      (SELECT COUNT(*) FROM train)), 6) AS DECIMAL(18,9)) AS plp
        |  FROM train GROUP BY lang),
        |stok AS (SELECT doc_id, unnest(t) AS tok FROM test),
        |scored AS MATERIALIZED (
        |  SELECT s.doc_id, o.lang,
        |    CAST(ROUND(LN((COALESCE(c.c, 0) + 1.0) / (o.n + v.vs)), 6)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM stok s
        |  CROSS JOIN tot o
        |  CROSS JOIN vocab v
        |  LEFT JOIN cnt c ON c.lang = o.lang AND c.tok = s.tok),
        |docscore AS (
        |  SELECT sc.doc_id, sc.lang, p.plp + SUM(sc.lp) AS score
        |  FROM scored sc JOIN prior p ON p.lang = sc.lang
        |  GROUP BY sc.doc_id, sc.lang, p.plp),
        |pred AS (
        |  SELECT doc_id, lang AS pred_lang FROM (
        |    SELECT doc_id, lang,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, lang ASC) AS rn
        |    FROM docscore) WHERE rn = 1)
        |SELECT t.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        |FROM test t JOIN pred p ON p.doc_id = t.doc_id
        |GROUP BY t.lang, p.pred_lang
        |ORDER BY t.lang, p.pred_lang""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          split(lower(col("text")), " ").as("t"))
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      val ttok = train.select(col("lang"), explode(col("t")).as("tok"))
      val cnt = ttok.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val tot = ttok.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val vocab = ttok.agg(count_distinct(col("tok")).as("vs"))
      val nTrain = train.agg(count(lit(1)).as("ntr"))
      val prior = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
        .crossJoin(broadcast(nTrain))
        .select(col("lang"),
          round(log(col("nd").cast("double") / col("ntr")), 6)
            .cast("decimal(18,9)").as("plp"))
      val stok = test.select(col("doc_id"), explode(col("t")).as("tok"))
      // model tables are vocab-sized (Heaps-bounded) — broadcast them so
      // scoring is a map stage over the test tokens, shuffling only the
      // (doc_id, lang) partial sums
      val scored = stok
        .crossJoin(broadcast(tot.select(col("lang"), col("n"))))
        .crossJoin(broadcast(vocab))
        .join(broadcast(cnt), Seq("lang", "tok"), "left")
        .select(col("doc_id"), col("lang"),
          round(log((coalesce(col("c"), lit(0L)) + 1.0) /
            (col("n") + col("vs"))), 6)
            .cast("decimal(18,9)").as("lp"))
      val docscore = scored
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("lp")).as("slp"))
        .join(broadcast(prior), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          (col("plp") + col("slp")).as("score"))
      val pred = docscore
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("lang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("pred_lang"))
      test.select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    })
}
