package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-14 ingest-front operators — the two pipeline mouths the
  * round-13 verdict named missing ("What's missing 4"):
  *
  *  - q293 MARKUP TEXT EXTRACTION: a real crawl pipeline starts at raw
  *    HTML, not tokenized documents. A deterministic page fixture
  *    (title/nav/content/aside/footer markup around each doc's text)
  *    is reduced to main content by the two classic boilerplate moves —
  *    tag stripping and LINK-DENSITY block filtering (a block survives
  *    iff words > 3·links, the Kohlschütter-style density heuristic) —
  *    entirely in Spark string/array built-ins: one map pass over the
  *    corpus, keyed aggregation, no shuffle wider than the per-source
  *    tally. The per-source fingerprint pins every extracted byte
  *    through the driver hash.
  *  - q294 SFT CONVERSATION OPS: post-training data is conversations,
  *    not documents. A conversation fixture (array<struct<role,
  *    content>> — S14's nested surface at corpus scale) is derived per
  *    doc with a Knuth-hash mix of schema violations, then (a) ROLE-
  *    SCHEMA VALIDATION classifies each conversation by its FIRST
  *    violation (empty turn → adjacent-role duplicate → not ending
  *    with assistant → valid), and (b) TURN-LEVEL EXACT DEDUP counts
  *    distinct (role, content) pairs per source. All keyed aggregates;
  *    the struct arrays never leave the executors.
  *
  * Reference scope: PalNilsson/ask-duckdb is an NL→SQL bridge with no
  * ingest surface (query_llm.py:419-506); these shapes come from the
  * 100 TB training-data mandate. Link-density boilerplate removal:
  * Kohlschütter et al., WSDM 2010 (boilerpipe), re-expressed as a
  * closed-form block rule so the DuckDB oracle can mirror it exactly.
  */
object Round14Ops {

  private val M = 1000000007L

  // ---------------- q293: markup main-content extraction ----------------

  /** The page fixture, ONE SQL expression valid in both dialects (`||`
    * concat, implicit bigint→string): deterministic boilerplate blocks
    * (nav 3 links/5 words, aside 3 links/5 words, footer 2 links/4
    * words — all fail words > 3·links) around the doc text in `<p>`
    * (0 links — always passes).
    */
  private[ops] val pageExpr: String =
    "'<html><head><title>' || source || ' #' || doc_id || " +
      "'</title></head>' || " +
      "'<nav><a href=\"/\">home</a> <a href=\"/' || source || '\">' || " +
      "source || '</a> <a href=\"/c\">contact us</a></nav>' || " +
      "'<p>' || text || '</p>' || " +
      "'<aside><a href=\"/x\">ad</a> <a href=\"/y\">deal</a> " +
      "<a href=\"/z\">win</a> click now</aside>' || " +
      "'<footer><a href=\"/about\">about</a> " +
      "<a href=\"/terms\">terms</a> copyright corp</footer>'"

  // per-block stats over the body (everything after </head>): blocks
  // are the segments between closing block tags; links count `<a `
  // anchors (3 = len("<a ")); txt normalization is tag strip -> trim
  // -> space squish, identical in both engines
  private val sparkBlocks =
    "transform(split(substr(page, instr(page, '</head>') + 7), " +
      "'</nav>|</p>|</aside>|</footer>'), b -> named_struct(" +
      "'txt', regexp_replace(trim(regexp_replace(b, '<[^>]*>', ' ')), " +
      "' +', ' '), " +
      "'links', CAST((length(b) - length(replace(b, '<a ', ''))) div 3 " +
      "AS BIGINT)))"

  // the link-density rule: a block survives iff words > 3·links
  private val sparkKeep =
    "filter(bs, x -> 3 * x.links < (CASE WHEN x.txt = '' THEN 0 " +
      "ELSE size(split(x.txt, ' ')) END))"

  // ---------------- q294: conversation fixture ----------------

  // Knuth multiplicative mix decorrelates the violation pattern from
  // source (doc_id and source are congruent in the testdata): h drives
  // turn count (2 + h%4), a leading system turn (h%3=0), an adjacent-
  // role duplicate (h%7=2) and an empty final turn (h%13=5)
  private val HMIX = "(doc_id * 2654435761) % 97"

  val queries: Seq[Q] = Seq(
    // E8/ingest: markup main-content extraction — tag strip +
    // link-density boilerplate drop, per-source report with the
    // boilerplate fraction and an exact content fingerprint in band.
    Q(
      "q293_markup_extract",
      s"""WITH pg AS MATERIALIZED (
         |  SELECT doc_id, source, $pageExpr AS page
         |  FROM documents),
         |bl AS MATERIALIZED (
         |  SELECT doc_id, source, page,
         |    list_transform(
         |      string_split_regex(substr(page, strpos(page, '</head>')
         |        + 7), '</nav>|</p>|</aside>|</footer>'),
         |      b -> {'txt': regexp_replace(trim(regexp_replace(b,
         |              '<[^>]*>', ' ', 'g')), ' +', ' ', 'g'),
         |            'links': (length(b) - length(replace(b, '<a ', '')))
         |              // 3}) AS bs
         |  FROM pg),
         |ext AS MATERIALIZED (
         |  SELECT doc_id, source, length(page) AS raw_chars,
         |    array_to_string(list_transform(list_filter(bs,
         |      x -> x.txt <> ''), x -> x.txt), ' ') AS all_txt,
         |    array_to_string(list_transform(list_filter(bs,
         |      x -> 3 * x.links < (CASE WHEN x.txt = '' THEN 0
         |        ELSE len(string_split(x.txt, ' ')) END)),
         |      x -> x.txt), ' ') AS main
         |  FROM bl)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(raw_chars) AS BIGINT) AS raw_chars,
         |  CAST(SUM(length(all_txt)) AS BIGINT) AS text_chars,
         |  CAST(SUM(length(main)) AS BIGINT) AS kept_chars,
         |  CAST((1000000 * (SUM(length(all_txt)) - SUM(length(main))))
         |    // SUM(length(all_txt)) AS BIGINT) AS boiler_ppm,
         |  CAST(SUM(${Pq.duckFold("doc_id || '|' || main")}) % $M
         |    AS BIGINT) AS fp
         |FROM ext GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      val pg = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), expr(pageExpr).as("page"))
      val ext = pg.withColumn("bs", expr(sparkBlocks))
        .select(col("doc_id"), col("source"),
          length(col("page")).as("raw"),
          expr("array_join(transform(filter(bs, x -> x.txt != ''), " +
            "x -> x.txt), ' ')").as("all_txt"),
          expr(s"array_join(transform($sparkKeep, x -> x.txt), ' ')")
            .as("main"))
      ext.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("raw")).cast("bigint").as("raw_chars"),
          sum(length(col("all_txt"))).cast("bigint").as("text_chars"),
          sum(length(col("main"))).cast("bigint").as("kept_chars"),
          (sum(graft.functions.TextHash.charFold(
            md5(concat_ws("|", col("doc_id"), col("main"))), 0L, 31L)) % M)
            .cast("bigint").as("fp"))
        .withColumn("boiler_ppm",
          expr("(1000000 * (text_chars - kept_chars)) div text_chars")
            .cast("bigint"))
        .select(col("source"), col("n_docs"), col("raw_chars"),
          col("text_chars"), col("kept_chars"), col("boiler_ppm"),
          col("fp"))
        .orderBy(col("source"))
    },

    // S14×E6/ingest: SFT conversation validation + turn-level exact
    // dedup over array<struct<role, content>> conversations.
    Q(
      "q294_sft_conversation_ops",
      s"""WITH cv AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
         |    $HMIX AS h
         |  FROM documents),
         |cv2 AS MATERIALIZED (
         |  SELECT doc_id, source, toks, h,
         |    (CASE WHEN h % 3 = 0 THEN 1 ELSE 0 END) AS so,
         |    CAST(2 + h % 4 AS BIGINT)
         |      + (CASE WHEN h % 3 = 0 THEN 1 ELSE 0 END) AS n
         |  FROM cv),
         |tv AS MATERIALIZED (
         |  SELECT doc_id, source, n,
         |    list_transform(range(n), i -> {
         |      'role': CASE
         |        WHEN i = 0 AND so = 1 THEN 'system'
         |        WHEN h % 7 = 2 AND i = so + 1 THEN 'user'
         |        WHEN (i - so) % 2 = 0 THEN 'user'
         |        ELSE 'assistant' END,
         |      'content': CASE WHEN h % 13 = 5 AND i = n - 1 THEN ''
         |        ELSE COALESCE(array_to_string(toks[i*3+1 : i*3+3],
         |          ' '), '') END}) AS turns
         |  FROM cv2),
         |st AS MATERIALIZED (
         |  SELECT doc_id, source, turns, n,
         |    CASE
         |      WHEN len(list_filter(turns, t -> t.content = '')) > 0
         |        THEN 'empty_turn'
         |      WHEN len(list_filter(range(1, n), i ->
         |          list_transform(turns, t -> t.role)[i+1] =
         |          list_transform(turns, t -> t.role)[i])) > 0
         |        THEN 'role_dup'
         |      WHEN list_transform(turns, t -> t.role)[-1]
         |          <> 'assistant' THEN 'bad_ending'
         |      ELSE 'valid' END AS status
         |  FROM tv),
         |ca AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_convs,
         |    CAST(SUM(CASE WHEN status = 'valid' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_valid,
         |    CAST(SUM(CASE WHEN status = 'empty_turn' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_empty,
         |    CAST(SUM(CASE WHEN status = 'role_dup' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_roledup,
         |    CAST(SUM(CASE WHEN status = 'bad_ending' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_badend
         |  FROM st GROUP BY source),
         |tu AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |    CAST(COUNT(DISTINCT t.role || '|' || t.content) AS BIGINT)
         |      AS n_uniq
         |  FROM st, LATERAL (SELECT unnest(turns) AS t) u
         |  GROUP BY source)
         |SELECT c.source, c.n_convs, c.n_valid, c.n_empty, c.n_roledup,
         |  c.n_badend, t.n_turns, t.n_uniq,
         |  CAST((1000000 * (t.n_turns - t.n_uniq)) // t.n_turns
         |    AS BIGINT) AS dup_ppm
         |FROM ca c JOIN tu t ON c.source = t.source
         |ORDER BY c.source""".stripMargin) { (s, dir) =>
      val st = convStatus(s, dir)
      val ca = st.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_convs"),
          sum(when(col("status") === "valid", 1L).otherwise(0L))
            .cast("bigint").as("n_valid"),
          sum(when(col("status") === "empty_turn", 1L).otherwise(0L))
            .cast("bigint").as("n_empty"),
          sum(when(col("status") === "role_dup", 1L).otherwise(0L))
            .cast("bigint").as("n_roledup"),
          sum(when(col("status") === "bad_ending", 1L).otherwise(0L))
            .cast("bigint").as("n_badend"))
      val tu = st.select(col("source"), explode(col("turns")).as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_turns"),
          countDistinct(expr("t.role || '|' || t.content"))
            .cast("bigint").as("n_uniq"))
      ca.join(tu, Seq("source"))
        .withColumn("dup_ppm",
          expr("(1000000 * (n_turns - n_uniq)) div n_turns")
            .cast("bigint"))
        .orderBy(col("source"))
    })

  /** The conversation frame: (doc_id, source, n, turns, status) —
    * exposed so the spec can replay the validation rules against an
    * in-memory referee on the same rows the gate aggregates.
    */
  private[ops] def convStatus(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks"),
        expr(HMIX).as("h"))
      .withColumn("so",
        expr("CASE WHEN h % 3 = 0 THEN 1 ELSE 0 END"))
      .withColumn("n",
        expr("CAST(2 + h % 4 AS BIGINT) " +
          "+ (CASE WHEN h % 3 = 0 THEN 1 ELSE 0 END)"))
      .withColumn("turns", expr(
        "transform(sequence(0, CAST(n - 1 AS INT)), i -> named_struct(" +
          "'role', CASE " +
          "WHEN i = 0 AND so = 1 THEN 'system' " +
          "WHEN h % 7 = 2 AND i = so + 1 THEN 'user' " +
          "WHEN (i - so) % 2 = 0 THEN 'user' " +
          "ELSE 'assistant' END, " +
          "'content', CASE WHEN h % 13 = 5 AND i = CAST(n - 1 AS INT) " +
          "THEN '' ELSE array_join(slice(toks, i*3+1, 3), ' ') END))"))
      .withColumn("status", expr(
        "CASE " +
          "WHEN exists(turns, t -> t.content = '') THEN 'empty_turn' " +
          "WHEN exists(sequence(1, CAST(n - 1 AS INT)), i -> " +
          "element_at(transform(turns, t -> t.role), i + 1) = " +
          "element_at(transform(turns, t -> t.role), i)) " +
          "THEN 'role_dup' " +
          "WHEN element_at(transform(turns, t -> t.role), -1) " +
          "!= 'assistant' THEN 'bad_ending' " +
          "ELSE 'valid' END"))
      .select(col("doc_id"), col("source"), col("n"), col("turns"),
        col("status"))
}
