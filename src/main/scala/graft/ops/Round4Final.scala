package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-4 closing additions: n-gram novelty scoring against a reference
  * snapshot, hard-negative mining for contrastive training, and epoch
  * budget waterfilling. Like the rest of the training-pipeline family
  * these go beyond the reference's own surface (its NL-SQL bridge,
  * query_llm.py) — they are corpus operations the 100 TB mandate names.
  *
  * Determinism rule shared by all three: every aggregate that crosses a
  * shuffle is computed in integer arithmetic (counts, BIGINT token
  * sums); a floating-point value only ever appears as ONE final division
  * of two exact integers (or a fixed ascending fold over the same floats
  * both engines read), so results hash identically across engines and
  * across partitionings.
  */
object Round4Final {

  // Distinct 3-gram shingles — identical construction to the q46/q171
  // family (Round4Ops.scala): Spark side expects a `toks` column.
  private val sparkShingles =
    "array_distinct(transform(sequence(0, size(toks) - 3), " +
      "i -> concat_ws(' ', element_at(toks, i + 1), " +
      "element_at(toks, i + 2), element_at(toks, i + 3))))"
  private val duckShingles =
    "list_distinct(list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> string_split(text, ' ')[i+1] || ' ' || " +
      "string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]))"

  val queries: Seq[Q] = Seq(
    // Pipeline/text: n-gram NOVELTY against a reference snapshot — the
    // memorization/staleness filter: how much of each new document's
    // 3-gram content is absent from the corpus snapshot it extends
    // (here: the doc_id % 10 = 0 slice stands in for the previous
    // crawl). Distinct from q126 decontamination (which REMOVES docs
    // overlapping a test set); novelty SCORES docs by unseen-shingle
    // fraction, the signal a recrawl-dedup or freshness-weighted
    // sampler consumes. Scale shape: reference shingles are a
    // partial-agg distinct; the candidate->reference membership probe is
    // a shingle-keyed left equi-join (both sides pre-shrunk by per-doc
    // array_distinct); per-doc then per-source partial aggs. All counts
    // are integers — the one double is a final novel/total division, so
    // the result is partition-order independent. At 100 TB the
    // reference side is the smaller snapshot and bucketable by shingle,
    // exactly like q134's incremental corpus probe.
    Q(
      "q190_ngram_novelty",
      s"""WITH ref AS (
         |  SELECT DISTINCT unnest($duckShingles) AS sh
         |  FROM documents WHERE doc_id % 10 = 0),
         |cand AS (
         |  SELECT doc_id, source, unnest($duckShingles) AS sh
         |  FROM documents
         |  WHERE doc_id % 10 <> 0 AND len(string_split(text, ' ')) >= 3),
         |per_doc AS (
         |  SELECT c.doc_id, c.source,
         |    COUNT(*) AS tot,
         |    SUM(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) AS novel
         |  FROM cand c LEFT JOIN ref r ON c.sh = r.sh
         |  GROUP BY c.doc_id, c.source)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(novel) AS BIGINT) AS novel_sh,
         |  CAST(SUM(tot) AS BIGINT) AS tot_sh,
         |  ROUND(CAST(SUM(novel) AS DOUBLE) / SUM(tot), 6) AS novelty_rate,
         |  CAST(SUM(CASE WHEN 2 * novel >= tot THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_high_novelty
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      val d = Tables.table(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
      val ref = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .filter(size(col("toks")) >= 3)
        .select(explode(expr(sparkShingles)).as("sh")).distinct()
        .withColumn("seen", lit(1))
      val cand = d
        .filter(pmod(col("doc_id"), lit(10)) =!= 0 && size(col("toks")) >= 3)
        .select(col("doc_id"), col("source"),
          explode(expr(sparkShingles)).as("sh"))
      val perDoc = cand.join(ref, Seq("sh"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("tot"),
          sum(when(col("seen").isNull, 1).otherwise(0)).as("novel"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("novel")).as("novel_sh"),
          sum(col("tot")).as("tot_sh"),
          sum(when(col("novel") * 2 >= col("tot"), 1).otherwise(0))
            .as("n_high_novelty"))
        .select(col("source"), col("n_docs"), col("novel_sh"), col("tot_sh"),
          round(col("novel_sh").cast("double") / col("tot_sh"), 6)
            .as("novelty_rate"),
          col("n_high_novelty"))
        .orderBy(col("source"))
    },

    // Similarity/pipeline: HARD-NEGATIVE MINING — for each anchor
    // vector (the fixed vec_id < 50 query set) find the single
    // most-similar vector with a DIFFERENT label: the canonical
    // contrastive-training data op (the negative that is hardest to
    // tell apart from the anchor). The dot is the same ascending
    // sequential fold as q49/q50 (ArrayDot === oracle's list_reduce),
    // so per-pair values are bit-identical; ties break on max neg_id
    // via a lexicographic struct max. Scale shape: the 50-anchor side
    // broadcasts; the corpus side is ONE scan with a map-side partial
    // aggregate that shrinks every partition to <= 50 rows BEFORE the
    // shuffle (deliberately a groupBy/max(struct), NOT a row_number
    // window, which would shuffle all candidate pairs to 50 tasks).
    // At 100 TB: scan-speed, no candidate materialization.
    Q(
      "q191_hard_negative",
      """WITH pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neg_id,
        |    list_reduce(list_transform(range(len(a.embedding)),
        |      i -> CAST(a.embedding[i+1] AS DOUBLE)
        |         * CAST(b.embedding[i+1] AS DOUBLE)),
        |      (x, y) -> x + y) AS dot
        |  FROM embeddings a JOIN embeddings b ON a.label <> b.label
        |  WHERE a.vec_id < 50),
        |ranked AS (
        |  SELECT vec_id, neg_id, dot,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY dot DESC, neg_id DESC) AS rn
        |  FROM pairs)
        |SELECT vec_id, neg_id, ROUND(dot, 6) AS cosine
        |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin) {
      (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val anchors = e.filter(col("vec_id") < 50)
        .select(col("vec_id"), col("label").as("a_label"),
          col("embedding").as("a_emb"))
      val cands = e.select(col("vec_id").as("neg_id"),
        col("label").as("n_label"), col("embedding").as("n_emb"))
      cands.join(broadcast(anchors), col("a_label") =!= col("n_label"))
        .withColumn("dot", expr("array_dot(a_emb, n_emb)"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("dot"), col("neg_id"))).as("m"))
        .select(col("vec_id"), col("m.neg_id").as("neg_id"),
          round(col("m.dot"), 6).as("cosine"))
        .orderBy(col("vec_id"))
    },

    // Pipeline: EPOCH BUDGET WATERFILLING — the data-recipe allocator:
    // given a global token budget (2x the corpus) and a per-source
    // repetition cap (3 epochs), split the budget across sources by
    // two unrolled waterfill rounds: round 1 gives each source an equal
    // share clamped to its cap; round 2 redistributes the excess the
    // capped (small) sources returned equally across the uncapped
    // ones, again clamped. This is the cap-and-redistribute step that
    // distinguishes a budget allocator from q185's temperature
    // weighting (which computes sampling PROPORTIONS with no cap).
    // All allocation arithmetic is BIGINT floor-division on exact
    // token counts; `epochs` is the single final double division.
    // Scale shape: one per-source partial agg over the corpus, then
    // broadcast 1-row scalar joins — the allocator itself is O(sources)
    // regardless of corpus size.
    Q(
      "q192_epoch_waterfill",
      """WITH src AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
        |             CAST(COUNT(*) AS BIGINT) AS k FROM src),
        |r1 AS (
        |  SELECT s.source, s.n_tokens,
        |    g.tot * 2 AS budget, s.n_tokens * 3 AS cap,
        |    LEAST(s.n_tokens * 3,
        |          CAST(floor(g.tot * 2.0 / g.k) AS BIGINT)) AS a1
        |  FROM src s, g),
        |ex AS (
        |  SELECT CAST(MAX(budget) - SUM(a1) AS BIGINT) AS excess,
        |    CAST(SUM(CASE WHEN a1 < cap THEN 1 ELSE 0 END) AS BIGINT) AS k2
        |  FROM r1),
        |r2 AS (
        |  SELECT r.source, r.n_tokens,
        |    r.a1 + CASE WHEN r.a1 < r.cap AND e.k2 > 0
        |      THEN LEAST(r.cap - r.a1,
        |                 CAST(floor(e.excess * 1.0 / e.k2) AS BIGINT))
        |      ELSE 0 END AS alloc_tokens
        |  FROM r1 r, ex e)
        |SELECT source, n_tokens, alloc_tokens,
        |  ROUND(CAST(alloc_tokens AS DOUBLE) / n_tokens, 6) AS epochs
        |FROM r2 ORDER BY source""".stripMargin) { (s, dir) =>
      val src = Tables.table(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
      val g = src.agg(sum(col("n_tokens")).as("tot"),
        count(lit(1)).as("k"))
      val r1 = src.crossJoin(broadcast(g))
        .withColumn("budget", col("tot") * 2)
        .withColumn("cap", col("n_tokens") * 3)
        .withColumn("a1", least(col("cap"),
          floor(col("tot") * lit(2.0) / col("k")).cast("long")))
      val ex = r1.agg(
        (max(col("budget")) - sum(col("a1"))).as("excess"),
        sum(when(col("a1") < col("cap"), 1).otherwise(0)).as("k2"))
      r1.crossJoin(broadcast(ex))
        .withColumn("alloc_tokens", col("a1") +
          when(col("a1") < col("cap") && col("k2") > 0,
            least(col("cap") - col("a1"),
              floor(col("excess") * lit(1.0) / col("k2")).cast("long")))
            .otherwise(0L))
        .select(col("source"), col("n_tokens"), col("alloc_tokens"),
          round(col("alloc_tokens").cast("double") / col("n_tokens"), 6)
            .as("epochs"))
        .orderBy(col("source"))
    },

    // Text/dedup: WINNOWING fingerprints (Schleimer/Wilkerson/Aiken's
    // MOSS scheme): hash every ordered 3-token shingle with the q43
    // polynomial char fold, slide a w=4 window over the hash sequence,
    // and keep each window's minimum — rightmost on ties, the choice
    // that makes selection position-stable under edits. The guarantee
    // winnowing adds over q43's single MinHash: any shared run of
    // w+k-1 tokens between two documents shares at least one selected
    // fingerprint, at ~2/(w+1) density — local similarity, not just
    // whole-doc identity. Rightmost-min is encoded order-free so both
    // engines agree without a positional fold: key = h * 2^20 +
    // (2^20-1 - pos); min(key) = (min h, then MAX pos); pos and h
    // decode back out of the packed key. Everything is a per-row
    // integer array pipeline — zero shuffles beyond the presentation
    // sort; the fingerprint SET is gated via its exact modular sum.
    Q(
      "q193_winnowing", Round4Final.winnowOracleSql) {
      (s, dir) =>
      winnowKeys(Tables.table(s, dir, "documents"))
        .select(col("doc_id"), col("m").as("n_shingles"),
          size(col("keys")).cast("long").as("n_fp"),
          expr("aggregate(keys, 0L, " +
            "(a, kk) -> (a + kk div 1048576) % 1000000007)").as("fp_sum"))
        .orderBy(col("doc_id"))
    },

    // Pipeline/text: CROSS-SOURCE OVERLAP MATRIX — pairwise shingle
    // Jaccard between sources, the corpus-curation diagnostic that
    // answers "which sources are mirrors of each other" before any
    // doc-level dedup runs (a high-overlap source pair means one of
    // them should be down-weighted or dropped wholesale). Scale shape:
    // (source, shingle) pairs are distinct'ed with a map-side partial
    // agg; the self-join shuffles on the shingle value, and each
    // shingle contributes at most C(|sources|, 2) pairs (sources are
    // few and fixed — this is the safe direction of a value self-join);
    // pair counts partial-agg again. All counts integer; jaccard is
    // the one final division. At 100 TB, swap the shingle string for
    // its 64-bit hash as the join key (q126's note) — same plan, ~10×
    // narrower shuffle.
    Q(
      "q195_source_overlap",
      s"""WITH ex AS (
         |  SELECT source, unnest($duckShingles) AS sh FROM documents),
         |ss AS (SELECT DISTINCT source, sh FROM ex),
         |per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
         |  FROM ss GROUP BY source),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT i.src_a, i.src_b, pa.n_sh AS n_a, pb.n_sh AS n_b,
         |  i.n_common,
         |  ROUND(CAST(i.n_common AS DOUBLE)
         |    / (pa.n_sh + pb.n_sh - i.n_common), 6) AS jaccard
         |FROM inter i
         |JOIN per pa ON i.src_a = pa.source
         |JOIN per pb ON i.src_b = pb.source
         |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      val ss = Tables.table(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("source"), explode(expr(sparkShingles)).as("sh"))
        .distinct()
      val per = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
      val inter = ss.select(col("source").as("src_a"), col("sh"))
        .join(ss.select(col("source").as("src_b"), col("sh")), Seq("sh"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(per.select(col("source").as("src_a"),
          col("n_sh").as("n_a"))), Seq("src_a"))
        .join(broadcast(per.select(col("source").as("src_b"),
          col("n_sh").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_common"),
          round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    })

  /** Winnowing selection kernel, factored so WinnowingPropSpec can drive
    * it on synthetic documents: text -> ordered 3-token shingle hashes
    * (q43's polynomial char fold) -> per-window (w=4) packed-key min.
    * Output keeps doc_id plus m (shingle count) and keys (distinct
    * selected packed keys; hash = key div 2^20, pos = 2^20-1 - key mod
    * 2^20). Docs with fewer than 6 tokens (no full window) are dropped,
    * as are docs with >= 2^20 shingles: beyond that the 20-bit position
    * field would wrap and the packed-key min would stop implementing
    * rightmost-min tie-breaking (the documented invariant). Both engines
    * apply the same cap, so the gate stays aligned; a >1M-shingle doc
    * (~4 MB of text) belongs in a chunked pass anyway.
    */
  private[graft] def winnowKeys(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // codegen kernel (graft.functions.CharFold) — identical fold
    val charFold = (g: String) => s"char_fold($g, 7, 131)"
    df.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 6)
      .withColumn("m", (size(col("toks")) - 2).cast("long"))
      .withColumn("hs", expr(
        "transform(sequence(1, size(toks) - 2), i -> " +
          charFold("concat_ws(' ', element_at(toks, i), " +
            "element_at(toks, i + 1), element_at(toks, i + 2))") + ")"))
      .filter(col("m") >= 4 && col("m") < 1048576L)
      .withColumn("keys", expr(
        "array_distinct(transform(sequence(1, CAST(m AS INT) - 3), j -> " +
          "array_min(transform(sequence(j, j + 3), i2 -> " +
          "element_at(hs, i2) * 1048576L + (1048575L - i2)))))"))
  }

  private def winnowOracleSql: String =
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |h AS (
        |  SELECT doc_id, len(toks) - 2 AS m,
        |    list_transform(range(len(toks) - 2), i ->
        |      list_reduce(
        |        list_prepend(CAST(7 AS BIGINT),
        |          list_transform(
        |            string_split(toks[i+1] || ' ' || toks[i+2] || ' '
        |              || toks[i+3], ''),
        |            c -> CAST(unicode(c) AS BIGINT))),
        |        (a, b) -> (a * 131 + b) % 1000000007)) AS hs
        |  FROM t),
        |sel AS (
        |  SELECT doc_id, m,
        |    list_distinct(list_transform(range(m - 3), j ->
        |      list_min(list_transform(range(4), o ->
        |        hs[j+o+1] * 1048576 + (1048575 - (j+o+1)))))) AS keys
        |  FROM h WHERE m >= 4 AND m < 1048576)
        |SELECT doc_id, CAST(m AS BIGINT) AS n_shingles,
        |  CAST(len(keys) AS BIGINT) AS n_fp,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(keys, kk -> kk // 1048576)),
        |    (a, b) -> (a + b) % 1000000007) AS fp_sum
        |FROM sel ORDER BY doc_id""".stripMargin
}
