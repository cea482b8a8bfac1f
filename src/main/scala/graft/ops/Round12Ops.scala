package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Round-12 corpus-maintenance operators (training-data mandate; the
  * round-11 verdict's "next round" items 5-6):
  *
  *  - q277 EXACTSUBSTR DEDUP: the token-grain duplicated-substring scrub
  *    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
  *    Models Better") — the suffix-array half of the standard dedup
  *    recipe, next to the MinHash half (q46/q53/q265). Every W-token
  *    gram occurring more than once in the CORPUS (across or within
  *    docs) marks all occurrences but the globally first as duplicate;
  *    covered token positions are scrubbed and the remaining text
  *    md5-verified after ordered reassembly (q180/q206's discipline).
  *  - q278 PERSISTED KMV SKETCH SERVE: q272's mergeable KMV distinct
  *    sketch written as a per-source parquet artifact with a corpus
  *    marker (the q224 persisted-index lifecycle), then SERVED from the
  *    artifact alone — the oracle recomputes from scratch, so the hash
  *    compare proves merge-of-artifacts == rebuild.
  *
  * Reference scope: PalNilsson/ask-duckdb delegates all execution to
  * DuckDB and ships no corpus-maintenance surface (query_llm.py:419-506); these
  * gates come from the 100 TB training-data mandate.
  */
object Round12Ops {

  private val M = 1000000007L
  private[ops] val SPAN_W = 20 // ExactSubstr grain (tokens)
  private val POSMUL = 1048576L // 2^20: (doc_id, pos) -> one BIGINT key

  /** Positional (non-distinct) W-token gram hashes over a token-hash
    * array column `th` — [[Round11Ops.sparkShingles]] WITHOUT the
    * distinct, so every occurrence keeps its position.
    */
  private def sparkPosGrams(w: Int, th: String = "th"): String =
    s"transform(sequence(0, size($th) - $w), " +
      s"i -> aggregate(slice($th, i + 1, $w), CAST(0 AS BIGINT), " +
      s"(a, b) -> (a * 131 + b) % $M))"

  /** Docs with toks + positional token hashes (q277/q284's front;
    * codegen kernel — TextHashSpec pins HOF equality).
    */
  private[ops] def spanDocs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("th", TextHash.tokenHashesPos(col("text")))

  /** Every W-gram occurrence (doc_id, pos, g) of the corpus. */
  private[ops] def gramOcc(d: DataFrame): DataFrame =
    d.filter(size(col("th")) >= SPAN_W)
      .select(col("doc_id"),
        posexplode(TextHash.posGrams(col("th"), SPAN_W))
          .as(Seq("pos", "g")))

  /** The ExactSubstr scrub report from a duplicated-gram frame
    * `gm = (g, fk)` (fk = corpus-first occurrence key) over the
    * occurrence frame — shared by the batch (q277) and incremental
    * (q284) paths so a drift between them is impossible by
    * construction.
    */
  private[ops] def scrubReport(d: DataFrame, occ: DataFrame,
      gm: DataFrame): DataFrame = {
    val rem = occ.join(gm, "g")
      .filter(col("doc_id") * POSMUL + col("pos") =!= col("fk"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${SPAN_W - 1})")).as("p"))
      .distinct()
    val isl = rem
      .withColumn("grp", col("p") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("grp")).cast("bigint").as("n_spans"))
    val aff = rem.select(col("doc_id")).distinct()
    val tkd = d.select(col("doc_id"), col("toks")).join(aff, "doc_id")
    val reb = tkd
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(rem.withColumnRenamed("p", "pos"),
        Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("concat_ws(' ', transform(array_sort(" +
          "collect_list(struct(pos, tok))), x -> x.tok))").as("nt"))
    tkd.select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_before"))
      .join(isl, "doc_id")
      .join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
        (col("n_before") - coalesce(col("n_kept"), lit(0L)))
          .cast("bigint").as("n_removed"),
        col("n_spans"), md5(coalesce(col("nt"), lit(""))).as("new_md5"))
      .orderBy(col("doc_id"))
  }

  /** The full-rebuild ExactSubstr oracle — q277's gate SQL, reused
    * verbatim by q284 so hash equality proves its state merge ==
    * rebuild.
    */
  private[ops] val exactSubstrOracleSql: String =
    s"""WITH th AS MATERIALIZED (
       |  SELECT doc_id, ${Round11Ops.duckPosTokenHashes} AS th,
       |    string_split(text, ' ') AS toks
       |  FROM documents),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, u.pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      th[u.pos+1:u.pos+$SPAN_W]),
       |      (a, b) -> (a * 131 + b) % $M) AS g
       |  FROM th, LATERAL (SELECT unnest(generate_series(0,
       |    len(th) - $SPAN_W)) AS pos) u
       |  WHERE len(th) >= $SPAN_W),
       |gm AS MATERIALIZED (
       |  SELECT g, MIN(doc_id * $POSMUL + pos) AS fk
       |  FROM occ GROUP BY g HAVING COUNT(*) >= 2),
       |rem AS MATERIALIZED (
       |  SELECT DISTINCT o.doc_id, v.p
       |  FROM occ o JOIN gm ON gm.g = o.g,
       |    LATERAL (SELECT unnest(generate_series(o.pos,
       |      o.pos + ${SPAN_W - 1})) AS p) v
       |  WHERE o.doc_id * $POSMUL + o.pos <> gm.fk),
       |isl AS (
       |  SELECT doc_id, CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, p, p - ROW_NUMBER() OVER (
       |          PARTITION BY doc_id ORDER BY p) AS grp
       |        FROM rem)
       |  GROUP BY doc_id),
       |kept AS (
       |  SELECT t.doc_id, u.i - 1 AS pos, t.toks[u.i] AS tok
       |  FROM th t, LATERAL (SELECT unnest(generate_series(1,
       |    len(t.toks))) AS i) u
       |  WHERE t.doc_id IN (SELECT doc_id FROM rem)),
       |reb AS (
       |  SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(k.tok, ' ' ORDER BY k.pos) AS nt
       |  FROM kept k LEFT JOIN rem r
       |    ON r.doc_id = k.doc_id AND r.p = k.pos
       |  WHERE r.doc_id IS NULL
       |  GROUP BY k.doc_id)
       |SELECT i.doc_id, CAST(len(t.toks) AS BIGINT) AS n_before,
       |  CAST(len(t.toks) AS BIGINT) - COALESCE(r.n_kept, 0)
       |    AS n_removed,
       |  i.n_spans, md5(COALESCE(r.nt, '')) AS new_md5
       |FROM isl i
       |JOIN th t ON t.doc_id = i.doc_id
       |LEFT JOIN reb r ON r.doc_id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    // E6: ExactSubstr dedup. Suffix-array SEMANTICS distributed: a
    // duplicated substring of length >= W contains a duplicated W-gram
    // at every window, and a duplicated W-gram IS a duplicated
    // substring, so the scrub set "positions covered by any duplicated
    // substring occurrence that is not the corpus-first" equals the
    // union of W-windows over non-first occurrences of duplicated
    // W-grams. Keep-first is decided by MIN(doc_id·2^20 + pos) per gram
    // — a partial-aggregable MIN+COUNT, NOT a per-gram rank window, so
    // a boilerplate gram with a million occurrences costs one combiner
    // row per partition instead of a skewed window sort (and no pair
    // join exists anywhere: unlike q204's diagonal extension this is
    // occurrence-linear, which is why no df-cap is even needed).
    // Contiguous covered positions merge into maximal islands with the
    // grp = pos - row_number trick (doc-keyed window); each island is
    // >= W tokens by construction (a union of overlapping W-windows).
    // The scrubbed text is rebuilt in token order and md5-verified —
    // the oracle must reproduce the exact bytes, not just counts.
    Q(
      "q277_exactsubstr_dedup",
      exactSubstrOracleSql) { (s, dir) =>
      val d = spanDocs(s, dir)
      val occ = gramOcc(d)
      // duplicated grams with their corpus-first occurrence: MIN+COUNT
      // partial-aggregates (map-side combine), never a per-gram window
      val gm = occ.groupBy(col("g"))
        .agg(count(lit(1)).as("c"),
          min(col("doc_id") * POSMUL + col("pos")).as("fk"))
        .filter(col("c") >= 2)
        .select(col("g"), col("fk"))
      scrubReport(d, occ, gm)
    },

    // E4/serving: the PERSISTED KMV sketch lifecycle. Session 1 builds
    // the per-source k-min sketches ONCE and writes them as a parquet
    // artifact behind a corpus marker (the ArtifactStore build-once
    // protocol); the gate then serves every estimate — the
    // per-source rows AND the '*' union-merge — from the ARTIFACT
    // alone. The oracle recomputes everything from the raw corpus, so
    // the driver's hash compare IS the proof that merge-of-artifacts ==
    // rebuild. n_exact stays a corpus-side referee (the gate's check,
    // not the serving path). At 100 TB the artifact is O(sources·k)
    // rows: estimates for any source subset come out of file reads,
    // never a corpus re-scan.
    Q(
      "q278_persisted_kmv_serve",
      s"""WITH ${Round11Extra.duckBigrams},
         |ranked AS MATERIALIZED (
         |  SELECT source, b,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY b) AS rn
         |  FROM bgd),
         |kept AS MATERIALIZED (
         |  SELECT source, b, rn FROM ranked
         |  WHERE rn <= ${Round11Extra.KMV_K}),
         |persrc AS (
         |  SELECT r.source,
         |    CAST(MAX(r.rn) AS BIGINT) AS n_kept,
         |    CAST((SELECT COUNT(*) FROM bgd g WHERE g.source = r.source)
         |      AS BIGINT) AS n_exact,
         |    CAST(MAX(CASE WHEN r.rn = ${Round11Extra.KMV_K} THEN r.b
         |      END) AS BIGINT) AS kth
         |  FROM kept r GROUP BY r.source),
         |msk AS MATERIALIZED (
         |  SELECT b, ROW_NUMBER() OVER (ORDER BY b) AS rn
         |  FROM (SELECT DISTINCT b FROM kept)),
         |mrow AS (
         |  SELECT '*' AS source,
         |    CAST((SELECT MAX(rn) FROM msk
         |      WHERE rn <= ${Round11Extra.KMV_K}) AS BIGINT) AS n_kept,
         |    CAST((SELECT COUNT(DISTINCT b) FROM bgd) AS BIGINT)
         |      AS n_exact,
         |    CAST((SELECT MAX(CASE WHEN rn = ${Round11Extra.KMV_K}
         |      THEN b END) FROM msk) AS BIGINT) AS kth),
         |allrows AS (
         |  SELECT * FROM persrc UNION ALL SELECT * FROM mrow),
         |est AS (
         |  SELECT source, n_exact,
         |    CAST(CASE WHEN kth IS NULL THEN n_kept
         |      ELSE (CAST(${Round11Extra.KMV_K - 1} AS BIGINT)
         |        * ${Round11Extra.M}) // kth END AS BIGINT) AS est,
         |    CAST(COALESCE(kth, 0) AS BIGINT) AS kth_hash
         |  FROM allrows)
         |SELECT source, n_exact, est, kth_hash,
         |  CAST((ABS(est - n_exact) * 1000000) // n_exact AS BIGINT)
         |    AS err6
         |FROM est
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val root = sketchArtifact(s, dir)
      val K = Round11Extra.KMV_K
      // ---- serving path: ARTIFACT READS ONLY from here down ----
      val sk = ArtifactStore.readParquet(s, s"$root/sketch")
      val persrc = sk.groupBy(col("source"))
        .agg(max(col("rn")).cast("bigint").as("n_kept"),
          max(when(col("rn") === K, col("b"))).cast("bigint").as("kth"))
      // union-merge of the persisted per-source sketches: O(sources·k)
      // rows, the deliberately tiny coordinator-side global rank
      val merged = sk.select(col("b")).distinct()
        .withColumn("rn", row_number().over(Window.orderBy(col("b"))))
        .filter(col("rn") <= K)
        .agg(max(col("rn")).cast("bigint").as("n_kept"),
          max(when(col("rn") === K, col("b"))).cast("bigint").as("kth"))
        .withColumn("source", lit("*"))
      // ---- referee: exact distinct counts from the corpus ----
      val bgd = Round11Extra.bigrams(Tables.table(s, dir, "documents"))
      val exact = bgd.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_exact"))
        .unionByName(bgd.select(col("b")).distinct()
          .agg(count(lit(1)).cast("bigint").as("n_exact"))
          .withColumn("source", lit("*")))
      persrc.select(col("source"), col("n_kept"), col("kth"))
        .unionByName(merged.select(col("source"), col("n_kept"),
          col("kth")))
        .join(broadcast(exact), "source")
        .select(col("source"), col("n_exact"),
          when(col("kth").isNull, col("n_kept"))
            .otherwise(expr(s"(${K - 1}L * ${M}L) div kth"))
            .cast("bigint").as("est"),
          coalesce(col("kth"), lit(0L)).cast("bigint").as("kth_hash"))
        .withColumn("err6",
          expr("(ABS(est - n_exact) * 1000000) div n_exact")
            .cast("bigint"))
        .orderBy(col("source"))
    })

  // ---------------- persisted KMV sketch artifact ----------------

  // dir -> the persisted KMV sketch root
  private[ops] val sketchMemo = new ArtifactStore.Memo[String, Unit]

  /** Cheap corpus identity for the documents table: row count + an
    * order-independent fold of md5(doc_id|text) — one scan, any row
    * added/removed/edited moves it (VecIndex.corpusMarker's discipline
    * on the text corpus).
    */
  private[ops] def docsMarker(d: DataFrame): String = {
    val fold = "aggregate(transform(filter(split(md5(" +
      "concat_ws('|', doc_id, text)), ''), ch -> ch != ''), " +
      "ch -> CAST(ascii(ch) AS BIGINT)), 0L, " +
      s"(a, b) -> (a * 31 + b) % $M)"
    val r = d.agg(count(lit(1)).cast("bigint").as("n"),
      (sum(expr(fold)) % M).as("fp")).head()
    s"""{"n":${r.getLong(0)},"fp":${r.getLong(1)},""" +
      s""""k":${Round11Extra.KMV_K},"v":1}"""
  }

  /** Artifact root for the per-source KMV sketches of `dir`'s corpus.
    * A fresh marker means a previous session built the sketch from the
    * identical corpus + k — this session serves from the files without
    * rebuilding.
    */
  private[ops] def sketchArtifact(s: SparkSession, dir: String): String = {
    lazy val docs = Tables.table(s, dir, "documents")
    sketchMemo(dir, VecIndex.tableFileSig(dir, "documents"))(
      (ArtifactStore.root(s"graft_kmvsk_${VecIndex.dirDigest(dir)}"),
        docsMarker(docs), ())) { (p, _) =>
      val wsrc = Window.partitionBy(col("source")).orderBy(col("b"))
      Round11Extra.bigrams(docs)
        .withColumn("rn", row_number().over(wsrc))
        .filter(col("rn") <= Round11Extra.KMV_K)
        .write.mode("overwrite").parquet(s"$p/sketch")
    }._1
  }
}
