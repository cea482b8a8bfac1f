package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Round-10 operability shapes: the restart, telemetry and maintenance
  * machinery a 100 TB pipeline needs around its transforms.
  *
  *  - q254 CHECKPOINTED BACKFILL RESUME: a bucket-manifest backfill
  *    "crashes" after 2 of 8 buckets; the resume reads the manifest,
  *    processes ONLY the missing buckets, and the stitched result is
  *    provably identical to a single-shot run (the DuckDB oracle IS
  *    the single-shot run). At 100 TB a backfill that cannot resume
  *    re-pays days of compute on every transient failure.
  *  - q255 PIPELINE OBSERVABILITY: per-stage row/char counters
  *    collected by Spark's own `Dataset.observe` (CollectMetrics —
  *    zero extra passes, metrics ride the one job) and cross-checked
  *    by SQL recomputation in the oracle. The production shape for
  *    "how many rows did each filter drop" without 5 count() jobs.
  *  - q256 INCREMENTAL COMPONENT MAINTENANCE: 100 new documents merge
  *    into the persisted near-dup component labels of a 400-doc base
  *    corpus by contracting (delta band edges + base labels-as-stars)
  *    — O(delta + touched components), never O(corpus) — and the
  *    result is hash-identical to a full recompute (the oracle).
  *  - q258 CONTENT-DEFINED CHUNK DEDUP: rolling-hash chunk boundaries
  *    (window w=4 tokens, boundary when the hash ≡ 0 mod 8, the CDC
  *    storage-dedup discipline) and the corpus-level chunk dedup
  *    ratio + top duplicated chunks. Boundaries are content-local, so
  *    an insertion re-chunks only its neighborhood — the property
  *    that makes CDC dedup survive edits where fixed-width blocking
  *    does not.
  *
  * Reference scope: PalNilsson/ask-duckdb has no backfill, metrics or
  * storage surface (README.md:1-65); 100 TB training-data mandate.
  */
object Round10More {

  private val M = 1000000007L
  private val NBUCKETS = 8

  /** Per-token rolling-131 char fold — the [[Dedup.sparkTokenHashes]]
    * kernel applied to a single string column.
    */
  private[ops] def sparkHash(t: String): String =
    s"aggregate(transform(filter(split($t, ''), c -> c != ''), " +
      s"c -> CAST(ascii(c) AS BIGINT)), 7L, (a, b) -> (a * 131 + b) % $M)"

  private[ops] def duckHash(t: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(string_split($t, ''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a * 131 + b) % $M)"

  /** The CDC chunk oracle CTE chain over `documents`, ending in
    * `chunks(doc_id, chunk, chash, n_tokens)` — the DuckDB mirror of
    * [[cdcChunks]], shared by q258 and q263's streamed chunk store.
    */
  private[ops] val cdcChunkCtes: String =
    s"""toks AS MATERIALIZED (
       |  SELECT doc_id, u.i - 1 AS pos,
       |    ${duckHash("ts[u.i]")} AS th
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
       |        FROM documents) d,
       |  LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u),
       |rolled AS MATERIALIZED (
       |  SELECT doc_id, pos, th,
       |    LAG(th, 3) OVER w AS l3, LAG(th, 2) OVER w AS l2,
       |    LAG(th, 1) OVER w AS l1
       |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |flagged AS MATERIALIZED (
       |  SELECT doc_id, pos, th,
       |    CASE WHEN pos >= 3 AND
       |      ((((l3 * 131 + l2) % $M) * 131 + l1) % $M * 131 + th) % $M
       |        % 8 = 0 THEN 1 ELSE 0 END AS bflag
       |  FROM rolled),
       |cidx AS MATERIALIZED (
       |  SELECT doc_id, pos, th,
       |    COALESCE(SUM(bflag) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk
       |  FROM flagged),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id, chunk,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(th ORDER BY pos)), (a, b) -> (a * 131 + b) % $M)
       |      AS chash,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens
       |  FROM cidx GROUP BY doc_id, chunk)""".stripMargin

  /** The q47 MinHash band expressions (2 bands of 4 hash slots). */
  private val mhSig = "transform(sequence(0, 7), i -> " +
    s"array_min(transform(th, h -> ((2*i + 1) * h + 7919 * i) % $M)))"

  private def duckMh(lo: Int, hi: Int) =
    s"array_to_string(list_transform(range($lo, $hi), i -> " +
      s"list_min(list_transform(th, h -> ((2*i + 1) * h + 7919 * i) % $M))), '-')"

  /** Content-defined chunking of (doc_id, text): rolling hash over the
    * last 4 token hashes, boundary where it ≡ 0 (mod 8). Returns
    * (doc_id, chunk, chash, n_tokens). Boundaries depend only on a
    * 4-token neighborhood, so an edit re-chunks O(1) chunks around it
    * — the CDC locality property Round10MoreSpec asserts directly.
    */
  private[ops] def cdcChunks(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"),
        TextHash.charFold(col("t"), 7L, 131L).as("th"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val flagged = toks
      .withColumn("l3", lag(col("th"), 3).over(w))
      .withColumn("l2", lag(col("th"), 2).over(w))
      .withColumn("l1", lag(col("th"), 1).over(w))
      .withColumn("bflag",
        when(col("pos") >= 3 &&
          expr(s"((((l3 * 131 + l2) % $M) * 131 + l1) % $M * 131 + th)" +
            s" % $M % 8") === 0, 1L).otherwise(0L))
    val cidx = flagged.withColumn("chunk",
      coalesce(sum(col("bflag")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cidx.groupBy(col("doc_id"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("pos"), col("th"))))
        .as("ordered"),
        count(lit(1)).cast("bigint").as("n_tokens"))
      .withColumn("chash",
        expr(s"aggregate(transform(ordered, x -> x.th), " +
          s"CAST(0 AS BIGINT), (a, b) -> (a * 131 + b) % $M)"))
      .select(col("doc_id"), col("chunk"), col("chash"), col("n_tokens"))
  }

  val queries: Seq[Q] = Seq(
    // Pipeline/deployment: manifest-checkpointed backfill. Pass 1
    // processes buckets {0,1} and records them in a Jackson-written
    // manifest; the simulated crash is simply never processing the
    // rest. Pass 2 reads the manifest and processes ONLY the missing
    // buckets (the filter proves it — pass-1 buckets are never
    // recomputed), appending to the same partitioned artifact. The
    // serve aggregates the stitched artifact; the oracle computes the
    // single-shot answer directly, so hash equality IS the
    // resume-equals-single-shot proof. fpsum folds per-doc md5 hashes
    // order-independently (sum of residues; a cluster-scale corpus
    // would fold mod-M at the partial aggregate to bound the sum).
    Q(
      "q254_backfill_resume",
      s"""WITH perdoc AS (
         |  SELECT doc_id % $NBUCKETS AS bucket,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntk,
         |    ${duckHash("text")} AS fp
         |  FROM documents)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ntk) AS BIGINT) AS sum_ntk,
         |  CAST(SUM(fp) % $M AS BIGINT) AS fpsum,
         |  CAST(CASE WHEN bucket < 2 THEN 1 ELSE 0 END AS BIGINT)
         |    AS precomputed
         |FROM perdoc
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val root = ArtifactStore.root(
        s"graft_backfill_${VecIndex.dirDigest(dir)}")
      ArtifactStore.deleteRecursive(root)
      ArtifactStore.mkdirs(root)
      val data = s"$root/data"
      def transform() = Tables.table(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % NBUCKETS).as("bucket"),
          size(split(col("text"), " ")).cast("bigint").as("ntk"),
          TextHash.charFold(col("text"), 7L, 131L).as("fp"))
      def process(buckets: Seq[Int]): Unit =
        transform().filter(col("bucket").isin(buckets: _*))
          .write.mode("append").partitionBy("bucket").parquet(data)
      val jm = com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .build()
      def writeManifest(name: String, done: Seq[Int]): Unit =
        ArtifactStore.writeStringAtomic(s"$root/$name",
          s"""{"done":[${done.sorted.mkString(",")}]}""")
      def readManifest(name: String): Seq[Int] = {
        val node = jm.readTree(ArtifactStore.readString(s"$root/$name"))
        (0 until node.get("done").size()).map(node.get("done").get(_).asInt())
      }
      // pass 1: two buckets, then "crash" (manifest records progress)
      process(Seq(0, 1))
      writeManifest("manifest_pass1.json", Seq(0, 1))
      writeManifest("manifest.json", Seq(0, 1))
      // pass 2 (resume): manifest-driven — only the missing buckets
      val done1 = readManifest("manifest.json")
      val missing = (0 until NBUCKETS).filterNot(done1.contains)
      process(missing)
      writeManifest("manifest.json", 0 until NBUCKETS)
      val pass1 = readManifest("manifest_pass1.json").toSet
      s.read.parquet(data)
        .groupBy(col("bucket").cast("bigint").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("ntk")).cast("bigint").as("sum_ntk"),
          (sum(col("fp")) % M).cast("bigint").as("fpsum"))
        .withColumn("precomputed",
          col("bucket").isin(pass1.toSeq.map(_.toLong): _*)
            .cast("bigint"))
        .orderBy(col("bucket"))
    },

    // Observability: Dataset.observe per-stage counters. One action,
    // three CollectMetrics nodes riding it — rows and chars entering
    // each stage of a filter cascade. The oracle recomputes every
    // stage with plain SQL, so the gate proves the observed metrics
    // are the true stage cardinalities (the property a pipeline
    // dashboard silently depends on).
    Q(
      "q255_observed_metrics",
      """WITH raw AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars FROM documents),
        |langf AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars FROM documents
        |  WHERE lang IN ('en', 'de')),
        |qual AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars FROM documents
        |  WHERE lang IN ('en', 'de')
        |    AND len(string_split(text, ' ')) >= 40)
        |SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS name, n_rows, n_chars
        |FROM raw
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'lang_kept', n_rows, n_chars FROM langf
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'quality_kept', n_rows, n_chars FROM qual
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      val oRaw = Observation("raw")
      val oLang = Observation("lang_kept")
      val oQual = Observation("quality_kept")
      val metricsCols = Seq(
        count(lit(1)).cast("bigint").as("n_rows"),
        coalesce(sum(col("n_chars")), lit(0L)).cast("bigint")
          .as("n_chars"))
      val piped = Tables.table(s, dir, "documents")
        .observe(oRaw, metricsCols.head, metricsCols(1))
        .filter(col("lang").isin("en", "de"))
        .observe(oLang, metricsCols.head, metricsCols(1))
        .filter(size(split(col("text"), " ")) >= 40)
        .observe(oQual, metricsCols.head, metricsCols(1))
      piped.write.mode("overwrite").format("noop").save() // the one action
      val rows = Seq(
        (0L, "raw", oRaw), (1L, "lang_kept", oLang),
        (2L, "quality_kept", oQual)).map { case (i, n, o) =>
        (i, n, o.get("n_rows").asInstanceOf[Long],
          o.get("n_chars").asInstanceOf[Long])
      }
      import s.implicits._
      rows.toDF("stage", "name", "n_rows", "n_chars").orderBy(col("stage"))
    },

    // E6/maintenance: incremental near-dup component merge. The graph
    // is the MinHash band-bucket star graph (every doc links to its
    // band bucket's min doc — linear in docs, never clique-quadratic).
    // Base = doc_id < 400, labeled once. Delta = the remaining docs:
    // their band edges attach to the bucket representative (the
    // persisted band index's min base doc, or the min delta doc for a
    // brand-new bucket), and contraction runs over (delta edges +
    // base labels re-expressed as star edges) — work proportional to
    // the delta and the components it touches. Hash equality with the
    // oracle's FULL recompute proves the merge exact.
    Q(
      "q256_incremental_components",
      s"""WITH RECURSIVE th AS MATERIALIZED (
         |  SELECT doc_id, ${Dedup.duckTokenHashes} AS th FROM documents),
         |sg AS MATERIALIZED (
         |  SELECT doc_id, ${duckMh(0, 4)} AS band0, ${duckMh(4, 8)} AS band1
         |  FROM th),
         |sides AS MATERIALIZED (
         |  SELECT doc_id, u.bi,
         |    CASE WHEN u.bi = 0 THEN band0 ELSE band1 END AS bkey
         |  FROM sg, LATERAL (SELECT unnest([0, 1]) AS bi) u),
         |roots AS (
         |  SELECT bi, bkey, MIN(doc_id) AS root FROM sides GROUP BY 1, 2),
         |prs AS (
         |  SELECT s.doc_id AS a, r.root AS b
         |  FROM sides s JOIN roots r ON s.bi = r.bi AND s.bkey = r.bkey
         |  WHERE s.doc_id <> r.root),
         |edges AS (
         |  SELECT a, b FROM prs UNION SELECT b, a FROM prs
         |  UNION SELECT a, a FROM prs UNION SELECT b, b FROM prs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS doc_id, MIN(b) AS component
         |         FROM reach GROUP BY a)
         |SELECT d.doc_id,
         |  CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val raw = Tables.table(s, dir, "documents")
      // corpus-derived base/delta split (80/20) so the delta stays a
      // delta at every SF; the oracle's full recompute is
      // split-agnostic, so the merge must match it for ANY cut
      val cut = raw.count() * 4 / 5
      // pin the banded signatures: every branch below (base index,
      // base edges, delta index, delta edges) reads them, and without
      // the checkpoint each action re-hashes the whole corpus
      val sigs = raw
        .withColumn("th", TextHash.tokenHashesDistinct(col("text")))
        .withColumn("mh", expr(mhSig))
        .select(col("doc_id"),
          posexplode(array(
            array_join(slice(col("mh"), 1, 4), "-"),
            array_join(slice(col("mh"), 5, 4), "-"))).as(Seq("bi", "bkey")))
        .localCheckpoint(true)
      val docs = s.createDataFrame(sigs.rdd, sigs.schema)
      val base = docs.filter(col("doc_id") < cut)
      val delta = docs.filter(col("doc_id") >= cut)
      // persisted band index of the base corpus: bucket -> representative
      val baseIdx = base.groupBy(col("bi"), col("bkey"))
        .agg(min(col("doc_id")).as("root"))
      val baseEdges = base.join(baseIdx, Seq("bi", "bkey"))
        .filter(col("doc_id") =!= col("root"))
        .select(col("doc_id").as("a"), col("root").as("b"))
      val baseLab = Components.label(s, baseEdges)
      // delta docs attach to the existing representative, or elect the
      // min delta doc for buckets the base has never seen
      val deltaIdx = delta.groupBy(col("bi"), col("bkey"))
        .agg(min(col("doc_id")).as("droot"))
      val deltaEdges = delta
        .join(deltaIdx, Seq("bi", "bkey"))
        .join(baseIdx, Seq("bi", "bkey"), "left")
        .withColumn("rep", coalesce(col("root"), col("droot")))
        .filter(col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("a"), col("rep").as("b"))
      // merge: base labels re-expressed as star edges + delta edges
      val merged = baseLab.filter(col("doc_id") =!= col("component"))
        .select(col("doc_id").as("a"), col("component").as("b"))
        .unionByName(deltaEdges)
      val lab = Components.label(s, merged)
        .withColumnRenamed("doc_id", "lid")
      Tables.table(s, dir, "documents").select(col("doc_id"))
        .join(lab, col("doc_id") === col("lid"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).cast("bigint")
            .as("component"))
        .orderBy(col("doc_id"))
    },

    // Storage: content-defined chunking dedup. Boundary = rolling hash
    // of the last 4 token hashes ≡ 0 (mod 8) — expected chunk ~8
    // tokens, boundaries decided by content alone. The per-token
    // stream is rows (posexplode + lag window), never a per-doc
    // quadratic HOF; the chunk hash folds the chunk's token hashes in
    // position order. Output: the top duplicated chunks plus the
    // corpus dedup ratio — what a CDC store would save.
    Q(
      "q258_cdc_chunk_dedup",
      s"""WITH $cdcChunkCtes,
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total_chunks,
         |    CAST(COUNT(DISTINCT chash) AS BIGINT) AS distinct_chunks,
         |    CAST(FLOOR(CAST(COUNT(*) - COUNT(DISTINCT chash) AS DOUBLE)
         |      * 1000000 / COUNT(*)) AS BIGINT) AS dup6
         |  FROM chunks),
         |top AS (
         |  SELECT chash, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM chunks GROUP BY chash
         |  ORDER BY n_occ DESC, chash ASC LIMIT 10)
         |SELECT t.chash, t.n_occ, t.n_docs, o.total_chunks,
         |  o.distinct_chunks, o.dup6
         |FROM top t, tot o
         |ORDER BY t.n_occ DESC, t.chash ASC""".stripMargin) { (s, dir) =>
      val chunks = cdcChunks(
        Tables.table(s, dir, "documents").select(col("doc_id"), col("text")))
      val tot = chunks.agg(
        count(lit(1)).cast("bigint").as("total_chunks"),
        countDistinct(col("chash")).cast("bigint").as("distinct_chunks"),
        floor((count(lit(1)) - countDistinct(col("chash")))
          .cast("double") * 1000000 / count(lit(1)))
          .cast("bigint").as("dup6"))
      chunks.groupBy(col("chash"))
        .agg(count(lit(1)).cast("bigint").as("n_occ"),
          countDistinct(col("doc_id")).cast("bigint").as("n_docs"))
        .orderBy(col("n_occ").desc, col("chash").asc)
        .limit(10)
        .crossJoin(broadcast(tot))
        .orderBy(col("n_occ").desc, col("chash").asc)
    })
}
