package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 additions, fourth batch: the MAINTENANCE ring — operators a
  * long-lived 100 TB corpus runs continuously rather than once.
  * q213 Unicode NFC normalization (via the graft.functions.NfcNormalize
  * native Expression — the canonicalization every hash-keyed gate
  * assumes), q214 incremental inverted-index maintenance (merge a new
  * batch's postings instead of re-indexing; gated by EQUALITY with the
  * full rebuild), q215 incremental codebook refresh (fold a new batch
  * into q196's trained centroids without retraining), and q216 a
  * distribution-drift monitor (exact integer total-variation distance
  * between corpus snapshots).
  *
  * Determinism discipline as everywhere: integer arithmetic end to
  * end; md5-char folds for fingerprints; assignment ties to the lowest
  * centroid id.
  */
object MaintenanceOps {

  // ------------------------------------------------------------------
  // q214: index over a document frame (q177's shape, shared band)
  // ------------------------------------------------------------------

  /** Shingle postings for one document frame: (term, df, ps ARRAY). */
  private def postings(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(Round4Ops.sparkShingles))
        .as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("ps"))

  // ------------------------------------------------------------------
  // q215 constants
  // ------------------------------------------------------------------

  private val K = 8
  private val ITERS = 2

  val queries: Seq[Q] = Seq(
    // E8/E13: Unicode NFC canonicalization as a NATIVE codegen
    // Expression (graft.functions.NfcNormalize wrapping the JDK
    // normalizer — byte-identical to DuckDB's utf8proc nfc_normalize).
    // The generated corpus is ASCII, so the query plants decomposed
    // sequences on a doc_id schedule (e+COMBINING ACUTE on %3==0,
    // o+COMBINING DIAERESIS on %3==1 — both engines build the same
    // bytes), normalizes, and reports per-source: how many docs
    // changed, the code-point counts before/after (composition
    // shortens), and an md5-fold fingerprint of the normalized text —
    // the hash every downstream dedup gate would key on. Pure map
    // stage + one partial agg; normalization cost rides the scan.
    Q(
      "q213_unicode_normalize",
      s"""WITH raw2 AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 3 = 0
         |           THEN replace(text, 'e', 'e' || chr(769))
         |         WHEN doc_id % 3 = 1
         |           THEN replace(text, 'o', 'o' || chr(776))
         |         ELSE text END AS t
         |  FROM documents),
         |nrm AS (SELECT source, t, nfc_normalize(t) AS n FROM raw2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n != t THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed,
         |  CAST(SUM(length(t)) AS BIGINT) AS chars_before,
         |  CAST(SUM(length(n)) AS BIGINT) AS chars_after,
         |  CAST(SUM(${Pq.duckFold("n")}) % 1000000007 AS BIGINT) AS fp
         |FROM nrm
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("source"),
          when(col("doc_id") % 3 === 0,
            regexp_replace(col("text"), "e", "e\u0301"))
            .when(col("doc_id") % 3 === 1,
              regexp_replace(col("text"), "o", "o\u0308"))
            .otherwise(col("text")).as("t"))
        .withColumn("n", expr("nfc_normalize(t)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") =!= col("t"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(length(col("t"))).cast("bigint").as("chars_before"),
          sum(length(col("n"))).cast("bigint").as("chars_after"),
          (sum(graft.functions.TextHash.charFold(md5(col("n")), 0L, 31L))
            % 1000000007L).as("fp"))
        .orderBy(col("source"))
    },

    // E8/lake: INCREMENTAL inverted-index maintenance. A 100 TB index
    // is never rebuilt per batch — the new docs' postings are computed
    // batch-side (batch-sized work) and merged into the stored index
    // with one term-keyed join (old side bucketable on term); only the
    // touched posting lists re-sort, each bounded by its own df. The
    // ORACLE is the full q177-style rebuild over all documents, so the
    // gate PROVES incremental == rebuild (q162's incremental-agg
    // discipline applied to the text index).
    Q(
      "q214_incremental_postings",
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(${Round4Ops.duckShingles}) AS term
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3)
         |SELECT term, COUNT(*) AS df,
         |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         |FROM ex
         |GROUP BY term
         |HAVING COUNT(*) BETWEEN 2 AND 4
         |ORDER BY term""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
      val oldIdx = postings(d.filter(col("doc_id") % 10 =!= 0))
        .select(col("term"), col("df").as("odf"), col("ps").as("ops_"))
      val delta = postings(d.filter(col("doc_id") % 10 === 0))
        .select(col("term"), col("df").as("ddf"), col("ps").as("dps"))
      val emptyPs = expr("CAST(array() AS ARRAY<BIGINT>)")
      oldIdx.join(delta, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("odf"), lit(0L)) + coalesce(col("ddf"), lit(0L)))
            .as("df"),
          array_join(array_sort(concat(
            coalesce(col("ops_"), emptyPs),
            coalesce(col("dps"), emptyPs))), ",").as("postings"))
        .filter(col("df").between(2, 4))
        .orderBy(col("term"))
    },

    // E7/lake: INCREMENTAL codebook refresh — the maintenance half of
    // q196. A new embedding batch is assigned to the nearest existing
    // centroid (map-only under the broadcast codebook), and each
    // touched centroid moves to the exact weighted mean of its old
    // mass and the batch: floor((old*n_old + sum_batch)/(n_old+n_b)).
    // All fixed-point BIGINT, so the refreshed codebook is
    // bit-reproducible under any partitioning — no retraining pass
    // over the accumulated corpus (in production n_old ships WITH the
    // codebook; recomputing it here is one extra demo scan). Output:
    // every coordinate's old and refreshed value plus the cluster
    // masses.
    Q(
      "q215_codebook_refresh",
      s"""WITH eold AS (
         |  SELECT * FROM embeddings WHERE vec_id % 10 != 9),
         |ebatch AS (
         |  SELECT * FROM embeddings WHERE vec_id % 10 = 9),
         |${KMeans.oracleCtes(K, ITERS, "eold")},
         |asO AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM eold e, cl$ITERS c) WHERE rn = 1),
         |nold AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_old
         |  FROM asO GROUP BY cid),
         |asB AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM ebatch e, cl$ITERS c) WHERE rn = 1),
         |bsv AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
         |      AS BIGINT) AS sval
         |  FROM ebatch),
         |bagg AS (
         |  SELECT a.cid, s.pos, CAST(SUM(s.sval) AS BIGINT) AS bsum,
         |    CAST(COUNT(*) AS BIGINT) AS n_batch
         |  FROM asB a JOIN bsv s ON a.vec_id = s.vec_id
         |  GROUP BY a.cid, s.pos)
         |SELECT c.cid, CAST(c.pos AS BIGINT) AS pos, c.cval AS old_cval,
         |  COALESCE(n.n_old, 0) AS n_old, COALESCE(b.n_batch, 0) AS n_batch,
         |  CASE WHEN b.n_batch IS NULL THEN c.cval
         |       ELSE ((c.cval * COALESCE(n.n_old, 0) + b.bsum)
         |         - ((((c.cval * COALESCE(n.n_old, 0) + b.bsum)
         |              % (COALESCE(n.n_old, 0) + b.n_batch))
         |             + (COALESCE(n.n_old, 0) + b.n_batch))
         |            % (COALESCE(n.n_old, 0) + b.n_batch)))
         |         // (COALESCE(n.n_old, 0) + b.n_batch)
         |  END AS new_cval
         |FROM cent$ITERS c
         |  LEFT JOIN nold n ON c.cid = n.cid
         |  LEFT JOIN bagg b ON c.cid = b.cid AND c.pos = b.pos
         |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      // batch residue 9 keeps vec_ids 0..K-1 in the old corpus, so the
      // deterministic first-K init trains the full K clusters
      val old = e.filter(col("vec_id") % 10 =!= 9)
      val batch = e.filter(col("vec_id") % 10 === 9)
      val cb = KMeans.codebook(s, old, K, ITERS)
      val nOld = KMeans.assign(old, cb)
        .groupBy(col("cid")).agg(count(lit(1)).as("n_old"))
      val bAgg = KMeans.assign(batch, cb)
        .select(col("cid"),
          posexplode(expr(KMeans.scaleExpr("embedding")))
            .as(Seq("pos", "sval")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("sval")).as("bsum"), count(lit(1)).as("n_batch"))
      cb.select(col("cid"), posexplode(col("cs")).as(Seq("pos", "old_cval")))
        .join(broadcast(nOld), Seq("cid"), "left")
        .join(broadcast(bAgg), Seq("cid", "pos"), "left")
        .select(col("cid"), col("pos").cast("bigint").as("pos"),
          col("old_cval"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"),
          expr("""CASE WHEN n_batch IS NULL THEN old_cval
                      ELSE ((old_cval * coalesce(n_old, 0) + bsum)
                        - pmod(old_cval * coalesce(n_old, 0) + bsum,
                               coalesce(n_old, 0) + n_batch))
                        div (coalesce(n_old, 0) + n_batch)
                 END""").as("new_cval"))
        .orderBy(col("cid"), col("pos"))
    },

    // Monitoring: distribution drift between two corpus snapshots
    // (here the even/odd doc_id halves standing in for week-over-week
    // crawls), as the exact total-variation distance over fixed
    // length buckets — the quantity a data-quality monitor alerts on.
    // Shares are integer ppm (count*1e6 div total), the TV row
    // (bucket = -1) is sum(|Δppm|)/2; everything is two partial-agg
    // scans + one tiny bucket join, and the fixed bucketing means the
    // monitor's state is O(buckets) regardless of corpus size.
    Q(
      "q216_distribution_drift",
      """WITH d AS (
        |  SELECT doc_id % 2 AS snap, LEAST(n_chars // 50, 19) AS bucket
        |  FROM documents),
        |g AS (
        |  SELECT bucket,
        |    CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cnt_a,
        |    CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cnt_b
        |  FROM d GROUP BY bucket),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta,
        |  CAST(SUM(cnt_b) AS BIGINT) AS tb FROM g),
        |sh AS (
        |  SELECT g.bucket, g.cnt_a, g.cnt_b,
        |    (g.cnt_a * 1000000) // t.ta AS share_a_ppm,
        |    (g.cnt_b * 1000000) // t.tb AS share_b_ppm
        |  FROM g, t)
        |SELECT bucket, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
        |  abs(share_a_ppm - share_b_ppm) AS abs_delta_ppm
        |FROM sh
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), t.ta, t.tb,
        |  CAST(1000000 AS BIGINT), CAST(1000000 AS BIGINT),
        |  (SELECT CAST(SUM(abs(share_a_ppm - share_b_ppm)) AS BIGINT) // 2
        |   FROM sh)
        |FROM t
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
        .select((col("doc_id") % 2).as("snap"),
          least(expr("n_chars div 50"), lit(19L)).as("bucket"))
      val g = d.groupBy(col("bucket"))
        .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("cnt_a"),
          sum(when(col("snap") === 1, 1L).otherwise(0L)).as("cnt_b"))
      val t = g.agg(sum(col("cnt_a")).as("ta"), sum(col("cnt_b")).as("tb"))
      val sh = g.crossJoin(broadcast(t))
        .select(col("bucket"), col("cnt_a"), col("cnt_b"),
          expr("(cnt_a * 1000000) div ta").as("share_a_ppm"),
          expr("(cnt_b * 1000000) div tb").as("share_b_ppm"))
      val tv = sh.agg(
        expr("SUM(abs(share_a_ppm - share_b_ppm)) div 2").as("tvd"))
      val summary = t.crossJoin(broadcast(tv))
        .select(lit(-1L).as("bucket"), col("ta").as("cnt_a"),
          col("tb").as("cnt_b"), lit(1000000L).as("share_a_ppm"),
          lit(1000000L).as("share_b_ppm"), col("tvd").as("abs_delta_ppm"))
      sh.withColumn("abs_delta_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
        .unionByName(summary)
        .orderBy(col("bucket"))
    })
}
