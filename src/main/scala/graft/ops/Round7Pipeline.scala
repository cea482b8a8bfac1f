package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Round-7 pipeline-hygiene gates: the checks an LLM training-data
  * pipeline runs around its dedup/split machinery rather than inside it.
  *
  *  - q238 SPLIT LEAKAGE AUDIT: documents are split 90/10 into
  *    train/val by a deterministic LCG on doc_id, then every val doc
  *    that has a near-duplicate in train is reported — the benchmark-
  *    contamination check every eval pipeline must run before trusting
  *    a held-out score. Candidates come from the q47 MinHash LSH band
  *    keys (an equi-join between the splits — the exact blocking shape
  *    a 100 TB pipeline groups on, probe side = the 10% val split);
  *    candidates are refined by exact token Jaccard >= 0.8 (the q46
  *    threshold, via the codegen'd token_jaccard kernel), and each
  *    leaked val doc reports its best-matching train doc.
  *
  * Scale shape: no all-pairs anywhere — the candidate join is keyed on
  * (band index, band signature); LSH bucket sizes are the pipeline's
  * own dedup-bucket telemetry (q197). The val side is 10% of the
  * corpus by construction, and the exact Jaccard refine runs only on
  * banded candidates.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no
  * dedup/split machinery; this family is part of the
  * training-data-pipeline mandate.
  */
object Round7Pipeline {

  // deterministic 90/10 split: LCG on doc_id, val when residue == 7
  private val lcgVal =
    "((doc_id * 1103515245 + 12345) % 2147483648) % 10 = 7"

  // the q47 8-function MinHash signature over rolling-131 token hashes
  private val sig = "transform(sequence(0, 7), i -> " +
    "array_min(transform(th, h -> ((2*i + 1) * h + 7919 * i) " +
    "% 1000000007)))"

  private val duckMh = (lo: Int, hi: Int) =>
    s"array_to_string(list_transform(range($lo, $hi), i -> " +
      "list_min(list_transform(th, h -> ((2*i + 1) * h + 7919 * i) " +
      "% 1000000007))), '-')"

  val queries: Seq[Q] = Seq(
    Q(
      "q238_split_leakage_audit",
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, $lcgVal AS is_val,
         |    list_distinct(string_split(text, ' ')) AS tk,
         |    ${Dedup.duckTokenHashes} AS th
         |  FROM documents),
         |sg AS MATERIALIZED (
         |  SELECT doc_id, is_val, tk,
         |    ${duckMh(0, 4)} AS band0,
         |    ${duckMh(4, 8)} AS band1
         |  FROM base),
         |sides AS MATERIALIZED (
         |  SELECT doc_id, is_val, len(tk) AS ntk, u.bi,
         |    CASE WHEN u.bi = 0 THEN band0 ELSE band1 END AS bkey
         |  FROM sg, LATERAL (SELECT unnest([0, 1]) AS bi) u),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT v.doc_id AS val_doc, t.doc_id AS train_doc
         |  FROM sides v JOIN sides t ON v.bi = t.bi AND v.bkey = t.bkey
         |  WHERE v.is_val AND NOT t.is_val
         |    AND LEAST(v.ntk, t.ntk) * 5 >= GREATEST(v.ntk, t.ntk) * 4),
         |scored AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT c.val_doc, c.train_doc,
         |      CAST(FLOOR(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.tk, b.tk)))
         |        * 1000000 + 0.5) AS BIGINT) AS jac6
         |    FROM cand c
         |    JOIN sg a ON a.doc_id = c.val_doc
         |    JOIN sg b ON b.doc_id = c.train_doc)
         |  WHERE jac6 >= 800000),
         |best AS (SELECT val_doc, train_doc, jac6 FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY val_doc
         |    ORDER BY jac6 DESC, train_doc ASC) AS rn FROM scored)
         |  WHERE rn = 1),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_val FROM base
         |  WHERE is_val),
         |nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked FROM best)
         |SELECT b.val_doc, b.train_doc, b.jac6, v.n_val, l.n_leaked
         |FROM best b, nv v, nl l
         |ORDER BY b.val_doc""".stripMargin) { (s, dir) =>
      // tk is sorted ONCE per document so the per-pair kernel is the
      // allocation-free sorted merge (see TokenJaccardSorted) — the
      // jaccard VALUE is set-semantic and unchanged
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr(lcgVal).as("is_val"),
          array_sort(array_distinct(split(col("text"), " "))).as("tk"),
          TextHash.tokenHashesDistinct(col("text")).as("th"))
        .withColumn("mh", TextHash.minHashSig(col("th")))
        .select(col("doc_id"), col("is_val"), col("tk"),
          size(col("tk")).as("ntk"),
          array_join(slice(col("mh"), 1, 4), "-").as("band0"),
          array_join(slice(col("mh"), 5, 4), "-").as("band1"))
      val sides = base
        .select(col("doc_id"), col("is_val"), col("ntk"), col("tk"),
          posexplode(array(col("band0"), col("band1")))
            .as(Seq("bi", "bkey")))
      // The banded pair stream NEVER materializes or shuffles (sf1's
      // dup-heavy corpus produces 75M banded pairs — a 67 s gate when
      // they rode a distinct + two shuffled attach joins + a window):
      //  - token payloads ride the SIDES through the band join (two
      //    array-carrying rows per document — an O(docs) shuffle), so
      //    the join output already holds both arrays and the pair
      //    stream is pipelined map-side from the join through the
      //    argmax's partial aggregate: no per-pair shuffle, no
      //    corpus-table broadcast, the shape that survives 100 TB.
      //  - LENGTH FILTER before the kernel: J >= 0.8 forces
      //    min(|a|,|b|) >= |a ∩ b| >= 0.8·|a ∪ b| >= 0.8·max(|a|,|b|),
      //    so a length-incompatible pair scores < 0.8 and cannot reach
      //    `scored` — dropping it on two ints is answer-preserving and
      //    integer-exact in both engines.
      //  - NO distinct: a pair matching in both bands scores the same
      //    jac6 twice, and the per-val-doc argmax is duplicate-blind —
      //    the 75M-row dedup shuffle bought nothing.
      //  - the jaccard kernel is the sorted two-pointer merge
      //    (TokenJaccardSorted — tk is per-doc pre-sorted) and runs
      //    ONCE per pair: jac6 >= 800000 ⟺ J >= 0.8 - 5e-7, and a
      //    distinct-token Jaccard within 5e-7 of 0.8 needs a
      //    million-token union — documents are orders of magnitude
      //    smaller, so the integer filter is exact.
      //  - the best match is a partial-aggregatable max(struct) (jac6
      //    desc, train_doc asc via negation), not a window: map-side
      //    combine collapses each partition's pairs before the only
      //    remaining (val-doc-sized) shuffle.
      val scored = sides.filter(col("is_val"))
        .select(col("doc_id").as("val_doc"), col("ntk").as("na"),
          col("tk").as("tk_a"), col("bi"), col("bkey"))
        .join(sides.filter(!col("is_val"))
          .select(col("doc_id").as("train_doc"), col("ntk").as("nb"),
            col("tk").as("tk_b"), col("bi"), col("bkey")),
          Seq("bi", "bkey"))
        .filter(least(col("na"), col("nb")) * 5 >=
          greatest(col("na"), col("nb")) * 4)
        .select(col("val_doc"), col("train_doc"),
          expr("CAST(FLOOR(token_jaccard_sorted(tk_a, tk_b) * 1000000 " +
            "+ 0.5) AS BIGINT)").as("jac6"))
        .filter(col("jac6") >= 800000L)
      val best = scored
        .groupBy(col("val_doc"))
        .agg(max(struct(col("jac6"), (-col("train_doc")).as("ntd")))
          .as("m"))
        .select(col("val_doc"), (-col("m.ntd")).as("train_doc"),
          col("m.jac6").as("jac6"))
      val nVal = base.filter(col("is_val"))
        .agg(count(lit(1)).cast("bigint").as("n_val"))
      val nLeaked = best
        .agg(count(lit(1)).cast("bigint").as("n_leaked"))
      best.crossJoin(broadcast(nVal)).crossJoin(broadcast(nLeaked))
        .orderBy(col("val_doc"))
    }
  )
}
