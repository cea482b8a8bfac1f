package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-4 batch 2: corpus-hygiene and layout operators a 100 TB
  * pre-training pipeline runs between raw crawl and tokenization —
  * global boilerplate-line scrubbing (the C4/CCNet pass), URL
  * normalization + host-level dedup, range-partition boundary
  * computation (the building block of distributed sort / ordered
  * layout), and per-language adaptive quality thresholds. Each is map
  * stages + partial-agg group-bys; the only windows are per-group
  * (never SinglePartition) and the only broadcast is a 1-row or
  * boundaries-sized frame.
  */
object Round4More {

  // Fixed-width pseudo-lines: consecutive 8-token chunks. Both engines
  // chunk identically — chunk i covers tokens [i*8+1, min((i+1)*8, n)].
  private val chunkW = 8

  val queries: Seq[Q] = Seq(
    // Pipeline/E8: GLOBAL boilerplate-chunk scrub (the C4 "remove any
    // line occurring >= 3 times in the corpus" pass, with fixed 8-token
    // chunks standing in for lines — the synthetic corpus has no line
    // structure). A deterministic 8-token footer is planted on every
    // doc_id % 5 == 0 doc so corpus-level duplicate chunks exist; the
    // scrub then (1) explodes chunks, (2) computes global chunk document
    // frequency, (3) drops chunks with df >= 3, (4) reassembles each doc
    // in chunk order, verified by md5. Scale shape: two partial-agg
    // group-bys (chunk df, per-doc reassembly) + one anti join on the
    // chunk hash — the SAME shape as exact dedup, just at sub-document
    // granularity; no windows, no driver state. The boilerplate set is
    // df-bounded (stopword-class chunks ARE the target), so the anti
    // join's build side stays small relative to the corpus.
    Q(
      "q180_boilerplate_scrub",
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN concat(text, ' all rights reserved terms of service apply')
         |      ELSE text END AS t
         |  FROM documents),
         |tk AS (SELECT doc_id, string_split(t, ' ') AS tks FROM planted),
         |ex AS (
         |  SELECT doc_id, i AS idx,
         |    array_to_string(
         |      list_slice(tks, i*$chunkW+1, least((i+1)*$chunkW, len(tks))),
         |      ' ') AS chunk
         |  FROM tk, LATERAL (
         |    SELECT unnest(range((len(tks)-1)//$chunkW + 1)) AS i) g),
         |boiler AS (
         |  SELECT chunk FROM ex GROUP BY chunk
         |  HAVING COUNT(DISTINCT doc_id) >= 3),
         |stats AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ex GROUP BY doc_id),
         |clean AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    array_to_string(list(chunk ORDER BY idx), ' ') AS clean_text
         |  FROM ex WHERE chunk NOT IN (SELECT chunk FROM boiler)
         |  GROUP BY doc_id)
         |SELECT s.doc_id, s.n_chunks,
         |  CAST(s.n_chunks - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
         |  md5(COALESCE(c.clean_text, '')) AS clean_md5
         |FROM stats s LEFT JOIN clean c USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      val ex = Tables.table(s, dir, "documents")
        .withColumn("t", when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" all rights reserved terms of service apply")))
          .otherwise(col("text")))
        .select(col("doc_id"), split(col("t"), " ").as("tks"))
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(0, (size(tks)-1) div $chunkW),
             |  i -> struct(i AS idx,
             |    concat_ws(' ', slice(tks, i*$chunkW+1, $chunkW)) AS chunk))
             |""".stripMargin)).as("c"))
        .select(col("doc_id"), col("c.idx").as("idx"), col("c.chunk").as("chunk"))
      val boiler = ex.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("dfd"))
        .filter(col("dfd") >= 3).select(col("chunk"))
      val stats = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      val clean = ex.join(boiler, Seq("chunk"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk)"))
            .as("clean_text"))
      stats.join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // Pipeline/E8: URL normalization + host-level grouping — the first
    // pass of any crawl pipeline (url-level exact dedup is meaningless
    // before it). The corpus has no URL column, so a deterministic messy
    // URL is synthesized per doc (mixed case, www., explicit default
    // port, utm_* tracking params, trailing slash — both engines build
    // the identical string), then normalized: lowercase, strip ':443',
    // drop utm_* params (mid-query then trailing), strip 'www.', strip
    // the trailing slash. Per host: doc count and distinct normalized
    // URLs — the collapse from raw to normalized is the dedup win.
    // Scale shape: pure map (string kernels) + one partial-agg groupBy
    // on host; runs at scan speed on 100 TB of crawl metadata.
    Q(
      "q181_url_normalize",
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat('HTTPS://WWW.Site', CAST(doc_id % 20 AS VARCHAR),
        |      '.COM:443/Path/', CAST(doc_id AS VARCHAR),
        |      CASE WHEN doc_id % 3 = 0
        |        THEN concat('?utm_source=feed&id=', CAST(doc_id % 7 AS VARCHAR))
        |        WHEN doc_id % 3 = 1
        |        THEN concat('?id=', CAST(doc_id % 7 AS VARCHAR), '&utm_campaign=x')
        |        ELSE '' END,
        |      CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) AS url
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      replace(
        |        regexp_replace(
        |          regexp_replace(replace(lower(url), ':443', ''),
        |            'utm_[a-z]+=[^&]*&', ''),
        |          '[?&]utm_[a-z]+=[^&]*$', ''),
        |        '://www.', '://'),
        |      '/$', '') AS u
        |  FROM raw)
        |SELECT regexp_extract(u, '://([^/:?]+)', 1) AS host,
        |  COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_urls,
        |  MIN(u) AS sample_url
        |FROM norm
        |GROUP BY host
        |ORDER BY host""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .withColumn("url", concat(
          lit("HTTPS://WWW.Site"), (col("doc_id") % 20).cast("string"),
          lit(".COM:443/Path/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("?id="), (col("doc_id") % 7).cast("string"),
                lit("&utm_campaign=x")))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit(""))))
        .withColumn("u",
          regexp_replace(
            expr("replace(" +
              "regexp_replace(regexp_replace(replace(lower(url), ':443', '')," +
              " 'utm_[a-z]+=[^&]*&', ''), '[?&]utm_[a-z]+=[^&]*$', '')," +
              " '://www.', '://')"),
            "/$", ""))
        .groupBy(regexp_extract(col("u"), "://([^/:?]+)", 1).as("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("u")).as("n_urls"),
          min(col("u")).as("sample_url"))
        .orderBy(col("host"))
    },

    // Layout: range-partition boundary computation — the building block
    // of distributed sort and ordered parquet layout (Spark's
    // RangePartitioner does exactly this with a sample; here boundaries
    // are exact interpolated octile cut points, floored to BIGINT so
    // both engines agree bit-exactly — p = k/8 and integer inputs make
    // the interpolation arithmetic exact in double). Every row is then
    // assigned bucket = #(boundaries < key) via a fold over the
    // broadcast 7-element boundary array, and the gate reports per-bucket
    // counts + key ranges: near-equal counts prove the layout would give
    // a balanced global sort WITHOUT any SinglePartition exchange. Scale
    // shape: one exact-percentile agg (sort-based partial agg; on a real
    // 100 TB run this is the sampled variant), a broadcast of 7 longs,
    // and one partial-agg groupBy.
    Q(
      "q182_range_boundaries",
      """WITH b AS (
        |  SELECT list_transform(
        |    quantile_cont(l_partkey,
        |      [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
        |    x -> CAST(floor(x) AS BIGINT)) AS bs
        |  FROM lineitem),
        |a AS (
        |  SELECT l_partkey AS k,
        |    CAST(len(list_filter(b.bs, c -> l_partkey > c)) AS INT) AS bucket
        |  FROM lineitem, b)
        |SELECT bucket, COUNT(*) AS n_rows,
        |  MIN(k) AS min_k, MAX(k) AS max_k
        |FROM a
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val li = Tables.table(s, dir, "lineitem").select(col("l_partkey").as("k"))
      val bounds = li.agg(expr(
        "transform(percentile(k, array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D," +
          " 0.75D, 0.875D)), x -> CAST(floor(x) AS BIGINT))").as("bs"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", expr(
          "CAST(aggregate(bs, 0, (acc, c) -> acc + IF(k > c, 1, 0)) AS INT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("bucket"))
    },

    // Quality/E8: per-language ADAPTIVE quality threshold — a fixed
    // global cutoff over-filters low-resource languages, so production
    // filters set the cutoff per language. Score = type-token ratio
    // (distinct/total tokens, both engines compute the same double).
    // The per-lang p25 threshold is EXACT discrete (the value at
    // 0-based rank floor(0.25*(n-1)) ordered by (score, doc_id)) —
    // computed via a per-lang window rank, NOT interpolated percentile,
    // so no engine-specific interpolation arithmetic is in play. Docs
    // with score <= threshold are flagged. Scale shape: map + per-lang
    // partitioned window (never SinglePartition — asserted shape family
    // in PlanAuditSpec) + broadcast-sized per-lang threshold join back.
    Q(
      "q183_adaptive_quality",
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS score
        |  FROM documents),
        |rk AS (
        |  SELECT lang, score,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score, doc_id)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM sc),
        |thr AS (
        |  SELECT lang, score AS threshold
        |  FROM rk WHERE rn - 1 = (n - 1) // 4)
        |SELECT s.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN s.score <= t.threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged,
        |  ROUND(MIN(t.threshold), 6) AS threshold
        |FROM sc s JOIN thr t USING (lang)
        |GROUP BY s.lang
        |ORDER BY s.lang""".stripMargin) { (s, dir) =>
      val sc = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (size(array_distinct(split(col("text"), " "))).cast("double") /
            size(split(col("text"), " "))).as("score"))
      val w = Window.partitionBy(col("lang"))
      val thr = sc
        .withColumn("rn", row_number().over(w.orderBy(col("score"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .filter((col("rn") - 1) === expr("(n - 1) div 4"))
        .select(col("lang"), col("score").as("threshold"))
      sc.join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") <= col("threshold"), 1).otherwise(0))
            .as("n_flagged"),
          round(min(col("threshold")), 6).as("threshold"))
        .orderBy(col("lang"))
    },

    // E6/E7: SemDeDup-style semantic dedup — cluster embeddings by
    // nearest coarse centroid, then near-dup ONLY within clusters
    // (Abbas et al. 2023: the cluster assignment bounds the pairwise
    // stage to per-cluster blocks; at 100 TB the codebook size grows
    // with the corpus so block sizes stay bounded — here k=32
    // deterministic stand-in centroids, the first 32 vectors, as in
    // q74). The corpus has no true semantic dups (max natural cosine
    // ~0.5), so exact-duplicate shadows are PLANTED per vec_id % 25
    // == 0 (id + 1000000, same embedding — both engines construct
    // them identically); a pair is duplicate at cosine >= 0.9
    // (vectors are unit-norm so cosine = dot; same ascending fold
    // both engines → bit-identical doubles). Survivorship keeps the
    // LOWEST id of each duplicate pair; the gate reports per-cluster
    // members / dup pairs / dropped. Scale shape: broadcast codebook
    // + one partitioned window for assignment; the pairwise stage is
    // an equi-join ON the cluster id — the same candidate-join shape
    // the near-dup family audits, never an unblocked cross join.
    Q(
      "q184_semantic_dedup",
      s"""WITH uni AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings
        |  WHERE vec_id % 25 = 0),
        |kk AS (${Round5Ops.duckScaledK}),
        |${KMeans.oracleCtes("(SELECT k FROM kk)", 2)},
        |asg AS (
        |  SELECT vec_id, embedding, cid FROM (
        |    SELECT u.vec_id, u.embedding, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY u.vec_id
        |        ORDER BY ${KMeans.duckDot("u.embedding", "c.cs")} DESC,
        |          c.cid ASC) AS rn
        |    FROM uni u, cl2 c) WHERE rn = 1),
        |prs AS (
        |  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
        |  FROM asg a JOIN asg b
        |    ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_transform(range(len(a.embedding)),
        |      i -> CAST(a.embedding[i+1] AS DOUBLE)
        |         * CAST(b.embedding[i+1] AS DOUBLE)), (x, y) -> x + y)
        |    >= 0.9),
        |mem AS (SELECT cid, COUNT(*) AS n_members FROM asg GROUP BY cid)
        |SELECT m.cid, m.n_members,
        |  COALESCE(p.n_pairs, 0) AS n_dup_pairs,
        |  COALESCE(p.n_dropped, 0) AS n_dropped
        |FROM mem m LEFT JOIN (
        |  SELECT cid, COUNT(*) AS n_pairs,
        |    CAST(COUNT(DISTINCT vb) AS BIGINT) AS n_dropped
        |  FROM prs GROUP BY cid) p USING (cid)
        |ORDER BY m.cid""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val uni = e.select(col("vec_id"), col("embedding"))
        .unionAll(e.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      // TRAINED codebook (round 5): centroid count scales with the
      // corpus (k = max(4, floor(sqrt(n))/2), like q49's blocks) and
      // the centroids come from KMeans.codebook's fixed-point Lloyd
      // iterations, not from raw sample vectors; assignment is the
      // map-only broadcast argmax
      val k = Round5Ops.scaledK(e.count())
      val asg = KMeans.assign(uni, KMeans.codebook(s, e, k, 2))
      val a = asg.select(col("cid"), col("vec_id").as("va"),
        col("embedding").as("ea"))
      val b = asg.select(col("cid"), col("vec_id").as("vb"),
        col("embedding").as("eb"))
      val prs = a.join(b, Seq("cid"))
        .filter(col("va") < col("vb") && expr("array_dot(ea, eb)") >= 0.9)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vb")).as("n_dropped"))
      asg.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        .join(prs, Seq("cid"), "left")
        .select(col("cid"), col("n_members"),
          coalesce(col("n_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy(col("cid"))
    },

    // Pipeline: temperature-based corpus mixing — sample quotas
    // proportional to n^alpha (alpha = 0.5) instead of n, the standard
    // rebalancing that keeps low-resource languages from vanishing in
    // a proportional mix. Quotas are integerized by largest-remainder
    // (floors + the L largest fractional parts get +1, so quotas sum
    // to the target EXACTLY); per-language selection takes the
    // lowest-LCG-keyed docs (the same integer-hash determinism rule
    // the sampling family uses — never rand()). Output is the sampled
    // docs themselves, so selection — not just counts — is gated.
    // Scale shape: per-lang aggregates (one tiny frame), a per-lang
    // partitioned selection window, and one broadcast join of the
    // 5-row quota table; the largest-remainder window reads O(langs)
    // rows by construction, like q179's decile window.
    Q(
      "q185_temperature_mix",
      """WITH cnt AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(sqrt(n)) AS sw FROM cnt),
        |q AS (
        |  SELECT lang, n, sqrt(n) / t.sw * 100 AS qf,
        |    CAST(floor(sqrt(n) / t.sw * 100) AS BIGINT) AS fl
        |  FROM cnt, tot t),
        |lr AS (
        |  SELECT lang, n, fl,
        |    ROW_NUMBER() OVER (ORDER BY qf - fl DESC, lang ASC) AS rk,
        |    (SELECT 100 - SUM(fl) FROM q) AS leftover
        |  FROM q),
        |quota AS (
        |  SELECT lang, fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |    AS quota
        |  FROM lr),
        |keyed AS (
        |  SELECT d.doc_id, d.lang,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY (d.doc_id * 2654435761) % 2147483647, d.doc_id)
        |      AS rn
        |  FROM documents d)
        |SELECT k.doc_id, k.lang, k.rn
        |FROM keyed k JOIN quota q ON k.lang = q.lang AND k.rn <= q.quota
        |ORDER BY k.lang, k.rn""".stripMargin) { (s, dir) =>
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("lang"))
      val cnt = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(sqrt(col("n"))).as("sw"))
      val q = cnt.crossJoin(broadcast(tot))
        .withColumn("qf", sqrt(col("n")) / col("sw") * 100)
        .withColumn("fl", floor(col("qf")).cast("long"))
      val lo = q.agg((lit(100) - sum(col("fl"))).as("leftover"))
      // largest-remainder window reads O(langs) rows — tiny by design
      val quota = q.crossJoin(broadcast(lo))
        .withColumn("rk", row_number().over(
          Window.orderBy((col("qf") - col("fl")).desc, col("lang").asc)))
        .select(col("lang"),
          (col("fl") + when(col("rk") <= col("leftover"), 1).otherwise(0))
            .as("quota"))
      d.withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(pmod(col("doc_id") * 2654435761L, lit(2147483647L)),
              col("doc_id"))))
        .join(broadcast(quota), Seq("lang"))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    },

    // Pipeline: curriculum interleave — rank docs within each source by
    // a quality score, then emit the top-k per source in (rank, source)
    // order, so consecutive training examples rotate across sources
    // (the cluster-spread ordering that keeps a batch from filling with
    // one source's near-identical docs). Scale shape: one per-source
    // partitioned window + a range-partitioned presentation sort; the
    // interleaved ORDER is the deliverable, produced without any
    // single-partition stage.
    Q(
      "q186_curriculum_interleave",
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS score
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id, source, score,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id ASC) AS rn
        |  FROM sc)
        |SELECT rn, source, doc_id, ROUND(score, 6) AS score
        |FROM rk WHERE rn <= 2
        |ORDER BY rn, source""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (size(array_distinct(split(col("text"), " "))).cast("double") /
            size(split(col("text"), " "))).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("score").desc, col("doc_id").asc)))
        .filter(col("rn") <= 2)
        .select(col("rn"), col("source"), col("doc_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("rn"), col("source"))
    },

    // Behavioral/graph: PageRank over the co-purchase graph (parts
    // co-occurring in an order, support >= 2, symmetrized) — the
    // canonical ITERATIVE distributed computation, complementing the
    // contraction loop (q174) with a fixed-iteration dataflow. All
    // arithmetic is FIXED-POINT BIGINT (rank mass 10^12; contribution
    // = r div deg; damping as (85*sum) div 100): integer div and exact
    // BIGINT sums are order-independent and identical in both engines,
    // where a float PageRank's grouped double sums would diverge
    // run-to-run across partitions. 5 unrolled iterations; the oracle
    // unrolls the same five CTEs. Scale shape: the one heavy stage is
    // the co-occurrence aggregation (partial-agg groupBy); the edge
    // list is checkpointed ONCE so the 5 iterations reuse it instead
    // of re-running the pair join per iteration (the q158 lesson);
    // each iteration is an equi-join on src + a partial-agg groupBy on
    // dst — at 100 TB this is per-iteration-linear in edges with no
    // driver-side state but the loop counter.
    Q(
      "q187_pagerank",
      """WITH pr AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |ed0 AS MATERIALIZED (
        |  SELECT pa, pb FROM pr GROUP BY pa, pb HAVING COUNT(*) >= 2),
        |edges AS MATERIALIZED (
        |  SELECT pa AS src, pb AS dst FROM ed0
        |  UNION ALL SELECT pb, pa FROM ed0),
        |deg AS MATERIALIZED (
        |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
        |it0 AS MATERIALIZED (
        |  SELECT src AS node, CAST(1000000000000 // nn.n AS BIGINT) AS r
        |  FROM deg, nn),
        |it1 AS MATERIALIZED (
        |  SELECT e.dst AS node,
        |    CAST(15000000000000 // (100 * nn.n)
        |      + (85 * SUM(p.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN it0 p ON p.node = e.src
        |  JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
        |it2 AS MATERIALIZED (
        |  SELECT e.dst AS node,
        |    CAST(15000000000000 // (100 * nn.n)
        |      + (85 * SUM(p.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN it1 p ON p.node = e.src
        |  JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
        |it3 AS MATERIALIZED (
        |  SELECT e.dst AS node,
        |    CAST(15000000000000 // (100 * nn.n)
        |      + (85 * SUM(p.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN it2 p ON p.node = e.src
        |  JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
        |it4 AS MATERIALIZED (
        |  SELECT e.dst AS node,
        |    CAST(15000000000000 // (100 * nn.n)
        |      + (85 * SUM(p.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN it3 p ON p.node = e.src
        |  JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
        |it5 AS MATERIALIZED (
        |  SELECT e.dst AS node,
        |    CAST(15000000000000 // (100 * nn.n)
        |      + (85 * SUM(p.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN it4 p ON p.node = e.src
        |  JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n)
        |SELECT node AS part, r AS rank_fp
        |FROM it5
        |ORDER BY rank_fp DESC, part ASC
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val li = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("pa"))
      val b = li.select(col("ok"), col("pk").as("pb"))
      val ed0 = a.join(b, Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(col("pa"), col("pb"))
      // checkpoint the thresholded edges once: the 5 iterations below
      // must not re-run the co-occurrence aggregation per iteration
      val edCp = ed0.localCheckpoint(true)
      val ed = s.createDataFrame(edCp.rdd, edCp.schema)
      val edges = ed.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(ed.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nn = deg.agg(count(lit(1)).as("n"))
      var r = deg.crossJoin(broadcast(nn))
        .select(col("src").as("node"), expr("1000000000000L div n").as("r"))
      for (_ <- 1 to 5) {
        r = edges
          .join(r, col("node") === col("src"))
          .join(deg.withColumnRenamed("src", "ds"), col("ds") === col("src"))
          .select(col("dst"), expr("r div deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("sc"))
          .crossJoin(broadcast(nn))
          .select(col("dst").as("node"),
            expr("15000000000000L div (100 * n) + (85 * sc) div 100").as("r"))
      }
      r.select(col("node").as("part"), col("r").as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("part").asc)
        .limit(10)
    })
}
