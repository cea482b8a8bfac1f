package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md §2.3
  * E6 + the training-data-pipeline mandate): exact, deterministic
  * representative selection, n-gram Jaccard near-dup, MinHash signatures,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale shape: per-document signature computation is a pure map stage;
  * candidate pairing is always *blocked* (language + length band, LSH band,
  * same label) so the pair join is an equi-join on the blocking key — never
  * an unblocked O(n²) cross join. All hashes are explicit integer
  * polynomials (not engine-native hash()) so Spark and DuckDB agree bit-for-
  * bit and signatures stay stable across engine versions.
  */
object Dedup {

  /** Spark-side SQL fragments (Spark HOF dialect). */
  private[ops] val sparkTokenHashes =
    // distinct tokens -> rolling-131 polynomial hash (mod 1e9+7)
    "transform(array_distinct(split(text, ' ')), " +
      "t -> aggregate(transform(filter(split(t, ''), c -> c != ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), 7L, (a, b) -> (a * 131 + b) % 1000000007))"

  /** Exact composite-blocked candidate pairs for the token-Jaccard >= 0.8
    * near-dup family (q46, q114, q141/q174): a qualifying pair must agree
    * on (lang, ±1 length band) — implied by the |Δn_chars| <= 5 predicate —
    * AND share a token from both docs' rare-first PREFIX (the ppjoin
    * filter: under a global df-ascending token order, J >= t forces a
    * common element within each side's first n - ceil(t*n) + 1 tokens).
    * The join key is therefore (lang, prefix_token, band): unlike the
    * length band alone, it does NOT degenerate on a fixed-width corpus —
    * bucket sizes are bounded by min(band population, prefix-token df),
    * and the rare-first order pushes prefix-token df toward 1. Both
    * conditions are necessary for J >= 0.8 ∧ |Δn| <= 5, so the candidate
    * set is a provable superset of the answer: blocking stays EXACT, no
    * LSH miss probability. Prefix length uses integer arithmetic
    * ((4n+4) div 5 = ceil(0.8n)); a float 0.8*n would mis-round at
    * multiples of 5 and break the completeness proof.
    *
    * Expects columns: doc_id, lang, n_chars, <tokens>. Emits each
    * qualifying unordered candidate pair exactly once (doc_a < doc_b)
    * with the token payload re-attached as <tokens>_a / <tokens>_b and
    * the exact |Δn_chars| <= 5 residual applied. The token column is
    * array_distinct'ed HERE (df counts and prefix lengths are only
    * correct over sets — a caller passing a multiset would otherwise
    * inflate document frequencies and prefix sizes and void the
    * superset guarantee); the re-attached payload keeps the caller's
    * original (possibly duplicated) array.
    */
  private[graft] def prefixBandPairs(docs: DataFrame, tokens: String): DataFrame = {
    // global rare-first token order: (df, token) ascending — identical on
    // every doc because df is a global aggregate
    val ex = docs.select(col("doc_id"),
      explode(array_distinct(col(tokens))).as("t"))
    val freq = ex.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val prefixes = ex.join(freq, "t")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("ss"))
      .select(col("doc_id"), expr(
        "slice(transform(ss, x -> x.t), 1, " +
          "size(ss) - ((4 * size(ss) + 4) div 5) + 1)").as("pfx"))
    val side = prefixes
      .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .withColumn("bkt", floor(col("n_chars") / 5))
    val probe = side
      .select(col("lang"), col("doc_id").as("da"), col("n_chars").as("na"),
        col("bkt").as("bkt_p"), explode(col("pfx")).as("pt"))
      .select(col("lang"), col("da"), col("na"), col("pt"), col("bkt_p"),
        explode(array(col("bkt_p"), col("bkt_p") + 1)).as("key"))
    val build = side
      .select(col("lang"), col("doc_id").as("db"), col("n_chars").as("nb"),
        col("bkt").as("key"), explode(col("pfx")).as("pt"))
    val cand = probe.join(build, Seq("lang", "pt", "key"))
      // same band matches in both orientations → keep da < db; the
      // next-band probe is the unique orientation (lower band probes up)
      .filter(((col("key") === col("bkt_p") && col("da") < col("db")) ||
        col("key") === col("bkt_p") + 1) &&
        abs(col("na") - col("nb")) <= 5)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct() // a pair can share several prefix tokens
    cand
      .join(docs.select(col("doc_id").as("doc_a"),
        col(tokens).as(tokens + "_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col(tokens).as(tokens + "_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        col(tokens + "_a"), col(tokens + "_b"))
  }

  /** 30-bit simhash chunk layout for pigeonhole blocking: 7 disjoint
    * chunks (widths 5,5,4,4,4,4,4). Hamming distance <= 6 over 30 bits
    * can flip at most 6 chunks, so at least ONE chunk is bit-identical.
    */
  private val shChunks: Seq[(Int, Int)] =
    Seq((0, 5), (5, 5), (10, 4), (14, 4), (18, 4), (22, 4), (26, 4))

  /** Exact composite-blocked candidate pairs for q48's Hamming <= 6
    * search: join key (lang, simhash chunk, ±1 length band). Pigeonhole
    * makes the chunk condition necessary, the band condition is implied
    * by |Δn_chars| <= 5 — so the candidate set provably contains every
    * answer pair, and buckets stay bounded even on a fixed-width corpus
    * (chunk values spread documents that length bands cannot).
    *
    * Expects columns: doc_id, lang, n_chars, sh. Emits unordered pairs
    * once (doc_a < doc_b) as (doc_a, doc_b, sh_a, sh_b) with the exact
    * length residual applied.
    */
  private[ops] def hammingBandPairs(sh: DataFrame): DataFrame = {
    val chunks = array(shChunks.zipWithIndex.map { case ((off, w), i) =>
      struct(lit(i).as("cid"),
        expr(s"(sh >> $off) & ${(1 << w) - 1}").cast("long").as("cv"))
    }: _*)
    val base = sh.withColumn("bkt", floor(col("n_chars") / 5))
      .withColumn("ch", chunks)
    val probe = base
      .select(col("lang"), col("doc_id").as("da"), col("n_chars").as("na"),
        col("sh").as("sha"), col("bkt").as("bkt_p"), explode(col("ch")).as("c"))
      .select(col("lang"), col("da"), col("na"), col("sha"), col("c"),
        col("bkt_p"), explode(array(col("bkt_p"), col("bkt_p") + 1)).as("key"))
    val build = base
      .select(col("lang"), col("doc_id").as("db"), col("n_chars").as("nb"),
        col("sh").as("shb"), col("bkt").as("key"), explode(col("ch")).as("c"))
    probe.join(build, Seq("lang", "c", "key"))
      .filter(((col("key") === col("bkt_p") && col("da") < col("db")) ||
        col("key") === col("bkt_p") + 1) &&
        abs(col("na") - col("nb")) <= 5)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("sha")).otherwise(col("shb")).as("sh_a"),
        when(col("da") < col("db"), col("shb")).otherwise(col("sha")).as("sh_b"))
      .distinct() // a pair can agree on several chunks
  }

  /** Asymmetric banded probe for incremental ingestion (q134): probe a
    * small incoming batch against the standing corpus on a
    * (lang, length-band) blocking key, where the ±5-char length tolerance
    * is part of the JOIN KEY, not a residual filter — |Δn_chars| <= 5
    * with width-5 bands implies band distance <= 1, so covering bands
    * {b-1, b, b+1} is exhaustive. The probe side explodes to
    * bands {b-1, b, b+1} so every |Δn_chars| <= 5 pair is covered; the
    * build side stays one row per doc. Returns
    * (batch_id, corpus_id, <payload>_a, <payload>_b) with the exact
    * length residual applied. At 100 TB this is the nightly-ingest shape:
    * shuffle is O(batch + corpus) on the composite key, and the corpus
    * side can be a bucketed table so only the batch shuffles.
    */
  private[graft] def bandedProbe(
      batch: DataFrame, corpus: DataFrame, payload: String): DataFrame = {
    val probe = batch.withColumn("bkt", floor(col("n_chars") / 5))
      .select(col("lang"),
        struct(col("doc_id"), col("n_chars"), col(payload)).as("pa"),
        explode(expr("array(bkt - 1, bkt, bkt + 1)")).as("key"))
    val build = corpus.withColumn("key", floor(col("n_chars") / 5))
      .select(col("lang"),
        struct(col("doc_id"), col("n_chars"), col(payload)).as("pb"),
        col("key"))
    probe.join(build, Seq("lang", "key"))
      .filter(abs(col("pa.n_chars") - col("pb.n_chars")) <= 5)
      .select(col("pa.doc_id").as("batch_id"), col("pb.doc_id").as("corpus_id"),
        col("pa." + payload).as(payload + "_a"),
        col("pb." + payload).as(payload + "_b"))
  }

  /** DuckDB-side equivalent of [[sparkTokenHashes]]. */
  private[ops] val duckTokenHashes =
    "list_transform(list_distinct(string_split(text, ' ')), " +
      "t -> list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      "list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      "(a, b) -> (a * 131 + b) % 1000000007))"

  val queries: Seq[Q] = Seq(
    // E6 exact dedup, corpus-level summary. COUNT(DISTINCT text) hashes the
    // full text server-side — the 100 TB version distincts on a content
    // hash (q43's doc_hash) instead of shipping full texts.
    Q(
      "q44_dedup_exact",
      """SELECT COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_unique,
        |  COUNT(*) - COUNT(DISTINCT text) AS n_dup_docs
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))
    },

    // E6 deterministic survivor selection: min(doc_id) per group — the
    // distributed-safe formulation of dropDuplicates (whose survivor is
    // partition-order-dependent and therefore unreproducible at scale).
    Q(
      "q45_dedup_representative",
      """SELECT lang, source, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_members
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(min(col("doc_id")).as("rep_doc_id"),
          count(lit(1)).as("n_members"))
        .orderBy(col("lang"), col("source"))
    },

    // E6 near-dup by token-set Jaccard with EXACT composite blocking:
    // candidates come from prefixBandPairs' (lang, prefix-token, length
    // band) equi-join — both the ppjoin prefix condition and the band
    // condition are necessary for J >= 0.8 ∧ |Δn| <= 5, so the answer is
    // identical to the oracle's unblocked self-join while buckets stay
    // bounded even on a fixed-width corpus (where a length-band-only key
    // degenerates to one bucket per language and goes quadratic).
    Q(
      "q46_ngram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(string_split(text, ' ')) AS tk
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.tk, b.tk))), 6) AS jaccard
        |FROM toks a JOIN toks b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 5
        |WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          array_distinct(split(col("text"), " ")).as("tk"))
      // codegen single-pass jaccard — evaluated once per candidate pair,
      // no intersect/concat/distinct array materialization
      val jac = expr("token_jaccard(tk_a, tk_b)")
      prefixBandPairs(docs, "tk")
        .filter(jac >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // E6 MinHash: 8-function signature over token hashes + 2 LSH band keys
    // (4 rows/band). Documents sharing a band key are near-dup candidates;
    // the band key is the blocking key a 100 TB pipeline groups on.
    Q(
      "q47_minhash_signature",
      s"""WITH th AS (
         |  SELECT doc_id, $duckTokenHashes AS hashes FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_transform(range(8), i ->
         |    list_min(list_transform(hashes,
         |      h -> ((2*i + 1) * h + 7919 * i) % 1000000007))), '-') AS minhash,
         |  array_to_string(list_transform(range(4), i ->
         |    list_min(list_transform(hashes,
         |      h -> ((2*i + 1) * h + 7919 * i) % 1000000007))), '-') AS band0,
         |  array_to_string(list_transform(range(4, 8), i ->
         |    list_min(list_transform(hashes,
         |      h -> ((2*i + 1) * h + 7919 * i) % 1000000007))), '-') AS band1
         |FROM th
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .withColumn("th", TextHash.tokenHashesDistinct(col("text")))
        .withColumn("mh", TextHash.minHashSig(col("th")))
        // gate projection stringifies the signature (the driver's pandas
        // compare can't sort raw array cells); band keys stay first-class
        .select(col("doc_id"),
          array_join(col("mh"), "-").as("minhash"),
          array_join(slice(col("mh"), 1, 4), "-").as("band0"),
          array_join(slice(col("mh"), 5, 4), "-").as("band1"))
        .orderBy(col("doc_id"))
    },

    // E6 SimHash: 30-bit signature — per bit, majority vote over token
    // hashes — plus blocked pair search at Hamming distance <= 6. Pure
    // list-lambda formulation: no explode, single map stage per doc.
    Q(
      "q48_simhash",
      s"""WITH sh AS (
         |  SELECT doc_id, lang, n_chars,
         |    list_sum(list_transform(range(30), b ->
         |      CASE WHEN list_sum(list_transform($duckTokenHashes,
         |        h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS simhash
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sh a JOIN sh b
         |  ON a.lang = b.lang AND a.doc_id < b.doc_id
         | AND abs(a.n_chars - b.n_chars) <= 5
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // Spark-side shape: explode token hashes (each computed ONCE), then
      // one codegen hash-aggregate with 30 per-bit majority sums. The
      // list-lambda formulation recomputes the char folds inside every bit
      // lambda (Catalyst collapses the projection back in) — measured 21s
      // vs ~1s for this shape at sf0.1. Partial aggregation makes it one
      // small shuffle on doc_id at any scale.
      val perToken = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          explode(TextHash.tokenHashesDistinct(col("text"))).as("h"))
      val bitSums = (0 until 30).map { b =>
        sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1).otherwise(-1))
          .as(s"s$b")
      }
      val simhash = (0 until 30).map { b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      val sh = perToken
        .groupBy(col("doc_id"), col("lang"), col("n_chars"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          simhash.as("sh"))
      val hamming = expr("bit_count(sh_a ^ sh_b)")
      // pigeonhole blocking: (lang, simhash chunk, band) — exact for
      // Hamming <= 6, and immune to fixed-width length distributions
      hammingBandPairs(sh)
        .filter(hamming <= 6)
        .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // E6 embedding-cosine near-dup with a CORPUS-GROWING blocking key:
    // candidates are pairs assigned to the same trained k-means centroid
    // (KMeans.codebook, k = max(4, floor(sqrt(n))/2) — the centroid count
    // scales with the corpus, so the expected block population stays
    // ~2*sqrt(n) and within-block all-pairs work grows ~linearly in n,
    // unlike the previous label-only key whose fixed cardinality went
    // quadratic per bucket at scale). Cosine = dot (unit-norm vectors);
    // the fold is sequential over dimensions in both engines →
    // bit-identical doubles, and the oracle replays the identical
    // fixed-point codebook training, so assignments agree exactly.
    // Threshold 0.25 exercises the operator on this synthetic corpus (no
    // true near-dups exist; max pairwise cosine ≈ 0.37). Like any LSH /
    // coarse-quantizer candidate generator, same-block is the recall
    // contract (q140 measures recall for the sibling paths).
    Q(
      "q49_embedding_neardup",
      s"""WITH kk AS (
         |  SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))
         |    AS BIGINT) // 2) AS k
         |  FROM embeddings),
         |${KMeans.oracleCtes("(SELECT k FROM kk)", 2)},
         |asg AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |          c.cid ASC) AS rn
         |    FROM embeddings e, cl2 c) WHERE rn = 1)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(list_reduce(list_transform(range(len(a.embedding)),
         |    i -> CAST(a.embedding[i+1] AS DOUBLE)
         |       * CAST(b.embedding[i+1] AS DOUBLE)),
         |    (x, y) -> x + y), 6) AS cosine
         |FROM asg a JOIN asg b
         |  ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE list_reduce(list_transform(range(len(a.embedding)),
         |    i -> CAST(a.embedding[i+1] AS DOUBLE)
         |       * CAST(b.embedding[i+1] AS DOUBLE)),
         |    (x, y) -> x + y) >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val k = math.max(4L,
        math.floor(math.sqrt(e.count().toDouble)).toLong / 2).toInt
      val asg = KMeans.assign(e, KMeans.codebook(s, e, k, 2))
      val a = asg.select(col("cid"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
      val b = asg.select(col("cid"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"))
      // codegen dot (same ascending sequential fold as the oracle)
      val dot = expr("array_dot(emb_a, emb_b)")
      a.join(b, Seq("cid"))
        .filter(col("vec_a") < col("vec_b") && dot >= 0.25)
        .select(col("vec_a"), col("vec_b"), round(dot, 6).as("cosine"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // E6 exact dedup, hash path (the formulation q44's comment promised):
    // the 100 TB pass never ships document text to a shuffle — it
    // distincts on a 64-bit content digest (here the first 16 hex chars
    // of md5), with the full-width md5 as the collision check: if any
    // two distinct documents collided in the 64-bit prefix, the two
    // distinct counts would differ and n_hash64_collisions would be > 0.
    // Each shuffled row is a fixed-width digest regardless of document
    // size; COUNT(DISTINCT text) from q44 survives only in spirit — the
    // widest value this query moves is 32 bytes.
    Q(
      "q200_dedup_hash_path",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  COUNT(DISTINCT substr(md5(text), 1, 16)) AS n_unique,
        |  CAST(COUNT(*) AS BIGINT)
        |    - COUNT(DISTINCT substr(md5(text), 1, 16)) AS n_dup_docs,
        |  COUNT(DISTINCT md5(text))
        |    - COUNT(DISTINCT substr(md5(text), 1, 16))
        |    AS n_hash64_collisions
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(md5(col("text")).as("d128"),
          substring(md5(col("text")), 1, 16).as("h64"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h64")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("h64"))).as("n_dup_docs"),
          (countDistinct(col("d128")) - countDistinct(col("h64")))
            .as("n_hash64_collisions"))
    })
}
