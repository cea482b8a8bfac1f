package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Round-12 stateful duals of the round's governance surface:
  *
  *  - q288 STREAMING DECONTAMINATION: q266's benchmark-decontamination
  *    apply step run over a MICRO-BATCH document stream (q279's arrival
  *    model, re-crawl redeliveries included) — the broadcast eval-
  *    shingle set probes each arriving batch, flagged docs land in
  *    batchId-keyed idempotent state, and the served report is FOLDED
  *    FROM STATE ONLY. The oracle is q266's static full recompute
  *    VERBATIM: hash equality proves fold-of-stream == one-pass batch.
  *    This is the shape a crawl pipeline actually runs — eval suites
  *    are fixed, documents arrive forever.
  *  - q289 MINHASH BAND STORE: the near-dup dual of q284's exact-gram
  *    store — per-band MinHash signature rows (base + delta slices)
  *    persisted ONCE per corpus as a marker-gated artifact, with the
  *    gate serving the periodic full AUDIT over the merged store from
  *    STORE READS ONLY (delta-touching pairs classified by the stored
  *    slice flag; a pure delta ingest would join just the delta rows
  *    against the stored buckets). Candidate generation is
  *    df-BOUNDED per (band, key) bucket (q177's bounded-posting
  *    discipline — the fix the round-11 verdict prescribed for q53's
  *    superlinear bucket join), with the skipped-bucket count reported
  *    IN BAND so the bound is auditable, and mirrored in the oracle.
  *
  * Reference scope: PalNilsson/ask-duckdb keeps no state and no
  * signature store (query_llm.py:419-506); 100 TB training-data mandate.
  */
object Round12State {

  private[ops] val DFB = 64L // q289: max posting rows per (band, key)
  private val DELTA_MOD = 7 // q289 delta slice: doc_id % 7 == 3
  private val DELTA_RES = 3

  // ---------------- q288: streaming decontamination ----------------

  /** Fold one arriving micro-batch: dedup against prior batches' seen
    * state (redeliveries), then probe the broadcast eval-shingle set
    * and write this batch's doc list + flagged list under its OWN
    * b<id> subdirs (mode=overwrite — a crash-replayed batch rewrites
    * the identical delta, q279's idempotence-by-layout).
    */
  private[ops] def foldDeconBatch(
      s: SparkSession, root: String, bg: DataFrame, batch: DataFrame,
      batchId: Long): Unit = {
    val priorSeen = Round12More.priorBatchDirs(s"$root/seen", batchId)
    val uniq = batch.dropDuplicates("doc_id")
    val fresh0 =
      if (priorSeen.isEmpty) uniq
      else uniq.join(s.read.parquet(priorSeen: _*), Seq("doc_id"),
        "left_anti")
    val fresh = fresh0
      .withColumn("th", TextHash.tokenHashesPos(col("text")))
      .localCheckpoint(true)
    // seen tracks EVERY arrival (dedup state); docs/flag apply q266's
    // shingle-eligibility filter (len >= DECON_W) so the fold's
    // n_train is exactly the static pass's
    fresh.select(col("doc_id"))
      .write.mode("overwrite").parquet(f"$root/seen/b$batchId%04d")
    val elig = fresh.filter(size(col("th")) >= Round11Ops.DECON_W)
    elig.select(col("doc_id"), col("source"))
      .write.mode("overwrite").parquet(f"$root/docs/b$batchId%04d")
    elig
      .select(col("doc_id"), col("source"),
        explode(array_distinct(
          TextHash.posGrams(col("th"), Round11Ops.DECON_W)))
          .as("g"))
      .join(broadcast(bg), Seq("g"), "leftsemi")
      .select(col("doc_id"), col("source")).distinct()
      .write.mode("overwrite").parquet(f"$root/flag/b$batchId%04d")
    fresh.unpersist()
    ()
  }

  // dir -> q288's persisted decontamination state
  private[ops] val deconMemo = new ArtifactStore.Memo[String, Unit]

  /** The decontamination stream for `dir` as a wave state: the TRAIN
    * docs of q266's Knuth-admission split arrive in Round11More's waves,
    * carrying text (the stream side must shingle its own arrivals —
    * that is the operator), and are folded against the fixed eval
    * suite. Returns the state root.
    */
  private[ops] def buildDeconState(s: SparkSession, dir: String): String =
    Round11More.waveState(deconMemo, dir,
        s"graft_deconstate_${VecIndex.dirDigest(dir)}", "deconstate") { root =>
      val docs = Tables.table(s, dir, "documents")
      val n = math.max(docs.count(), 1L)
      val thr = math.min(Round11Ops.BMOD,
        (Round11Ops.BMOD * Round11Ops.BENCH_N + n - 1) / n)
      val badm = ((col("doc_id") % Round11Ops.BMOD) * Round11Ops.BMULT) %
        Round11Ops.BMOD
      // the FIXED eval suite: computed once, pinned, broadcast per batch
      val bg = docs
        .filter(badm < thr)
        .withColumn("th", TextHash.tokenHashesPos(col("text")))
        .filter(size(col("th")) >= Round11Ops.DECON_W)
        .select(explode(array_distinct(TextHash.posGrams(col("th"),
          Round11Ops.DECON_W))).as("g"))
        .distinct()
        .localCheckpoint(true)
      val train = docs.filter(badm >= thr)
        .select(col("doc_id"), col("source"), col("text"))
      val waves = StreamOps.stagedSource(s,
        s"graft_deconwaves_${VecIndex.dirDigest(dir)}",
        Round11More.arrivalWaves(train))
      StreamOps.foldBatches(s, waves, s"$root/docs")(
        foldDeconBatch(s, root, bg, _, _))
    }

  // ---------------- q289: the band-signature frames ----------------

  // dir -> q289's persisted band store root
  private[ops] val bandMemo = new ArtifactStore.Memo[String, Unit]

  /** The persisted MinHash band STORE for `dir`: sg/ (per-doc distinct
    * shingle arrays, the verification side), base/ and delta/ (the
    * b2r4 band-signature rows of the base slice and the delta wave).
    * Built ONCE per corpus behind a docsMarker; every q289 serve reads
    * these files only. At 100 TB the store is the artifact a dedup
    * service keeps warm; a delta ingest appends its band rows and the
    * audit below reads the merged store.
    */
  private[ops] def bandStore(s: SparkSession, dir: String): String =
    bandMemo(dir, VecIndex.tableFileSig(dir, "documents"))(
      (ArtifactStore.root(s"graft_bandstore_${VecIndex.dirDigest(dir)}"),
        Round12Ops.docsMarker(Tables.table(s, dir, "documents")), ())) {
      (p, _) =>
        val sg = shingleFrame(s, dir).localCheckpoint(true)
        sg.write.mode("overwrite").parquet(s"$p/sg")
        val rows = bandRows(sg)
        val isDelta = col("doc_id") % DELTA_MOD === DELTA_RES
        rows.filter(!isDelta).write.mode("overwrite").parquet(s"$p/base")
        rows.filter(isDelta).write.mode("overwrite").parquet(s"$p/delta")
        sg.unpersist()
    }._1

  /** (doc_id, sg): distinct 3-token shingle hashes (q265's signature
    * front — unigram minhashes degenerate on this template corpus).
    */
  private def shingleFrame(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .withColumn("th", TextHash.tokenHashesPos(col("text")))
      .filter(size(col("th")) >= 3)
      .select(col("doc_id"),
        array_distinct(TextHash.posGrams(col("th"), 3)).as("sg"))

  /** (doc_id, band, key): the b2r4 banding of the 8-slot MinHash
    * signature (q265's curve picks b2r4 as the precision/recall knee
    * for J >= 0.8 on this corpus).
    */
  private def bandRows(sg: DataFrame): DataFrame =
    sg.select(col("doc_id"),
        expr(Round11Ops.sparkMh("sg")).as("mh"))
      .select(col("doc_id"), posexplode(array(
        array_join(slice(col("mh"), 1, 4), "-"),
        array_join(slice(col("mh"), 5, 4), "-"))).as(Seq("band", "key")))

  val queries: Seq[Q] = Seq(
    // E12×governance: streaming decontamination. Served from state
    // only; oracle = q266's static recompute VERBATIM.
    Q(
      "q288_stream_decontamination",
      Round11Ops.decontamOracleSql) { (s, dir) =>
      val root = buildDeconState(s, dir)
      val docsB = ArtifactStore.readParquet(s, s"$root/docs/b*")
      val flag = ArtifactStore.readParquet(s, s"$root/flag/b*")
      val persrc = docsB
        .join(flag.select(col("doc_id"), lit(1L).as("hit")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_train"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_contam"),
          coalesce(sum(when(col("hit").isNotNull, col("doc_id"))),
            lit(0L)).cast("bigint").as("contam_id_sum"))
      val tot = persrc.agg(
        sum(col("n_train")).cast("bigint").as("n_train"),
        sum(col("n_contam")).cast("bigint").as("n_contam"),
        sum(col("contam_id_sum")).cast("bigint").as("contam_id_sum"))
        .withColumn("source", lit("*"))
      persrc.unionByName(tot)
        .select(col("source"), col("n_train"), col("n_contam"),
          expr("(1000000 * n_contam) div n_train").cast("bigint")
            .as("contam6"), col("contam_id_sum"))
        .orderBy(col("source"))
    },

    // E6/state: the persisted MinHash band store. The store (shingle
    // arrays + base and delta band-signature rows in their own
    // subdirs) is a marker-gated artifact built ONCE per corpus;
    // every serve below is STORE READS ONLY. What runs here is the
    // periodic full AUDIT over the merged store — base-only pairs
    // included by design — with delta-touching pairs classified by
    // the stored slice flag, so scope rows reconcile exactly
    // (base + delta == '*', spec-asserted). A pure delta ingest would
    // join only the delta rows against the store's buckets (O(delta +
    // touched buckets)); this gate reports the audit, which any
    // ingest cadence periodically pays. Every candidate bucket is
    // df-capped at DFB rows — a pathological key contributes at most
    // O(DFB²) pairs and is COUNTED (n_skipped), never silently
    // dropped; verified pairs apply q265's exact shingle-Jaccard >= 0.8
    // predicate to candidates only, against the STORED shingle arrays.
    Q(
      "q289_minhash_band_store",
      s"""WITH th AS MATERIALIZED (
         |  SELECT doc_id, ${Round11Ops.duckPosTokenHashes} AS th
         |  FROM documents),
         |sg AS MATERIALIZED (
         |  SELECT doc_id, ${Round11Ops.duckShingles(3)} AS sg,
         |    CASE WHEN doc_id % $DELTA_MOD = $DELTA_RES THEN 1 ELSE 0
         |    END AS isd
         |  FROM th WHERE len(th) >= 3),
         |mh AS MATERIALIZED (
         |  SELECT doc_id, isd, ${Round11Ops.duckMh("sg")} AS mh FROM sg),
         |rows_ AS MATERIALIZED (
         |  SELECT doc_id, isd, u.j AS band,
         |    array_to_string(mh[u.j * 4 + 1 : u.j * 4 + 4], '-') AS key
         |  FROM mh, LATERAL (SELECT unnest(range(2)) AS j) u),
         |bk AS MATERIALIZED (
         |  SELECT band, key, COUNT(*) AS df FROM rows_
         |  GROUP BY band, key),
         |skp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_skipped FROM bk
         |  WHERE df > $DFB),
         |okr AS MATERIALIZED (
         |  SELECT r.* FROM rows_ r JOIN bk
         |    ON bk.band = r.band AND bk.key = r.key
         |  WHERE bk.df <= $DFB),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |    GREATEST(a.isd, b.isd) AS touchd
         |  FROM okr a JOIN okr b
         |    ON a.band = b.band AND a.key = b.key
         |   AND a.doc_id < b.doc_id),
         |ver AS MATERIALIZED (
         |  SELECT c.da, c.db, c.touchd,
         |    CASE WHEN 5 * len(list_intersect(x.sg, y.sg)) >=
         |      4 * len(list_distinct(list_concat(x.sg, y.sg)))
         |      THEN 1 ELSE 0 END AS dup
         |  FROM cand c JOIN sg x ON x.doc_id = c.da
         |    JOIN sg y ON y.doc_id = c.db),
         |scoped AS (
         |  SELECT 'base' AS scope,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sg WHERE isd = 0)
         |      AS n_docs,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_ WHERE isd = 0)
         |      AS n_rows,
         |    CAST(COUNT(*) AS BIGINT) AS n_cand,
         |    CAST(COALESCE(SUM(dup), 0) AS BIGINT) AS n_dup
         |  FROM ver WHERE touchd = 0
         |  UNION ALL
         |  SELECT 'delta',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sg WHERE isd = 1),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_ WHERE isd = 1),
         |    CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(dup), 0) AS BIGINT)
         |  FROM ver WHERE touchd = 1
         |  UNION ALL
         |  SELECT '*',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sg),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_),
         |    CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(dup), 0) AS BIGINT)
         |  FROM ver)
         |SELECT scope, n_docs, n_rows, n_cand, n_dup,
         |  (SELECT n_skipped FROM skp) AS n_skipped
         |FROM scoped
         |ORDER BY scope""".stripMargin) { (s, dir) =>
      val store = bandStore(s, dir)
      // ---- serve: STORE READS ONLY from here down ----
      val sg = ArtifactStore.readParquet(s, s"$store/sg")
      val base = ArtifactStore.readParquet(s, s"$store/base")
        .withColumn("isd", lit(0))
      val delta = ArtifactStore.readParquet(s, s"$store/delta")
        .withColumn("isd", lit(1))
      val merged = base.unionByName(delta)
      val bk = merged.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("df"))
      val skp = bk.filter(col("df") > DFB)
        .agg(count(lit(1)).cast("bigint").as("n_skipped"))
      val okr = merged.join(bk.filter(col("df") <= DFB)
        .select(col("band"), col("key")), Seq("band", "key"), "leftsemi")
      val cand = okr.as("a")
        .join(okr.as("b"),
          col("a.band") === col("b.band") &&
            col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          greatest(col("a.isd"), col("b.isd")).as("touchd"))
        .distinct()
      val ver = cand
        .join(sg.select(col("doc_id").as("da"), col("sg").as("sg_a")),
          Seq("da"))
        .join(sg.select(col("doc_id").as("db"), col("sg").as("sg_b")),
          Seq("db"))
        .select(col("da"), col("db"), col("touchd"),
          when(expr("5 * size(array_intersect(sg_a, sg_b)) >= " +
            "4 * size(array_union(sg_a, sg_b))"), 1L).otherwise(0L)
            .as("dup"))
      val nd = sg.agg(
        sum(when(col("doc_id") % DELTA_MOD === DELTA_RES, 0L)
          .otherwise(1L)).cast("bigint").as("nb"),
        sum(when(col("doc_id") % DELTA_MOD === DELTA_RES, 1L)
          .otherwise(0L)).cast("bigint").as("ndl"))
      val nr = merged.agg(
        sum(when(col("isd") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("rb"),
        sum(when(col("isd") === 1, 1L).otherwise(0L)).cast("bigint")
          .as("rd"))
      def scopeRow(name: String, touch: Option[Int]) = {
        val v = touch.map(t => ver.filter(col("touchd") === t))
          .getOrElse(ver)
        v.agg(count(lit(1)).cast("bigint").as("n_cand"),
            coalesce(sum(col("dup")), lit(0L)).cast("bigint").as("n_dup"))
          .withColumn("scope", lit(name))
      }
      scopeRow("base", Some(0))
        .unionByName(scopeRow("delta", Some(1)))
        .unionByName(scopeRow("*", None))
        .crossJoin(broadcast(nd)).crossJoin(broadcast(nr))
        .crossJoin(broadcast(skp))
        .select(col("scope"),
          when(col("scope") === "base", col("nb"))
            .when(col("scope") === "delta", col("ndl"))
            .otherwise(col("nb") + col("ndl")).cast("bigint")
            .as("n_docs"),
          when(col("scope") === "base", col("rb"))
            .when(col("scope") === "delta", col("rd"))
            .otherwise(col("rb") + col("rd")).cast("bigint")
            .as("n_rows"),
          col("n_cand"), col("n_dup"), col("n_skipped"))
        .orderBy(col("scope"))
    })
}
