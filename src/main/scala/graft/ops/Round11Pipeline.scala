package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-11 run-orchestration shapes: the ordering and hand-off
  * artifacts around a training run.
  *
  *  - q275 EPOCH-SHUFFLE SHARD AUDIT: two training epochs order the
  *    corpus by independent integer-LCG keys; each epoch shards the
  *    stream 32 ways by key. The audit reports, per shard: both
  *    epochs' populations (balance), the epoch-1/epoch-2 shard
  *    collision count (docs landing in the SAME shard twice — the
  *    correlation a dataloader reshuffle must keep near the 1/32
  *    baseline), and the largest single-source clump inside the
  *    epoch-1 shard (stratification). Pure keyed aggregates — the
  *    audit never materializes an ordering.
  *  - q276 RELEASE MANIFEST EXPORT: the dedup-survivor corpus is
  *    written as a sharded parquet artifact plus a Jackson-written
  *    JSON manifest (per shard: row count + order-independent
  *    fingerprint). The gate re-reads BOTH and emits data-derived and
  *    manifest-derived numbers side by side; the oracle recomputes
  *    them from the raw corpus, so a manifest that drifts from its
  *    data fails the hash compare. This is the hand-off artifact a
  *    dataset release ships so the consumer can verify integrity
  *    without trusting the producer's pipeline.
  *
  * Reference scope: PalNilsson/ask-duckdb has no epoch or release
  * surface (README.md:1-65); 100 TB training-data mandate.
  */
object Round11Pipeline {

  private val M = 1000000007L
  private val P = 2147483647L // LCG modulus (2^31 - 1, q185's family)
  private val NSHARD = 32L
  private val NREL = 8 // release shards

  // two independent epoch permutation keys (both full-period on the
  // corpus id range; constants from the q52/q185 public-LCG family)
  private def key1 = s"(doc_id * 2654435761 + 7919) % $P"
  private def key2 = s"(doc_id * 1103515245 + 12345) % $P"

  val queries: Seq[Q] = Seq(
    // Orchestration: per-shard epoch audit. collide counts docs whose
    // epoch-2 shard equals their epoch-1 shard; summed over shards it
    // sits near n/32 for independent keys (the spec asserts a loose
    // band). maxsrc1 is the largest per-source clump in the epoch-1
    // shard — the stratification number a curriculum sampler watches.
    Q(
      "q275_epoch_shuffle_audit",
      s"""WITH k AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    ($key1) % $NSHARD AS s1,
         |    ($key2) % $NSHARD AS s2
         |  FROM documents),
         |e1 AS (
         |  SELECT s1 AS shard, CAST(COUNT(*) AS BIGINT) AS n_e1,
         |    CAST(SUM(CASE WHEN s1 = s2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS collide
         |  FROM k GROUP BY s1),
         |e2 AS (
         |  SELECT s2 AS shard, CAST(COUNT(*) AS BIGINT) AS n_e2
         |  FROM k GROUP BY s2),
         |src AS (
         |  SELECT shard, CAST(MAX(c) AS BIGINT) AS maxsrc1 FROM (
         |    SELECT s1 AS shard, source, COUNT(*) AS c
         |    FROM k GROUP BY s1, source)
         |  GROUP BY shard),
         |spine AS (SELECT unnest(range($NSHARD)) AS shard)
         |SELECT sp.shard, COALESCE(e1.n_e1, 0) AS n_e1,
         |  COALESCE(e2.n_e2, 0) AS n_e2,
         |  COALESCE(e1.collide, 0) AS collide,
         |  COALESCE(s.maxsrc1, 0) AS maxsrc1
         |FROM spine sp
         |LEFT JOIN e1 ON e1.shard = sp.shard
         |LEFT JOIN e2 ON e2.shard = sp.shard
         |LEFT JOIN src s ON s.shard = sp.shard
         |ORDER BY sp.shard""".stripMargin) { (s, dir) =>
      val k = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr(s"($key1) % $NSHARD").as("s1"),
          expr(s"($key2) % $NSHARD").as("s2"))
      val e1 = k.groupBy(col("s1").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_e1"),
          sum(when(col("s1") === col("s2"), 1L).otherwise(0L))
            .cast("bigint").as("collide"))
      val e2 = k.groupBy(col("s2").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_e2"))
      val src = k.groupBy(col("s1").as("shard"), col("source"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("shard"))
        .agg(max(col("c")).cast("bigint").as("maxsrc1"))
      // the audit is driven from the full 0..31 shard spine: a shard
      // empty in EITHER epoch still reports, so the per-epoch sums are
      // total by construction
      import s.implicits._
      val spine = (0L until NSHARD).toDF("shard")
      spine.join(broadcast(e1), Seq("shard"), "left")
        .join(broadcast(e2), Seq("shard"), "left")
        .join(broadcast(src), Seq("shard"), "left")
        .select(col("shard"),
          coalesce(col("n_e1"), lit(0L)).cast("bigint").as("n_e1"),
          coalesce(col("n_e2"), lit(0L)).cast("bigint").as("n_e2"),
          coalesce(col("collide"), lit(0L)).cast("bigint").as("collide"),
          coalesce(col("maxsrc1"), lit(0L)).cast("bigint").as("maxsrc1"))
        .orderBy(col("shard"))
    },

    // Release hand-off: survivor corpus (exact-dup winners by min
    // doc_id — q44's rule) sharded 8 ways, manifest written via
    // temp-file + ATOMIC_MOVE (q244's pointer discipline), then BOTH
    // readback paths reported side by side. fpsum folds each doc's
    // rolling text hash order-independently (mod-M sum), so shard
    // fingerprints are stable under any task order.
    Q(
      "q276_release_manifest",
      s"""WITH fp AS MATERIALIZED (
         |  SELECT doc_id, md5(text) AS h,
         |    ${Round10More.duckHash("text")} AS tf
         |  FROM documents),
         |win AS (
         |  SELECT h, MIN(doc_id) AS doc_id FROM fp GROUP BY h),
         |sur AS MATERIALIZED (
         |  SELECT f.doc_id, f.tf, f.doc_id % $NREL AS shard
         |  FROM fp f JOIN win w ON w.h = f.h AND w.doc_id = f.doc_id),
         |per AS (
         |  SELECT CAST(shard AS BIGINT) AS shard,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(tf) % $M AS BIGINT) AS fpsum
         |  FROM sur GROUP BY shard)
         |SELECT shard, n_rows, fpsum,
         |  n_rows AS manifest_rows, fpsum AS manifest_fpsum
         |FROM per
         |ORDER BY shard""".stripMargin) { (s, dir) =>
      val root = ArtifactStore.root(
        s"graft_release_${VecIndex.dirDigest(dir)}")
      ArtifactStore.deleteRecursive(root)
      ArtifactStore.mkdirs(root)
      val data = s"$root/data"
      val fp = Tables.table(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"),
          expr(Round10More.sparkHash("text")).as("tf"))
      val win = fp.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      val sur = fp.join(win, Seq("h", "doc_id"), "leftsemi")
        .withColumn("shard", (col("doc_id") % NREL).cast("bigint"))
      sur.repartition(NREL, col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(data)
      // manifest from the WRITTEN artifact (not the in-memory frame):
      // what the consumer will verify is what the producer measured
      val measured = s.read.parquet(data)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          (sum(col("tf")) % M).cast("bigint").as("fpsum"))
        .orderBy(col("shard")).collect()
      val body = measured.map { r =>
        s"""{"shard":${r.getLong(0)},"rows":${r.getLong(1)},""" +
          s""""fpsum":${r.getLong(2)}}"""
      }.mkString("[", ",", "]")
      ArtifactStore.writeStringAtomic(s"$root/manifest.json", body)
      // consumer path: data re-aggregated + manifest re-parsed
      val jm = com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .build()
      val node = jm.readTree(
        ArtifactStore.readString(s"$root/manifest.json"))
      val mrows = (0 until node.size()).map { i =>
        (node.get(i).get("shard").asLong(),
          node.get(i).get("rows").asLong(),
          node.get(i).get("fpsum").asLong())
      }
      import s.implicits._
      val manifest = mrows.toDF("shard", "manifest_rows",
        "manifest_fpsum")
      s.read.parquet(data)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          (sum(col("tf")) % M).cast("bigint").as("fpsum"))
        .join(broadcast(manifest), Seq("shard"))
        .select(col("shard"), col("n_rows"), col("fpsum"),
          col("manifest_rows"), col("manifest_fpsum"))
        .orderBy(col("shard"))
    })
}
