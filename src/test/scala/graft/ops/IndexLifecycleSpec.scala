package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-index lifecycle invariants beyond the DuckDB hash
  * compare: artifact serving equals the inline derivation and a second
  * session reuses the artifacts; batch ingest equals a rebuild with a
  * delta artifact holding exactly the new batch (the streamed ingest,
  * q229, is checked in `Round7MoreSpec`); delete/compact scrubs every
  * tombstoned doc; the generation pointer flips atomically, stays put
  * on a failed validation, and GC keeps exactly the pointed and
  * rollback roots; compaction leaves one file per cell.
  */
class IndexLifecycleSpec extends AnyFunSuite {

  private val dir = graft.TestData.sf0001

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists() &&
      new java.io.File(dir, "embeddings.parquet").exists()

  private def parquetFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        Seq(f)
      else Seq.empty
    walk(new java.io.File(root))
  }

  test("q224: serving from the persisted artifacts equals the inline " +
    "q207 path row for row") {
    assume(available, s"$dir absent — skipping")
    val fromDisk = graft.SparkEntry.queries("q224_persisted_index_serve")(
      spark, dir).collect().map(_.toSeq).toSeq
    val inline = graft.SparkEntry.queries("q207_ivf_pq_search")(
      spark, dir).collect().map(_.toSeq).toSeq
    assert(fromDisk == inline,
      "persisted-artifact serve diverged from the inline IVF-PQ path — " +
        "persistence must be transparent")
  }

  test("q225: ingest equals rebuild (zero row/fingerprint delta), " +
    "serving stays probe-bounded, referee flags are consistent") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q225_incremental_index_ingest")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.length == 10)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val n = e.count()
    val nNew = e.filter(col("vec_id") % 10 >= 8).count()
    out.foreach { case (_, _, _, nCand, nn, rowsDelta, fpDelta) =>
      assert(rowsDelta == 0L,
        s"ingested index row count differs from rebuild by $rowsDelta")
      assert(fpDelta == 0L,
        s"ingested index fingerprint differs from rebuild by $fpDelta")
      assert(nn == nNew, s"n_new $nn != actual new-batch size $nNew")
      assert(nCand > 10 && nCand < n - 1,
        s"probe bound broken: n_cand=$nCand of ${n - 1}")
    }
    // exact column + in_exact flag against an independent brute force
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topTen = exact.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(10).map(_._1).toSet
    out.foreach { case (id, ex, inExact, _, _, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
    }
  }

  test("q225: the delta artifact holds exactly the new batch; base " +
    "codes are untouched by ingest") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    // run the gate so the delta generation exists, then inspect the
    // artifact files directly
    graft.SparkEntry.queries("q225_incremental_index_ingest")(spark, dir)
      .collect()
    val e = graft.Tables.table(spark, dir, "embeddings")
    val base = e.filter(col("vec_id") % 10 < 8)
    val idx = VecIndex.artifacts(spark, dir, "base", base)
    val codes = spark.read.parquet(s"$idx/codes")
    val delta = spark.read.parquet(s"$idx/codes_delta")
    assert(codes.count() == base.count(),
      "base codes artifact no longer matches the base corpus — ingest " +
        "must not rewrite the existing generation")
    assert(delta.count() == e.count() - base.count(),
      "delta generation does not hold exactly the new batch")
    assert(delta.filter(col("vec_id") % 10 < 8).count() == 0,
      "delta generation contains base vectors")
    assert(codes.columns.sorted.toSeq == delta.columns.sorted.toSeq,
      "delta schema diverged from the codes artifact schema")
  }

  test("VecIndex: a second session serves from the pre-existing " +
    "artifacts without rebuilding; a stale marker forces a rebuild") {
    assume(available, s"$dir absent — skipping")
    val e = graft.Tables.table(spark, dir, "embeddings")
    val idx1 = VecIndex.artifacts(spark, dir, "full", e)
    val b0 = VecIndex.memo.builds
    // "new session": the in-JVM registry is gone, the files remain
    VecIndex.memo.drop()
    val idx2 = VecIndex.artifacts(spark, dir, "full", e)
    assert(idx2 == idx1, "artifact path is not deterministic")
    assert(VecIndex.memo.builds == b0,
      "second session rebuilt the index instead of serving from the " +
        "pre-existing artifacts (marker check failed)")
    // a stale/missing marker must NOT be trusted: the build re-runs
    VecIndex.memo.drop()
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(idx1, "_meta.json"))
    VecIndex.artifacts(spark, dir, "full", e)
    assert(VecIndex.memo.builds == b0 + 1,
      "missing marker did not force a rebuild — a crashed half-build " +
        "would be trusted")
  }

  test("q227: tombstoned docs appear nowhere (output or compacted " +
    "artifact); compaction matches the fresh encode exactly") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q227_index_delete_compact")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.length == 10)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val nTombTrue = e.filter(col("vec_id") % 7 === 3).count()
    out.foreach { case (id, _, _, _, nTomb, rowsDelta, fpDelta) =>
      assert(id % 7 != 3, s"tombstoned vec $id served from the index")
      assert(rowsDelta == 0L && fpDelta == 0L,
        s"compacted generation differs from fresh encode: " +
          s"rows_delta=$rowsDelta fp_delta=$fpDelta")
      assert(nTomb == nTombTrue, s"n_tomb $nTomb != actual $nTombTrue")
    }
    // the compacted artifact itself must be scrubbed
    val idx = VecIndex.artifacts(spark, dir, "full", e)
    val v2 = spark.read.parquet(s"$idx/codes_v2")
    assert(v2.filter(col("vec_id") % 7 === 3).count() == 0,
      "compacted codes generation still contains tombstoned docs")
    assert(v2.count() == e.count() - nTombTrue,
      "compacted generation row count != surviving corpus size")
    // in_exact referee over the SURVIVING corpus
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 3)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topTen = exact.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(10).map(_._1).toSet
    out.foreach { case (id, ex, inExact, _, _, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
    }
  }

  test("q244: the pointer names generation 2 after an atomic flip " +
    "(no temp file left behind), v1 is the smaller generation, and a " +
    "re-run serves identically") {
    assume(available, s"$dir absent — skipping")
    val a = graft.SparkEntry
      .queries("q244_index_generation_swap")(spark, dir).collect()
    val proot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_idxptr_${graft.ops.VecIndex.dirDigest(dir)}")
    val ptr = java.nio.file.Files.readString(
      proot.resolve("current.json"))
    assert(ptr.contains("\"gen\":2"), s"pointer not at gen 2: $ptr")
    // the flip goes through a UNIQUE temp file — none may survive it
    val leftover = java.nio.file.Files.list(proot).toArray
      .map(_.toString).filter(_.endsWith(".tmp"))
    assert(leftover.isEmpty,
      s"atomic flip left temp files behind: ${leftover.mkString(",")}")
    a.foreach { r =>
      assert(r.getLong(4) == 2L, "served generation must be 2")
      assert(r.getLong(5) < r.getLong(6), "v1 must be smaller than v2")
    }
    val b = graft.SparkEntry
      .queries("q244_index_generation_swap")(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "re-run diverged after the swap")
  }

  test("q245: failed validation leaves the pointer at generation 1, " +
    "leaves no temp residue, and the served rows provably come from " +
    "the v1 (base-split) corpus") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q245_generation_rollback")(spark, dir).collect()
    assert(rows.length == 10, "rollback serve must return a full top-10")
    rows.foreach { r =>
      // served ids come from the pointed generation's corpus: v1
      // indexes the base split (vec_id % 10 < 8)
      assert(r.getLong(0) % 10 < 8,
        s"served id ${r.getLong(0)} is outside the v1 corpus")
      assert(r.getLong(4) == 1L, "served generation must be 1")
      assert(r.getInt(5) == 0, "the invalid candidate must not promote")
      // the validation failure is in-band: candidate codes < corpus
      assert(r.getLong(7) < r.getLong(6),
        "candidate code count should fall short of the corpus")
    }
    val proot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_idxptr_rb_${VecIndex.dirDigest(dir)}")
    val ptr = java.nio.file.Files.readString(
      proot.resolve("current.json"))
    assert(ptr.contains("\"gen\":1"), s"pointer moved off v1: $ptr")
    val leftover = java.nio.file.Files.list(proot).toArray
      .map(_.toString).filter(_.endsWith(".tmp"))
    assert(leftover.isEmpty,
      s"pointer writes left temp files behind: ${leftover.mkString(",")}")
    // a re-run must re-validate and serve identically
    val again = graft.SparkEntry
      .queries("q245_generation_rollback")(spark, dir).collect()
    assert(rows.toSeq == again.toSeq, "rollback re-run diverged")
  }

  test("q249: compaction leaves exactly one parquet file per cell " +
    "directory, the fragmented source had more, and content identity " +
    "plus the serve result are in-band") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q249_codes_artifact_compaction")(spark, dir).collect()
    assert(rows.length == 10, "compacted serve must return a full top-10")
    rows.foreach { r =>
      assert(r.getInt(5) == 1, "source layout was not fragmented")
      assert(r.getInt(6) == 1, "compaction must reach one file per cell")
      assert(r.getLong(7) == 0L, "row-count delta must be zero")
      assert(r.getLong(8) == 0L, "fingerprint delta must be zero")
    }
    val dg = VecIndex.dirDigest(dir)
    val tmp = sys.props("java.io.tmpdir")
    val comp = s"$tmp/graft_idxcomp_$dg/codes"
    val frag = s"$tmp/graft_idxfrag_$dg/codes"
    val cells = new java.io.File(comp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid=")).toSeq
    assert(cells.nonEmpty)
    cells.foreach { c =>
      assert(parquetFiles(c.toString).size == 1,
        s"${c.getName}: expected exactly one data file after compaction")
    }
    assert(parquetFiles(frag).size > cells.size,
      "fragmented artifact should hold more files than cells")
    val again = graft.SparkEntry
      .queries("q249_codes_artifact_compaction")(spark, dir).collect()
    assert(rows.toSeq == again.toSeq, "compaction re-run diverged")
  }

  test("q250: GC removes exactly the unreferenced generation, keeps " +
    "the pointed and rollback roots with their files, and the pointer " +
    "still names generation 2") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q250_generation_gc")(spark, dir).collect()
    assert(rows.length == 10, "post-GC serve must return a full top-10")
    rows.foreach { r =>
      assert(r.getLong(4) == 3L, "three generations before GC")
      assert(r.getLong(5) == 2L, "pointed + rollback kept")
      assert(r.getLong(6) == 1L, "exactly the candidate removed")
      assert(r.getInt(7) == 1 && r.getInt(8) == 1,
        "kept generations must retain their data files")
    }
    val proot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_idxptr_gc_${VecIndex.dirDigest(dir)}")
    assert(!java.nio.file.Files.exists(proot.resolve("gen3")),
      "the unreferenced candidate generation must be gone")
    assert(java.nio.file.Files.exists(proot.resolve("gen1")) &&
      java.nio.file.Files.exists(proot.resolve("gen2")),
      "pointed and rollback generations must survive")
    val ptr = java.nio.file.Files.readString(
      proot.resolve("current.json"))
    assert(ptr.contains("\"gen\":2") && ptr.contains("\"prev\""),
      s"pointer lost its generation or rollback field: $ptr")
    val again = graft.SparkEntry
      .queries("q250_generation_gc")(spark, dir).collect()
    assert(rows.toSeq == again.toSeq, "GC re-run diverged")
  }
}
