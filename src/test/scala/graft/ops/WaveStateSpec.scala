package graft.ops

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The wave states — q268's dedup store, q279's card state and q288's
  * decontamination state — are persisted folds of a documents stream.
  * They must follow the artifact protocol: an in-session rewrite of
  * documents rebuilds them (no stale answer, no memo drop), and a build
  * never deletes the `_build.lock` it holds (a second process could
  * otherwise lock a fresh file and wipe the state mid-build).
  */
class WaveStateSpec extends AnyFunSuite {

  private val src = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(src, "documents.parquet").exists()

  // gate -> the scratch-name prefix of its state root
  private val states = Seq(
    "q268_stream_dedup_store" -> "graft_dedupstore_",
    "q279_stream_dataset_card" -> "graft_cardstate_",
    "q288_stream_decontamination" -> "graft_deconstate_")

  /** Copy every table of data dir `from` (a file, or a Spark-written
    * dir of part files) into a fresh scratch data dir.
    */
  private def cloneCorpus(from: String): String = {
    val to = Files.createTempDirectory("graft_wave_").toString
    graft.Tables.names.foreach { n =>
      val f = Paths.get(from, s"$n.parquet")
      val t = Paths.get(to, s"$n.parquet")
      if (Files.isRegularFile(f)) Files.copy(f, t)
      else {
        Files.createDirectories(t)
        Files.list(f).forEach { p =>
          if (Files.isRegularFile(p)) Files.copy(p, t.resolve(p.getFileName))
        }
      }
    }
    to
  }

  /** Re-point the session's views at `dir` with a fresh file listing. */
  private def repoint(dir: String): Unit = {
    graft.Tables.registerAll(spark, src)
    graft.Tables.registerAll(spark, dir)
  }

  /** Rewrite `dir`'s documents in-session with the `src` rows `keep`
    * selects.
    */
  private def rewriteDocs(dir: String, keep: org.apache.spark.sql.Column)
      : Unit = {
    graft.Tables.load(spark, src, "documents").filter(keep)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    repoint(dir)
  }

  private def rows(gate: String, dir: String): Seq[String] =
    graft.SparkEntry.queries(gate)(spark, dir).collect().map(_.toString)
      .toSeq

  private def cleanup(dirs: String*): Unit = {
    dirs.foreach { d =>
      val dg = VecIndex.dirDigest(d)
      Seq("graft_dedupstore_", "graft_dedupwaves_", "graft_cardstate_",
        "graft_cardwaves_", "graft_deconstate_", "graft_deconwaves_")
        .foreach(n => ArtifactStore.deleteRecursive(ArtifactStore.root(n + dg)))
      ArtifactStore.deleteRecursive(d)
    }
    graft.Tables.registerAll(spark, src)
  }

  test("an in-session documents rewrite rebuilds the q268 dedup store " +
    "and the q279 card state — no memo drop, no fresh JVM") {
    assume(available, s"$src absent — skipping")
    val dir = cloneCorpus(src)
    var fresh = dir
    try {
      repoint(dir)
      val gates = states.take(2).map(_._1)
      val before = gates.map(rows(_, dir))
      // drop a third of every source's docs (source = doc_id % 20, so
      // a parity filter would drop whole sources and leave the kept
      // sources' dedup winners unchanged)
      rewriteDocs(dir, col("doc_id") % 3 =!= 0)
      val after = gates.map(rows(_, dir))
      // the rewritten corpus in a new data dir, which has no state yet
      fresh = cloneCorpus(dir)
      repoint(fresh)
      val want = gates.map(rows(_, fresh))
      gates.indices.foreach { i =>
        assert(want(i) != before(i),
          s"${gates(i)}: the rewrite must change the answer")
        assert(after(i) == want(i),
          s"${gates(i)} served stale state after an in-session " +
            "documents rewrite")
      }
    } finally cleanup(dir, fresh)
  }

  test("a wave-state build leaves its root's _build.lock in place: the " +
    "lock file a rebuild takes is the one it still holds after") {
    assume(available, s"$src absent — skipping")
    val dir = cloneCorpus(src)
    try {
      repoint(dir)
      val roots = states.map { case (g, n) =>
        g -> ArtifactStore.root(n + VecIndex.dirDigest(dir))
      }
      def lockKey(root: String): Option[AnyRef] = {
        val p = Paths.get(root, "_build.lock")
        if (!Files.exists(p)) None
        else Some(Files.readAttributes(p, classOf[BasicFileAttributes])
          .fileKey())
      }
      // newest data-file mtime under a state root (lock and marker aside)
      def newest(root: String): Long =
        ArtifactStore.listFilesRec(root)
          .filterNot(_._1.split('/').last.startsWith("_"))
          .map(_._3).max
      roots.foreach { case (g, _) => rows(g, dir) }
      val held = roots.map { case (g, r) =>
        val k = lockKey(r)
        assert(k.isDefined, s"$g: no _build.lock under $r after its build")
        (g, r, k, newest(r))
      }
      // same rows, new file listing: every state rebuilds under the lock
      // file it already has
      rewriteDocs(dir, lit(true))
      held.foreach { case (g, r, k, t) =>
        rows(g, dir)
        assert(newest(r) > t, s"$g: the documents rewrite did not rebuild")
        assert(lockKey(r) == k,
          s"$g: the rebuild deleted or replaced the _build.lock it held")
      }
    } finally cleanup(dir)
  }
}
