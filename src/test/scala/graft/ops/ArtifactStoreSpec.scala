package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The Hadoop-FS artifact seam: marker round-trip, recursive table
  * signatures (partitioned layouts included), loud failure on missing
  * tables, the re-entrant cross-process build lock, and fault injection
  * against the build-once protocol (`buildOnce` / `Memo`).
  */
class ArtifactStoreSpec extends AnyFunSuite {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_as_").toString

  test("marker round-trip: markerOk only after writeMarker with the " +
    "exact content; atomic variant replaces") {
    val root = tmp()
    try {
      assert(!ArtifactStore.markerOk(root, "v1"))
      ArtifactStore.writeMarker(root, "v1")
      assert(ArtifactStore.markerOk(root, "v1"))
      assert(!ArtifactStore.markerOk(root, "v2"))
      ArtifactStore.writeStringAtomic(
        ArtifactStore.markerPath(root), "v2")
      assert(ArtifactStore.markerOk(root, "v2"))
      assert(ArtifactStore.readString(
        ArtifactStore.markerPath(root)) == "v2")
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("tableFileSig walks partition subdirectories (a rewrite of a " +
    "nested part file moves the signature) and fails loudly on a " +
    "missing table") {
    val dir = tmp()
    try {
      val t = java.nio.file.Paths.get(dir, "docs.parquet", "p=1")
      java.nio.file.Files.createDirectories(t)
      java.nio.file.Files.writeString(t.resolve("part-0"), "aa")
      val s1 = ArtifactStore.tableFileSig(dir, "docs")
      assert(s1.contains("p=1/part-0"),
        s"nested part file missing from signature: $s1")
      java.nio.file.Files.writeString(t.resolve("part-0"), "aaa")
      assert(ArtifactStore.tableFileSig(dir, "docs") != s1,
        "nested rewrite did not move the signature")
      intercept[IllegalArgumentException] {
        ArtifactStore.tableFileSig(dir, "absent")
      }
    } finally ArtifactStore.deleteRecursive(dir)
  }

  test("writeStringAtomic: a reader racing the publish sees old or " +
    "new content, never a missing file or a torn write") {
    val root = tmp()
    val path = s"$root/ptr.json"
    try {
      val bodies = Seq("A" * 64, "B" * 4096) // different lengths: a torn
      // write or a partial temp file would surface as a mixed read
      ArtifactStore.writeStringAtomic(path, bodies(0))
      @volatile var failure: Option[String] = None
      @volatile var done = false
      val reader = new Thread(() => {
        while (!done && failure.isEmpty) {
          try {
            val got = ArtifactStore.readString(path)
            if (!bodies.contains(got))
              failure = Some(s"torn read: ${got.take(20)}... " +
                s"len=${got.length}")
          } catch {
            case e: java.io.FileNotFoundException =>
              failure = Some(s"missing-file window: $e")
          }
        }
      })
      reader.start()
      for (i <- 1 to 200)
        ArtifactStore.writeStringAtomic(path, bodies(i % 2))
      done = true
      reader.join()
      assert(failure.isEmpty, failure.getOrElse(""))
      assert(ArtifactStore.readString(path) == bodies(0))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("gcScratch: prior-run tempRoot scratch is collected, this " +
    "JVM's own and deterministic digest roots survive includeOwn=false") {
    // a leftover from a "previous run": the exact name shape tempRoot
    // mints, but not registered by this JVM
    val leftover = ArtifactStore.root("graft_gcspec_deadbeef-001")
    ArtifactStore.mkdirs(leftover)
    // a deterministic marker-gated root: must never match the sweep
    val digestRoot = ArtifactStore.root("graft_gcspec_0123456789abcdef")
    ArtifactStore.mkdirs(digestRoot)
    val own = ArtifactStore.tempRoot("graft_gcspec")
    try {
      // scoped to this spec's prefix: the suite pool runs in parallel,
      // and an unscoped sweep here could collect a sibling suite's
      // live scratch (the mains call the unscoped gcScratch, alone in
      // their JVM)
      val deleted = ArtifactStore.gcScratchScoped(
        includeOwn = false, prefix = "graft_gcspec")
      assert(deleted.contains(leftover), s"leftover survived: $deleted")
      assert(!ArtifactStore.exists(leftover))
      assert(ArtifactStore.exists(own), "own live scratch was collected")
      assert(ArtifactStore.exists(digestRoot),
        "deterministic digest root was collected")
      // teardown semantics: includeOwn sweeps this JVM's scratch too
      val deleted2 = ArtifactStore.gcScratchScoped(
        includeOwn = true, prefix = "graft_gcspec")
      assert(deleted2.contains(own))
      assert(!ArtifactStore.exists(own))
      assert(ArtifactStore.exists(digestRoot))
    } finally {
      ArtifactStore.deleteRecursive(digestRoot)
      ArtifactStore.deleteRecursive(leftover)
    }
  }

  test("withBuildLock is re-entrant in-thread, serializes across " +
    "threads, and leaves the lock file behind the root") {
    val root = tmp()
    try {
      // re-entrant: nested acquisition of the same root must not throw
      val v = ArtifactStore.withBuildLock(root) {
        ArtifactStore.withBuildLock(root)(41) + 1
      }
      assert(v == 42)
      // two threads: the section runs strictly serialized
      val order = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val ts = (0 until 2).map { i =>
        new Thread(() => ArtifactStore.withBuildLock(root) {
          order.add(s"in$i"); Thread.sleep(50); order.add(s"out$i")
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val seq = scala.jdk.CollectionConverters
        .ListHasAsScala(order).asScala.toList
      assert(Set(List("in0", "out0", "in1", "out1"),
        List("in1", "out1", "in0", "out0")).contains(seq),
        s"interleaved build sections: $seq")
      assert(ArtifactStore.exists(s"$root/_build.lock"))
    } finally ArtifactStore.deleteRecursive(root)
  }

  // a Memo call whose plan and build are counted: plan yields
  // (root, expect, ()), build writes `<root>/data` = `body`
  private final class Probe(root: String) {
    val memo = new ArtifactStore.Memo[String, Unit]
    var plans = 0
    def call(sig: String, expect: String, body: String = "full"): String = {
      memo("k", sig) { plans += 1; (root, expect, ()) } { (p, _) =>
        ArtifactStore.writeString(s"$p/data", body)
      }
      ArtifactStore.readString(s"$root/data")
    }
  }

  test("fault injection: a build that writes data and then throws " +
    "leaves no marker and no memo entry, and the next call rebuilds") {
    val root = tmp()
    try {
      val probe = new Probe(root)
      val boom = intercept[IllegalStateException] {
        probe.memo("k", "s1")((root, "m1", ())) { (p, _) =>
          ArtifactStore.writeString(s"$p/data", "half")
          throw new IllegalStateException("crash after the data write")
        }
      }
      assert(boom.getMessage.contains("crash"))
      assert(ArtifactStore.exists(s"$root/data"), "the half-build wrote")
      assert(!ArtifactStore.exists(ArtifactStore.markerPath(root)),
        "a throwing build published its marker")
      assert(probe.memo.builds == 0, "a throwing build was counted")
      // another process publishes the identical build: with no memo
      // entry the next call must plan again and then trust the marker
      ArtifactStore.writeMarker(root, "m1")
      assert(probe.call("s1", "m1") == "half" && probe.plans == 1,
        "the failed call left a memo entry behind")
      assert(probe.memo.builds == 0)
      // the torn state the crash left (data, no marker) is rebuilt
      ArtifactStore.deleteRecursive(ArtifactStore.markerPath(root))
      assert(probe.call("s1", "m1") == "full")
      assert(probe.plans == 2 && probe.memo.builds == 1)
      assert(ArtifactStore.markerOk(root, "m1"))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("fault injection: a stale marker forces a rebuild even on a " +
    "memo hit with an unchanged table signature") {
    val root = tmp()
    try {
      val probe = new Probe(root)
      probe.call("s1", "m1")
      probe.call("s1", "m1")
      assert(probe.plans == 1 && probe.memo.builds == 1, "second call missed")
      ArtifactStore.writeMarker(root, "{\"stale\":true}")
      assert(probe.call("s1", "m1", "rebuilt") == "rebuilt")
      assert(probe.plans == 2 && probe.memo.builds == 2,
        "a stale marker was served")
      assert(ArtifactStore.markerOk(root, "m1"))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("fault injection: a changed table signature re-plans; a changed " +
    "content marker rebuilds, an unchanged one is served") {
    val root = tmp()
    try {
      val probe = new Probe(root)
      probe.call("s1", "m1")
      // files touched, content identical: re-plan, marker still valid
      probe.call("s2", "m1")
      assert(probe.plans == 2 && probe.memo.builds == 1)
      // content changed: the new marker mismatches and the build runs
      assert(probe.call("s3", "m2", "v2") == "v2")
      assert(probe.plans == 3 && probe.memo.builds == 2)
      assert(ArtifactStore.markerOk(root, "m2"))
      // after a drop the on-disk marker serves a "new session"
      probe.memo.drop()
      probe.call("s3", "m2")
      assert(probe.plans == 4 && probe.memo.builds == 2)
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("fault injection: 8 threads racing on one empty root run the " +
    "build exactly once") {
    val root = tmp()
    try {
      val ran = new java.util.concurrent.atomic.AtomicInteger()
      val start = new java.util.concurrent.CountDownLatch(1)
      // one Memo per thread: only the build lock and the re-check stand
      // between them, as between two sessions or two JVMs
      val memos = Seq.fill(8)(new ArtifactStore.Memo[String, Unit])
      val ts = memos.map { m =>
        new Thread(() => {
          start.await()
          m("k", "s1")((root, "m1", ())) { (p, _) =>
            ran.incrementAndGet()
            Thread.sleep(50)
            ArtifactStore.writeString(s"$p/data", "full")
          }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      assert(ran.get == 1, s"build ran ${ran.get} times")
      assert(memos.map(_.builds).sum == 1)
      assert(ArtifactStore.markerOk(root, "m1"))
    } finally ArtifactStore.deleteRecursive(root)
  }
}
