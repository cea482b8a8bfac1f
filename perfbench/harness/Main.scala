package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry. run.py starts it once per run with the workload,
  * seed, measuring time and trace flag, plus the paths it prepared (data,
  * run scratch, gate lists). It writes one JSON result file that run.py
  * turns into the final stdout line.
  *
  * Untraced runs register no listeners. A traced run (`--trace 1`)
  * alternates plain operations with traced ones, which run inside spans
  * with the recorder attached; the per-layer metrics come from the traced
  * operations, and the difference between the two kinds' per-operation
  * means is the tracing overhead.
  */
object Main {

  final class Ctx(
      val spark: SparkSession,
      val workload: String,
      val seed: Long,
      val seconds: Double,
      val traced: Boolean,
      val args: Map[String, String]) {
    val tracer = new Tracer
    val recorder = new Recorder
    val layers = new Layers
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    var firstOpMs = 0L

    def metric(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)

    /** Count one operation; a failure is printed with its cause. */
    def outcome(what: String, stage: String, err: Option[String]): Boolean = {
      attempted += 1
      err.foreach { e =>
        failed += 1
        println(s"[perfbench] FAIL workload=$workload op=$what stage=$stage: $e")
      }
      err.isEmpty
    }

    def say(msg: String): Unit = println(s"[perfbench] $msg")

    private var lastPhase = System.nanoTime()
    /** Print how long the set-up step that just ended took. */
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      say(f"set-up $name%s took ${(now - lastPhase) / 1e9}%.2f s")
      lastPhase = now
    }

    def startTiming(): Unit = if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()

    def attachRecorder(): Unit = {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }

    def detachRecorder(): Unit = {
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }

    def drain(): OpEvents = {
      org.apache.spark.perfbench.SparkBus.drain(spark.sparkContext)
      recorder.take()
    }
  }

  def parseArgs(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap

  def session(cpus: Int, runDir: String): SparkSession = {
    // the same session settings as graft.Bench, with scratch in the run dir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val runDir = args("run")
    val spark = session(args.getOrElse("cpus", "4").toInt, runDir)
    val ctx = new Ctx(spark, args("workload"), args("seed").toLong,
      args("seconds").toDouble, args.getOrElse("trace", "0") == "1", args)
    ctx.say(f"set-up jvm+session took ${(System.currentTimeMillis() - args("t0ms").toLong) / 1e3}%.2f s")
    val art = graft.ops.ArtifactStore.scratchBase
    val start = Artifacts.snapshot(art)
    ctx.say(s"artifact root $art holds ${start.size} files at start" +
      (if (start.isEmpty) "" else ": " +
        start.keys.map(Artifacts.topDir).toSeq.distinct.sorted.mkString(",")))
    val ok =
      try {
        if (args.get("mode").contains("record")) Gates.record(ctx)
        else ctx.workload match {
          case "bridge_qa" => BridgeQa.run(ctx)
          case w => Gates.run(ctx, w)
        }
        true
      } catch {
        case e: Throwable =>
          println(s"[perfbench] ABORT workload=${ctx.workload}: $e")
          e.printStackTrace(System.out)
          false
      }
    ctx.metric("peak_rss_mb", Jvm.peakRssMb, "MB")
    if (ok) writeResult(ctx, args("out"))
    spark.stop()
    if (!ok) sys.exit(2)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def writeResult(ctx: Ctx, path: String): Unit = {
    val ms = ctx.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val body = s"""{"first_op_ms":${ctx.firstOpMs},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$ms}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // ---- shared statistics ----

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1).max(0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** End-to-end metrics from per-operation latencies (ms), keyed by the
    * operation's identity (question or gate): throughput, and the suite
    * sum and geometric mean of each identity's median. Latency
    * percentiles over all operations are printed with their sample
    * counts; they are not metrics, because on a gate workload the median
    * operation jumps between gates of different cost from run to run.
    */
  def endToEnd(ctx: Ctx, samples: Seq[(String, Double)], elapsedS: Double): Unit = {
    val lat = samples.map(_._2)
    val perKey = samples.groupBy(_._1).map { case (_, v) => median(v.map(_._2)) }.toSeq
    ctx.metric("ops_per_s", samples.size / elapsedS, "1/s")
    ctx.metric("suite_s", perKey.sum / 1000.0, "s")
    ctx.metric("op_geomean_ms", geomean(perKey), "ms")
    ctx.say("medians_ms " + samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
      f"$k=${median(v.map(_._2))}%.0f/${v.size}" }.mkString(" "))
    // the highest of these percentiles with >= 10 samples beyond it
    val tail = Seq(99.0, 95.0, 90.0).find(p => lat.size * (100 - p) / 100 >= 10)
    val third = math.max(lat.size / 3, 1)
    ctx.say(f"samples=${samples.size} distinct=${perKey.size} elapsed_s=$elapsedS%.2f " +
      f"op_p50_ms=${median(lat)}%.2f " +
      tail.map(p => f"op_p${p.toInt}_ms=${percentile(lat, p)}%.2f").getOrElse("") +
      f" mean_ms first_third=${lat.take(third).sum / third}%.2f " +
      f"last_third=${lat.takeRight(third).sum / third}%.2f")
  }

  /** Tracing overhead (mean over operation identities of traced minus
    * untraced mean latency) and the run's error rate.
    */
  def traceSummary(ctx: Ctx, plain: Seq[(String, Double)],
      traced: Seq[(String, Double)], elapsedS: Double): Unit = {
    def means(xs: Seq[(String, Double)]) =
      xs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / v.size }
    val p = means(plain); val t = means(traced)
    val both = p.keySet.intersect(t.keySet).toSeq
    val overhead = if (both.isEmpty) 0.0 else both.map(k => t(k) - p(k)).sum / both.size
    ctx.metric("trace.overhead_ms", overhead, "ms")
    ctx.metric("error_rate", ctx.failed.toDouble / math.max(ctx.attempted, 1), "ratio")
    val pm = plain.map(_._2).sum / math.max(plain.size, 1)
    ctx.say(f"traced ops=${traced.size} untraced ops=${plain.size} elapsed_s=$elapsedS%.2f " +
      f"untraced_mean_ms=$pm%.3f overhead_ms=$overhead%.3f (${100 * overhead / math.max(pm, 1e-9)}%.1f%%)")
  }

  /** Artifact metrics on a workload that runs no gates. */
  def zeroArtifacts(ctx: Ctx): Unit =
    Seq("artifact.built" -> "count", "artifact.hit" -> "count",
      "artifact.hit_ratio" -> "ratio", "artifact.bytes_written_mb" -> "MB",
      "artifact.files_written" -> "count")
      .foreach { case (k, u) => ctx.metric(k, 0.0, u) }

  /** JVM per-layer metrics: GC and JIT time inside the traced operations
    * (added per operation by `timedJvm`), code cache and heap at the end.
    */
  def jvmLayer(ctx: Ctx): Unit = {
    ctx.metric("jvm.gc_ms", ctx.layers.mean("jvm.gc_ms"), "ms")
    ctx.metric("jvm.jit_ms", ctx.layers.mean("jvm.jit_ms"), "ms")
    ctx.metric("jvm.code_cache_mb", Jvm.codeCacheMb, "MB")
    ctx.metric("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb, "MB")
  }

  /** Run `body`, adding the GC and JIT time spent meanwhile to `layers`. */
  def timedJvm[T](ctx: Ctx)(body: => T): T = {
    val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    try body
    finally {
      ctx.layers.add("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble)
      ctx.layers.add("jvm.jit_ms", (Jvm.jitMs - jit0).toDouble)
    }
  }

  /** Spark-side per-layer counters of one operation, added to `layers`. */
  def sparkLayer(ctx: Ctx, ev: OpEvents, t0Ms: Long, t1Ms: Long): Unit = {
    val l = ctx.layers
    val MB = 1024.0 * 1024.0
    l.add("jobs", ev.jobs.size)
    l.add("stages", ev.stages)
    l.add("tasks", ev.tasks)
    l.add("driver_gap_ms", Recorder.driverGapMs(t0Ms, t1Ms, ev.jobs))
    def phase(p: String) = ev.qes.map(q => q.phases.get(p)
      .map { case (a, b) => (b - a).toDouble }.getOrElse(0.0)).sum
    l.add("analysis_ms", phase("analysis"))
    l.add("optimization_ms", phase("optimization"))
    l.add("planning_ms", phase("planning"))
    l.add("xchg.shuffle_write_mb", ev.shuffleWrite / MB)
    l.add("xchg.shuffle_read_mb", ev.shuffleRead / MB)
    l.add("xchg.spill_mb", ev.spill / MB)
    l.add("xchg.executor_cpu_s", ev.cpuNs / 1e9)
    l.add("xchg.task_skew", Recorder.taskSkew(ev.stageTaskMs))
    ev.qes.reverse.find(q => q.func == "count" || q.func == "collect").foreach { q =>
      l.add("plan.exchanges", q.exchanges)
      l.add("plan.smj", q.smj)
      l.add("plan.bhj", q.bhj)
      l.add("plan.wscg", q.wscg)
    }
  }

  /** Copy the per-operation means of shared Spark/exchange/plan counters. */
  def reportSparkLayer(ctx: Ctx): Unit = {
    val l = ctx.layers
    Seq("xchg.shuffle_write_mb" -> "MB", "xchg.shuffle_read_mb" -> "MB",
      "xchg.spill_mb" -> "MB", "xchg.task_skew" -> "ratio",
      "xchg.executor_cpu_s" -> "s", "plan.exchanges" -> "count",
      "plan.smj" -> "count", "plan.bhj" -> "count", "plan.wscg" -> "count")
      .foreach { case (k, u) => ctx.metric(k, l.mean(k), u) }
  }
}
