package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a call into a layer, or a Catalyst phase. Times are
  * `System.nanoTime`; `parent` is the id of the enclosing span (-1 for an
  * operation's root) and `op` the operation the span belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans nest by call order; `at` adds a span
  * measured elsewhere (a Catalyst phase) under an explicit parent.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def span[T](name: String, op: Long)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, t0, System.nanoTime(), parent, op)
    }
  }

  def at(name: String, start: Long, end: Long, parent: Int, op: Long): Unit = {
    spans += Span(next, name, start, end, parent, op); next += 1
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals, clipped to the span.
    */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) covered += b - lo
        reach = math.max(reach, b)
      }
      s.id -> (s.dur - covered)
    }.toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

/** Per-operation sums of layer metrics; reported as means per operation. */
final class Layers {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  var ops = 0
  def add(name: String, v: Double): Unit =
    sums(name) = sums.getOrElse(name, 0.0) + v
  def sum(name: String): Double = sums.getOrElse(name, 0.0)
  def mean(name: String): Double = if (ops == 0) 0.0 else sum(name) / ops
}

/** What Spark reported about one operation, read after the bus drained. */
final case class OpEvents(
    jobs: Seq[(Long, Long)],
    stages: Int,
    tasks: Int,
    stageTaskMs: Map[Int, Seq[Long]],
    shuffleWrite: Long,
    shuffleRead: Long,
    spill: Long,
    cpuNs: Long,
    qes: Seq[Recorder.Qe])

object Recorder {
  /** A finished action's Catalyst phases (epoch ms) and final plan shape. */
  final case class Qe(func: String, phases: Map[String, (Long, Long)],
      exchanges: Int, smj: Int, bhj: Int, wscg: Int)

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Wall time not covered by any job span, for an operation [t0, t1]
    * (epoch ms): the driver's own time between and around jobs.
    */
  def driverGapMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L; var reach = t0
    jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) covered += b - lo
        reach = math.max(reach, b)
      }
    (t1 - t0 - covered).toDouble
  }

  /** Worst stage's max task time over its median task time. */
  def taskSkew(stageTaskMs: Map[Int, Seq[Long]]): Double =
    stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }.foldLeft(1.0)(math.max)
}

/** SparkListener + QueryExecutionListener registered by the traced run.
  * Events arrive on the listener thread; `take` hands over everything
  * recorded since the previous call.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages = 0
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var tasks, shW, shR, spill, cpu = 0L
  private val qes = mutable.ArrayBuffer.empty[Qe]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      cpu += m.executorCpuTime
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> ((p.startTimeMs, p.endTimeMs))
    }
    val ns0 = nodes(qe.executedPlan)
    val rec = Qe(func, phases,
      ns0.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns0.count(_.isInstanceOf[SortMergeJoinExec]),
      ns0.count(_.isInstanceOf[BroadcastHashJoinExec]),
      ns0.count(_.getClass.getSimpleName == "WholeStageCodegenExec"))
    synchronized { qes += rec }
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): OpEvents = synchronized {
    val out = OpEvents(jobs.toList, stages, tasks.toInt,
      taskMs.map { case (k, v) => k -> v.toList }.toMap, shW, shR, spill,
      cpu, qes.toList)
    jobs.clear(); stages = 0; taskMs.clear(); tasks = 0; shW = 0; shR = 0
    spill = 0; cpu = 0; qes.clear()
    out
  }
}

/** JVM counters read through JMX and /proc. */
object Jvm {
  private val MB = 1024.0 * 1024.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / MB
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / MB

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Artifact-tree state: (size, mtime) of every file under the root. */
object Artifacts {
  type Snap = Map[String, (Long, Long)]

  def snapshot(root: String): Snap = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return Map.empty
    val st = java.nio.file.Files.walk(base)
    try st.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map { p =>
        base.relativize(p).toString ->
          ((java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }.toMap
    finally st.close()
  }

  /** Files created or rewritten between two snapshots. */
  def written(before: Snap, after: Snap): Seq[(String, Long)] =
    after.collect { case (k, v) if !before.get(k).contains(v) => k -> v._1 }
      .toSeq

  def topDir(rel: String): String = rel.takeWhile(_ != '/')

  def clear(root: String): Unit = {
    val base = new java.io.File(root)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    Option(base.listFiles).foreach(_.foreach(rm))
  }
}
