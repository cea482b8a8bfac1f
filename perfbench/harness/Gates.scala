package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The gate workload: SparkEntry gates timed the way graft.Bench times them,
  * from the `SparkEntry.queries(name)(spark, dir)` call through `.count()`.
  *
  * Set-up runs every gate once, untimed, and checks its row count and an
  * order-insensitive digest against gates.json. The measured phase runs
  * passes over the gates, each pass in a seeded order, until the time is
  * used, in whole passes and at least [[MinPasses]] of them: the JIT is
  * still compiling through the first passes, so a fixed minimum keeps the
  * per-gate medians comparable between runs. Every execution's row count
  * is checked again.
  *
  * `--mode record` runs every SparkEntry gate cold and then warm and prints
  * the rows, digest and marker-gated artifact roots that gates.json holds.
  */
object Gates {
  import Main.Ctx

  val MinPasses = 4

  final case class Expect(rows: Long, digest: String, roots: Seq[String])
  final case class Config(workloads: Map[String, Seq[String]], expect: Map[String, Expect])

  def loadConfig(path: String): Config = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val wl = root.get("workloads").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText).toSeq
    }.toMap
    val ex = root.get("expected").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expect(v.get("rows").asLong, v.get("digest").asText,
        v.get("roots").elements().asScala.map(_.asText).toSeq)
    }.toMap
    Config(wl, ex)
  }

  /** Artifact root names embed a digest of the data dir (VecIndex.dirDigest);
    * replacing it with `{dir}` gives names that are stable across runs.
    */
  def dirKey(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  // ArtifactStore.tempRoot names: <prefix>_<8 hex>-<3 hex>
  private val TempRoot = "graft_[a-z0-9_]+_[0-9a-f]{8}-[0-9a-f]{3}".r

  // ---- digest: row count plus the sum of per-row hashes ----

  /** Doubles are compared to 9 significant digits (|x| < 1e-9 reads as 0),
    * so a different float summation order gives the same digest.
    */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType))
        .when(isnan(d), lit("NaN"))
        .when(abs(d) < 1e-9, lit("0"))
        .otherwise(format_string("%.9g", d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        to_json(struct(norm(e.getField("key"), kt).as("k"),
          norm(e.getField("value"), vt).as("v")))))
    case other if other.typeName == "variant" => c.cast(StringType)
    case _ => c
  }

  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  // ---- per-gate hygiene, as in graft.Bench (outside the timers) ----

  def cleanup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    spark.sessionState.catalog.listLocalTempViews("graft_stream*")
      .foreach(v => spark.catalog.dropTempView(v.table))
    System.gc()
  }

  /** Gate-only per-layer metrics, zero on a workload without gates. */
  def zeroOps(ctx: Ctx): Unit =
    Seq("ops.build_ms" -> "ms", "ops.run_ms" -> "ms",
      "ops.jobs_per_gate" -> "count", "ops.stages_per_gate" -> "count",
      "ops.tasks_per_gate" -> "count", "ops.driver_gap_ms" -> "ms",
      "ops.analysis_ms" -> "ms", "ops.planning_ms" -> "ms")
      .foreach { case (k, u) => ctx.metric(k, 0.0, u) }

  def run(ctx: Ctx, workload: String): Unit = {
    val cfg = loadConfig(ctx.args("gates"))
    val names = cfg.workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val dir = ctx.args("data")
    val art = graft.ops.ArtifactStore.scratchBase
    val key = dirKey(dir)
    val spark = ctx.spark

    /** (build ns, run ns, rows, frame): the span graft.Bench times. */
    def execute(name: String): (Long, Long, Long, DataFrame) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val tb = System.nanoTime()
      val n = df.count()
      (tb - t0, System.nanoTime() - tb, n, df)
    }

    // set-up: one checked execution per gate
    names.foreach { name =>
      val e = cfg.expect.get(name)
      val err =
        try {
          // the digest's aggregate runs the gate's plan and counts its
          // rows, so set-up needs no separate count()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, dir)
          val t1 = System.nanoTime()
          val d = digest(df)
          val n = d.takeWhile(_ != ':').toLong
          ctx.say(f"warm $name build_ms=${(t1 - t0) / 1e6}%.0f " +
            f"digest_ms=${(System.nanoTime() - t1) / 1e6}%.0f")
          e match {
            case None => Some("set-up" -> "no expected result in gates.json")
            case Some(x) if x.rows != n => Some("set-up" -> s"row count $n, expected ${x.rows}")
            case Some(x) if x.digest != d => Some("set-up" -> s"digest $d, expected ${x.digest}")
            case _ => None
          }
        } catch { case t: Throwable => Some("set-up" -> t.toString) }
      ctx.outcome(name, err.map(_._1).getOrElse(""), err.map(_._2))
      cleanup(ctx)
    }
    ctx.say(s"workload=$workload gates=${names.size} data=$dir")

    val rng = new scala.util.Random(ctx.seed)
    val l = ctx.layers
    val t = ctx.tracer
    var built, hit = 0L
    val plain = mutable.ArrayBuffer.empty[(String, Double)]
    val traced = mutable.ArrayBuffer.empty[(String, Double)]
    var op = 0L
    var excluded = 0.0
    def untimed[T](body: => T): T = {
      val h = System.nanoTime()
      try body finally excluded += (System.nanoTime() - h) / 1e9
    }

    /** One gate execution; None when it failed. */
    def plainRun(name: String): Option[Double] = {
      val r = try Right(execute(name)) catch { case e: Throwable => Left(e) }
      val err = r match {
        case Left(e) => Some(e.toString)
        case Right((_, _, n, _)) if cfg.expect.get(name).exists(_.rows != n) =>
          Some(s"row count $n, expected ${cfg.expect(name).rows}")
        case _ => None
      }
      val ok = ctx.outcome(name, if (err.isEmpty) "" else "measure", err)
      r.toOption.filter(_ => ok).map { case (b, c, _, _) => (b + c) / 1e6 }
    }

    /** One gate execution inside spans, with Spark and artifact counters. */
    def tracedRun(name: String): Unit = {
      val before = untimed(Artifacts.snapshot(art))
      ctx.attachRecorder()
      val ms0 = System.currentTimeMillis()
      val r = try Main.timedJvm(ctx) {
        t.span("gate", op) {
          val df = t.span("ops.build", op)(SparkEntry.queries(name)(spark, dir))
          Right(t.span("ops.run", op)(df.count()))
        }
      } catch { case e: Throwable => Left(e) }
      val ms1 = System.currentTimeMillis()
      val root = t.spans.last
      untimed {
        val err = r match {
          case Left(e) => Some(e.toString)
          case Right(n) if cfg.expect.get(name).exists(_.rows != n) => Some(s"row count $n")
          case _ => None
        }
        if (ctx.outcome(name, if (err.isEmpty) "" else "traced", err))
          traced += name -> root.dur / 1e6
        val ev = ctx.drain()
        ctx.detachRecorder()
        Main.sparkLayer(ctx, ev, ms0, ms1)
        val wrote = Artifacts.written(before, Artifacts.snapshot(art))
        val touched = wrote.map(w => Artifacts.topDir(w._1).replace(key, "{dir}")).toSet
        cfg.expect.get(name).toSeq.flatMap(_.roots).foreach { root =>
          if (touched(root)) built += 1 else hit += 1
        }
        l.add("artifact.bytes_written_mb", wrote.map(_._2).sum / (1024.0 * 1024.0))
        l.add("artifact.files_written", wrote.size)
        l.ops += 1
      }
    }

    // passes over the gates in seeded order until the time is used. A
    // traced run alternates plain and traced executions, flipping the
    // parity each pass so every gate gets both.
    ctx.startTiming()
    val t0 = System.nanoTime()
    var pass = 0
    def spent = (System.nanoTime() - t0) / 1e9 - excluded
    while (pass < MinPasses || spent < ctx.seconds) {
      val p0 = System.nanoTime(); val x0 = excluded
      val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
      rng.shuffle(names).zipWithIndex.foreach { case (name, i) =>
        if (ctx.traced && (i + pass) % 2 == 1) tracedRun(name)
        else plainRun(name).foreach(ms => plain += name -> ms)
        untimed(cleanup(ctx))
        op += 1
      }
      val ps = (System.nanoTime() - p0) / 1e9 - (excluded - x0)
      // per-pass JVM and artifact state, for pass-to-pass drift
      untimed(ctx.say(f"pass $pass: gate_s=$ps%.2f gc_ms=${Jvm.gcMs - gc0} " +
        f"jit_ms=${Jvm.jitMs - jit0} heap_after_gc_mb=${Jvm.heapAfterGcMb}%.0f " +
        f"code_cache_mb=${Jvm.codeCacheMb}%.0f artifact_files=${Artifacts.snapshot(art).size}"))
      pass += 1
    }
    val elapsed = spent
    if (!ctx.traced) {
      Main.endToEnd(ctx, plain.toSeq, elapsed)
      return
    }

    Main.jvmLayer(ctx)
    val self = t.selfTimes
    val n = math.max(l.ops, 1)
    def total(s: String) = t.spans.filter(_.name == s).map(_.dur).sum / 1e6 / n
    BridgeQa.zeroBridge(ctx)
    ctx.metric("ops.build_ms", total("ops.build"), "ms")
    ctx.metric("ops.run_ms", total("ops.run"), "ms")
    ctx.metric("ops.jobs_per_gate", l.mean("jobs"), "count")
    ctx.metric("ops.stages_per_gate", l.mean("stages"), "count")
    ctx.metric("ops.tasks_per_gate", l.mean("tasks"), "count")
    ctx.metric("ops.driver_gap_ms", l.mean("driver_gap_ms"), "ms")
    ctx.metric("ops.analysis_ms", l.mean("analysis_ms"), "ms")
    ctx.metric("ops.planning_ms", l.mean("optimization_ms") + l.mean("planning_ms"), "ms")
    Main.reportSparkLayer(ctx)
    ctx.metric("artifact.built", built.toDouble / n, "count")
    ctx.metric("artifact.hit", hit.toDouble / n, "count")
    ctx.metric("artifact.hit_ratio",
      if (built + hit == 0) 0.0 else hit.toDouble / (built + hit), "ratio")
    ctx.metric("artifact.bytes_written_mb", l.mean("artifact.bytes_written_mb"), "MB")
    ctx.metric("artifact.files_written", l.mean("artifact.files_written"), "count")
    ctx.metric("trace.uncovered_ms",
      t.spans.filter(_.name == "gate").map(s => self(s.id)).sum / 1e6 / n, "ms")
    Main.traceSummary(ctx, plain.toSeq, traced.toSeq, elapsed)
    t.write(ctx.args("spans"))
  }

  /** Cold then warm execution of each gate: rows, digest, and the
    * deterministic artifact roots the cold run wrote that the warm run
    * read without rewriting (marker-gated roots).
    */
  def record(ctx: Ctx): Unit = {
    val dir = ctx.args("data")
    val art = graft.ops.ArtifactStore.scratchBase
    val key = dirKey(dir)
    val queries = SparkEntry.queries
    val out = queries.keys.toSeq.sorted.map { name =>
      Artifacts.clear(art)
      val res = try {
        val t0 = System.nanoTime()
        val df1 = queries(name)(ctx.spark, dir); val n1 = df1.count()
        val coldMs = (System.nanoTime() - t0) / 1e6
        val d1 = digest(df1)
        cleanup(ctx)
        val afterCold = Artifacts.snapshot(art)
        val t1 = System.nanoTime()
        val df2 = queries(name)(ctx.spark, dir); val n2 = df2.count()
        val warmMs = (System.nanoTime() - t1) / 1e6
        val d2 = digest(df2)
        val rewritten = Artifacts.written(afterCold, Artifacts.snapshot(art))
          .map(w => Artifacts.topDir(w._1)).toSet
        val roots = afterCold.keys.map(Artifacts.topDir).toSeq.distinct.sorted
          .filter(r => !TempRoot.pattern.matcher(r).matches() && !rewritten(r))
          .map(_.replace(key, "{dir}"))
        val stable = n1 == n2 && d1 == d2
        f""""$name":{"rows":$n2,"digest":"$d2","roots":[${roots.map("\"" + _ + "\"").mkString(",")}],""" +
          f""""stable":$stable,"cold_ms":$coldMs%.0f,"warm_ms":$warmMs%.0f}"""
      } catch {
        case t: Throwable => s""""$name":{"error":"${t.toString.replace("\"", "'").take(300)}"}"""
      }
      cleanup(ctx)
      ctx.attempted += 1
      println(s"[record] $res")
      res
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(ctx.args("out") + ".record"),
      out.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
