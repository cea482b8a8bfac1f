package perfbench

import org.apache.spark.sql.Row
import graft.exec.{Bridge, Runner}
import graft.meta.{DataDictionary, SchemaIntrospect}
import graft.nl.{ContextSelect, MockLlmClient, Prompt}
import graft.repair.SqlRepair

/** bridge_qa: the paper's NL→SQL flow, one closed-loop client.
  *
  * Questions are drawn with the run's seed from the recorded raw-LLM
  * fixtures; the mock LLM replays each fixture's raw output, keyed by
  * `Prompt.user(question)`. Every answer is checked: its cleaned SQL must
  * equal the fixture's recorded SQL and its rows must equal the rows of
  * that recorded SQL run directly at set-up.
  */
object BridgeQa {
  import Main.Ctx

  val MaxRows = 1000
  val TopK = 12
  // warm-up asks per fixture: fewer leave the JIT compiling during the
  // measured asks (mean latency still falls ~15% within a run after 2)
  val WarmRounds = 10

  final case class Fixture(name: String, question: String, raw: String, sql: String)

  /** Same format as MessyLlmFixtureSpec: header lines, ---RAW---, ---SQL---. */
  def loadFixtures(dir: String): Seq[Fixture] = {
    val files = Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".txt")).sortBy(_.getName)
    require(files.nonEmpty, s"no LLM fixtures under $dir")
    files.toSeq.map { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val header = text.split("---RAW---", 2)
      val body = header(1).split("---SQL---", 2)
      val kv = header(0).linesIterator.filter(_.contains(":")).map { l =>
        val Array(k, v) = l.split(":", 2); k.trim -> v.trim
      }.toMap
      Fixture(f.getName, kv("question"), body(0).trim, body(1).trim)
    }
  }

  private def stageOf(code: Int): String = code match {
    case Runner.ExitCodes.MissingTable => "meta.table_check"
    case Runner.ExitCodes.LlmError     => "nl.llm"
    case Runner.ExitCodes.SqlError     => "exec"
    case _                             => "bridge"
  }

  /** The steps of Bridge.ask, in its order, each inside a span. Returns
    * the cleaned SQL and result, or the stage and exception that failed.
    */
  final case class Steps(extracted: String, cleaned: String,
      result: Runner.BoundedResult, promptChars: Int)

  def decomposed(ctx: Ctx, op: Long, question: String, dict: DataDictionary,
      llm: MockLlmClient): Either[(String, Throwable), Steps] = {
    val t = ctx.tracer
    val spark = ctx.spark
    var stage = "meta.table_check"
    try {
      if (!t.span(stage, op)(SchemaIntrospect.tableExists(spark, Queuedata.Table)))
        return Left(stage -> new NoSuchElementException(Queuedata.Table))
      stage = "meta.ddl"
      val (df, ddl) = t.span(stage, op) {
        val df = spark.table(Queuedata.Table)
        (df, SchemaIntrospect.buildTableSchema(df))
      }
      stage = "nl.context"
      val sel = t.span(stage, op)(ContextSelect.selectRelevantContext(question, dict, TopK))
      stage = "nl.prompt"
      val (sys, usr) = t.span(stage, op)(
        (Prompt.system(Queuedata.Table, ddl, ContextSelect.render(sel)),
          Prompt.user(question)))
      stage = "nl.llm"
      val raw = t.span(stage, op)(llm.complete(sys, usr))
      stage = "meta.ddl"
      val cols = t.span(stage, op)(SchemaIntrospect.listColumns(df))
      stage = "repair.extract"
      val code = t.span(stage, op)(SqlRepair.extractCode(raw))
      stage = "repair.canon"
      val canon = t.span(stage, op)(SqlRepair.canonicalizeLiterals(code, dict))
      stage = "repair.fix"
      val cleaned = t.span(stage, op)(SqlRepair.fixCommonMistakes(canon, dict, cols))
      stage = "exec.analyze"
      val sdf = t.span(stage, op)(spark.sql(cleaned))
      stage = "exec.bounded"
      val res = t.span(stage, op)(Runner.bounded(sdf, MaxRows))
      Right(Steps(code, cleaned, res, sys.length + usr.length))
    } catch { case e: Throwable => Left(stage -> e) }
  }

  /** Bridge-only per-layer metrics, zero on a workload without asks. */
  def zeroBridge(ctx: Ctx): Unit = {
    Seq("meta.table_check", "meta.ddl", "meta.dict_load", "nl.context",
      "nl.prompt", "nl.llm", "repair.extract", "repair.canon", "repair.fix",
      "exec.analyze", "exec.optimize", "exec.plan", "exec.collect",
      "exec.format").foreach(n => ctx.metric(n + "_ms", 0.0, "ms"))
    Seq("nl.prompt_chars" -> "count", "repair.changed_ratio" -> "ratio",
      "exec.jobs_per_ask" -> "count", "exec.rows_fetched" -> "count")
      .foreach { case (k, u) => ctx.metric(k, 0.0, u) }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rows = ctx.args.getOrElse("qrows", "3000").toInt
    Queuedata.register(spark, ctx.args("run"), rows)
    ctx.phase("table")
    val dictJson = Queuedata.dictionaryJson
    val dict = DataDictionary.fromJson(dictJson)
    require(dict.columns.size == 92, s"dictionary has ${dict.columns.size} columns")
    val fx = loadFixtures(ctx.args("fixtures"))
    val llm = new MockLlmClient(fx.map(f => Prompt.user(f.question) -> f.raw).toMap)
    // the oracle: each recorded SQL run directly, outside the bridge
    val expected: Map[String, Seq[Row]] =
      fx.map(f => f.name -> spark.sql(f.sql).collect().toSeq.take(MaxRows)).toMap
    ctx.say(s"queuedata rows=$rows columns=${spark.table(Queuedata.Table).columns.length} " +
      s"dictionary=${dict.columns.size} fixtures=${fx.size}")

    def check(f: Fixture, cleaned: String, got: Seq[Row]): Option[(String, String)] =
      if (cleaned.trim != f.sql)
        Some("repair" -> s"cleaned SQL differs from the recording: ${cleaned.trim.replace('\n', ' ')}")
      else if (got != expected(f.name))
        Some("exec" -> s"rows differ from the recorded SQL: got ${got.size}, expected ${expected(f.name).size}")
      else None

    /** One Bridge.ask, checked; a Left is diagnosed by re-running the steps. */
    def ask(f: Fixture): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val r = Bridge.ask(spark, Queuedata.Table, f.question, dict, llm, TopK, MaxRows)
      val ms = (System.nanoTime() - t0) / 1e6
      val err = r match {
        case Left(code) =>
          val cause = decomposed(ctx, -1, f.question, dict, llm).left.toOption
            .map { case (st, e) => s" (stage $st: $e)" }.getOrElse("")
          Some(stageOf(code) -> s"Bridge.ask returned Left($code)$cause")
        case Right(a) => check(f, a.trace.cleanedSql, a.result.rows)
      }
      (ms, ctx.outcome(f.name, err.map(_._1).getOrElse(""), err.map(_._2)))
    }

    // warm-up: every fixture through Bridge.ask, and the traced
    // decomposition must give the same cleaned SQL and rows
    for (_ <- 1 to WarmRounds; f <- fx) ask(f)
    fx.foreach { f =>
      val viaAsk = Bridge.ask(spark, Queuedata.Table, f.question, dict, llm, TopK, MaxRows)
      val err = (viaAsk, decomposed(ctx, -1, f.question, dict, llm)) match {
        case (Right(a), Right(s)) if a.trace.cleanedSql == s.cleaned &&
            a.result.rows == s.result.rows => None
        case (a, s) => Some(s"decomposition diverged from Bridge.ask: ${a.map(_.trace.cleanedSql)} vs ${s.map(_.cleaned)}")
      }
      ctx.outcome(f.name, "trace.decomposition", err)
    }
    ctx.tracer.spans.clear()
    ctx.phase("warm-up")

    val rng = new scala.util.Random(ctx.seed)
    ctx.startTiming()
    if (!ctx.traced) {
      val samples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val f = fx(rng.nextInt(fx.size))
        samples += f.name -> ask(f)._1
      }
      Main.endToEnd(ctx, samples.toSeq, (System.nanoTime() - t0) / 1e9)
      return
    }

    // traced run: even-numbered asks go through Bridge.ask with no
    // listener attached; odd-numbered asks through the decomposition with
    // spans and Spark counters. Their difference is the tracing overhead.
    val epoch0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    def nanoOf(ms: Long) = nano0 + (ms - epoch0) * 1000000L
    val l = ctx.layers
    val plain = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var changed = 0
    var op = 0L
    val t1 = System.nanoTime()
    while ((System.nanoTime() - t1) / 1e9 < ctx.seconds) {
      val f = fx(rng.nextInt(fx.size))
      if (op % 2 == 0) plain += f.name -> ask(f)._1
      else {
        ctx.attachRecorder()
        val ms0 = System.currentTimeMillis()
        val r = Main.timedJvm(ctx)(
          ctx.tracer.span("ask", op)(decomposed(ctx, op, f.question, dict, llm)))
        val ms1 = System.currentTimeMillis()
        val root = ctx.tracer.spans.last
        traced += f.name -> root.dur / 1e6
        val bounded = ctx.tracer.spans.lastIndexWhere(s => s.op == op && s.name == "exec.bounded")
        r match {
          case Right(s) =>
            ctx.tracer.span("exec.format", op)(Runner.format(s.result))
            val err = check(f, s.cleaned, s.result.rows)
            ctx.outcome(f.name, err.map(_._1).getOrElse(""), err.map(_._2))
            if (s.cleaned != s.extracted) changed += 1
            l.add("nl.prompt_chars", s.promptChars)
            l.add("exec.rows_fetched", s.result.totalFetched)
          case Left((st, e)) => ctx.outcome(f.name, st, Some(e.toString))
        }
        val ev = ctx.drain()
        ctx.detachRecorder()
        Main.sparkLayer(ctx, ev, ms0, ms1)
        if (bounded >= 0) {
          val b = ctx.tracer.spans(bounded)
          ev.qes.reverse.find(_.func == "collect").foreach { q =>
            Seq("optimization" -> "exec.optimize", "planning" -> "exec.plan").foreach {
              case (p, name) => q.phases.get(p).foreach { case (a, z) =>
                ctx.tracer.at(name, nanoOf(a), nanoOf(z), b.id, op)
              }
            }
          }
        }
        l.ops += 1
      }
      op += 1
    }
    val elapsed = (System.nanoTime() - t1) / 1e9
    // the dictionary codec, timed apart from the loop (Bridge.ask takes a
    // parsed dictionary; the reference CLI parses it once per question)
    for (_ <- 1 to 20) ctx.tracer.span("meta.dict_load", -1)(DataDictionary.fromJson(dictJson))
    Main.jvmLayer(ctx)

    val self = ctx.tracer.selfTimes
    def selfMs(name: String, perOp: Boolean = true): Double = {
      val ss = ctx.tracer.spans.filter(_.name == name)
      val tot = ss.map(s => self(s.id)).sum / 1e6
      if (perOp) tot / math.max(l.ops, 1) else tot / math.max(ss.size, 1)
    }
    Seq("meta.table_check", "meta.ddl", "nl.context", "nl.prompt", "nl.llm",
      "repair.extract", "repair.canon", "repair.fix", "exec.analyze",
      "exec.optimize", "exec.plan", "exec.format").foreach { n =>
      ctx.metric(n + "_ms", selfMs(n), "ms")
    }
    ctx.metric("meta.dict_load_ms", selfMs("meta.dict_load", perOp = false), "ms")
    ctx.metric("nl.prompt_chars", l.mean("nl.prompt_chars"), "count")
    ctx.metric("repair.changed_ratio", changed.toDouble / math.max(l.ops, 1), "ratio")
    ctx.metric("exec.collect_ms", selfMs("exec.bounded"), "ms")
    ctx.metric("exec.jobs_per_ask", l.mean("jobs"), "count")
    ctx.metric("exec.rows_fetched", l.mean("exec.rows_fetched"), "count")
    Gates.zeroOps(ctx)
    Main.reportSparkLayer(ctx)
    Main.zeroArtifacts(ctx)
    ctx.metric("trace.uncovered_ms", selfMs("ask"), "ms")
    Main.traceSummary(ctx, plain.toSeq, traced.toSeq, elapsed)
    ctx.tracer.write(ctx.args("spans"))
  }
}
