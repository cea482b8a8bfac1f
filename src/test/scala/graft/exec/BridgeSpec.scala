package graft.exec

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.scalatest.funsuite.AnyFunSuite
import graft.meta._
import graft.nl.MockLlmClient

/** End-to-end NL replay with a mock LLM (SURVEY.md §5.2 item 4): canned
  * model outputs — including fenced/markdown variants and the reference's
  * classic mistakes — must flow through context selection, repair, and
  * bounded execution to correct results.
  */
class BridgeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def registerQueuedata(): Unit = {
    import spark.implicits._
    Seq(
      ("alpha", "online", "active", "United States", "EU", 8),
      ("beta", "offline", "idle", "France", "EU", 16),
      ("gamma", "online", "active", "France", "US", 4),
      ("delta", "test", "idle", "United States", "US", 32))
      .toDF("queue", "status", "state", "country", "cloud", "corecount")
      .createOrReplaceTempView("queuedata")
  }

  val dict: DataDictionary = DataDictionary(
    table = "queuedata",
    columns = Seq(
      ColumnMeta("queue", "STRING", importance = 10,
        aliases = Seq("name", "queuename")),
      ColumnMeta("status", "STRING", importance = 10,
        aliases = Seq("condition"),
        canonicalization = Canonicalization(caseRule = Some("lower"),
          mapValues = Seq("ONLINE" -> Some("online")))),
      ColumnMeta("state", "STRING", importance = 2),
      ColumnMeta("country", "STRING",
        canonicalization = Canonicalization(
          mapValues = Seq("us" -> Some("United States")))),
      ColumnMeta("cloud", "STRING"),
      ColumnMeta("corecount", "INT", aliases = Seq("cores"))))

  test("ask: fenced LLM output with wrong-case literal executes correctly") {
    registerQueuedata()
    val llm = new MockLlmClient(Map(
      "Write an SQL query that returns - all online queues" ->
        "```sql\nSELECT queue FROM queuedata WHERE status = 'ONLINE' ORDER BY queue\n```"))
    val Right(ans) = Bridge.ask(spark, "queuedata", "all online queues", dict, llm)
    assert(ans.trace.cleanedSql ==
      "SELECT queue FROM queuedata WHERE status = 'online' ORDER BY queue")
    assert(ans.result.rows.map(_.getString(0)) == Seq("alpha", "gamma"))
  }

  test("ask: alias + typo'd identifier are repaired before execution") {
    registerQueuedata()
    val llm = new MockLlmClient(Map(
      "Write an SQL query that returns - big queues" ->
        "SELECT queue, corecont FROM queuedata WHERE condition = 'ONLINE' ORDER BY queue"))
    val Right(ans) = Bridge.ask(spark, "queuedata", "big queues", dict, llm)
    assert(ans.trace.cleanedSql ==
      "SELECT queue, corecount FROM queuedata WHERE status = 'online' ORDER BY queue")
    assert(ans.result.rows.length == 2)
  }

  test("ask: missing table yields exit code 2") {
    assert(Bridge.ask(spark, "no_such_table", "q", dict,
      new MockLlmClient()) == Left(Runner.ExitCodes.MissingTable))
  }

  test("ask: the table name resolves case-insensitively") {
    registerQueuedata()
    val llm = new MockLlmClient(fallback = "SELECT COUNT(*) FROM queuedata")
    val Right(ans) = Bridge.ask(spark, "QueueData", "how many", dict, llm)
    assert(ans.result.rows.map(_.getLong(0)) == Seq(4L))
  }

  test("ask: a malformed table name fails to parse, as tableExists does") {
    val viaProbe = intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      SchemaIntrospect.tableExists(spark, "bad name!"))
    val viaAsk = intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      Bridge.ask(spark, "bad name!", "q", dict, new MockLlmClient()))
    assert(viaAsk.getCondition == viaProbe.getCondition)
  }

  test("ask: broken SQL from the LLM yields exit code 4") {
    registerQueuedata()
    val llm = new MockLlmClient(fallback = "SELEC nonsense FRM nowhere")
    assert(Bridge.ask(spark, "queuedata", "gibberish", dict, llm) ==
      Left(Runner.ExitCodes.SqlError))
  }

  test("ask: throwing LLM client yields exit code 3") {
    registerQueuedata()
    val llm = new graft.nl.LlmClient {
      def complete(s: String, u: String): String = throw new RuntimeException("boom")
    }
    assert(Bridge.ask(spark, "queuedata", "q", dict, llm) ==
      Left(Runner.ExitCodes.LlmError))
  }

  /** The failure of an ask about `table` whose LLM is `llm`. */
  private def failure(llm: graft.nl.LlmClient, table: String = "queuedata"): Bridge.Failure = {
    registerQueuedata()
    Bridge.run(spark, table, "q", dict, llm) match {
      case Left(f) => f
      case Right(a) => fail(s"answered: ${a.trace.cleanedSql}")
    }
  }

  test("run: each failure names its stage and keeps its cause") {
    val missing = failure(new MockLlmClient(), "no_such_table")
    assert(missing.stage == "resolve" && missing.exitCode == Runner.ExitCodes.MissingTable)
    assert(missing.cause.asInstanceOf[AnalysisException].getCondition == "TABLE_OR_VIEW_NOT_FOUND")

    val boom = new RuntimeException("boom")
    val llm = failure(new graft.nl.LlmClient {
      def complete(s: String, u: String): String = throw boom
    })
    assert(llm.stage == "llm" && llm.exitCode == Runner.ExitCodes.LlmError && (llm.cause eq boom))

    val unparsed = failure(new MockLlmClient(fallback = "SELEC nonsense FRM nowhere"))
    assert(unparsed.stage == "analyze" && unparsed.exitCode == Runner.ExitCodes.SqlError)
    assert(unparsed.cause.isInstanceOf[ParseException])

    val unknown = failure(new MockLlmClient(fallback = "SELECT zzz_no_such_column FROM queuedata"))
    assert(unknown.stage == "analyze" && unknown.exitCode == Runner.ExitCodes.SqlError)
    assert(!unknown.cause.isInstanceOf[ParseException] &&
      unknown.cause.asInstanceOf[AnalysisException].getCondition.startsWith("UNRESOLVED_COLUMN"))

    val runtime = failure(new MockLlmClient(fallback = "SELECT CAST(queue AS INT) FROM queuedata"))
    assert(runtime.stage == "run" && runtime.exitCode == Runner.ExitCodes.SqlError)
    assert(runtime.cause.isInstanceOf[SparkThrowable] &&
      runtime.cause.asInstanceOf[SparkThrowable].getCondition == "CAST_INVALID_INPUT")
  }

  test("runner: bounded display detects truncation with limit+1 fetch") {
    registerQueuedata()
    val r = Runner.execute(spark, "SELECT queue FROM queuedata ORDER BY queue", maxRows = 3)
    assert(r.truncated && r.rows.length == 3 && r.totalFetched == 4)
    val full = Runner.execute(spark, "SELECT queue FROM queuedata ORDER BY queue", maxRows = 10)
    assert(!full.truncated && full.rows.length == 4)
    val text = Runner.format(full)
    assert(text.contains("queue") && text.contains("(4 rows)"))
  }

  test("introspection + skeleton generation over a real table") {
    registerQueuedata()
    val df = spark.table("queuedata")
    assert(SchemaIntrospectFixture.ddl(df)
      .startsWith("queue STRING, status STRING"))
    val skel = SkeletonGen.skeleton("queuedata", df)
    assert(skel.columns.map(_.name) ==
      Seq("queue", "status", "state", "country", "cloud", "corecount"))
    assert(skel.columns.forall(_.importance == 5))
    val round = DataDictionary.fromJson(DataDictionary.toJson(skel))
    assert(round.columns.map(_.name) == skel.columns.map(_.name))
  }
}

object SchemaIntrospectFixture {
  def ddl(df: org.apache.spark.sql.DataFrame): String =
    SchemaIntrospect.buildTableSchema(df)
}
