package graft.exec

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.meta._
import graft.nl.MockLlmClient

/** Residency of the asked table (Resident, called by Bridge.ask): held
  * from the second ask, answers equal to reading the files, released when
  * the view or its files change, never held above the broadcast threshold
  * or for a table that is not file-backed. And its prepared answers: a
  * repeat ask about a held table runs no Spark job and returns the rows
  * its earlier ask produced, unless the view, a joined view, the session
  * confs, the cache entry or the files changed, or the SQL reads the clock
  * or a random source; a failing question runs on every ask; each maxRows
  * keeps its own answer; the per-table cap evicts the least recently
  * asked answer. Jobs and collects are counted with a SparkListener.
  */
class ResidentSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val base = Files.createTempDirectory("resident-spec").toFile

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(base)
  }

  // MessyLlmFixtureSpec's dictionary: the recorded fixtures repair to
  // their recorded SQL against it
  private val dict: DataDictionary = DataDictionary(
    table = "queuedata",
    columns = Seq(
      ColumnMeta("queue", "STRING", importance = 10,
        aliases = Seq("name", "queuename")),
      ColumnMeta("status", "STRING", importance = 10,
        aliases = Seq("condition"),
        canonicalization = Canonicalization(caseRule = Some("lower"),
          mapValues = Seq("ONLINE" -> Some("online")))),
      ColumnMeta("state", "STRING", importance = 2,
        canonicalization = Canonicalization(
          mapValues = Seq("n/a" -> None))),
      ColumnMeta("country", "STRING",
        canonicalization = Canonicalization(
          mapValues = Seq("us" -> Some("United States")))),
      ColumnMeta("cloud", "STRING"),
      ColumnMeta("corecount", "INT", aliases = Seq("cores"))))

  private case class Fixture(name: String, question: String, raw: String, sql: String)

  private lazy val fixtures: Seq[Fixture] = (1 to 10).map { i =>
    val dir = new File(getClass.getResource("/llm_fixtures").toURI)
    val f = dir.listFiles.filter(_.getName.startsWith(f"$i%02d_")).head
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val header = text.split("---RAW---", 2)
    val body = header(1).split("---SQL---", 2)
    val question = header(0).linesIterator.collectFirst {
      case l if l.startsWith("question:") => l.stripPrefix("question:").trim
    }.get
    Fixture(f.getName, question, body(0).trim, body(1).trim)
  }

  private def fixture(prefix: String): Fixture =
    fixtures.find(_.name.startsWith(prefix)).get

  /** A four-part parquet queuedata: rows dealt round-robin over the
    * parts, so an unordered answer's row order is the parts' order.
    */
  private def writeQueuedata(name: String, rows: Int, salt: Long = 0L): String = {
    def pick(i: Int, vs: String*) = element_at(array(vs.map(lit): _*),
      (pmod(xxhash64(col("id"), lit(salt + i)), lit(vs.size.toLong)) + 1).cast("int"))
    val path = new File(base, name).getPath
    spark.range(rows).select(
      format_string("q%05d", col("id")).as("queue"),
      pick(1, "online", "offline", "test").as("status"),
      pick(2, "active", "idle").as("state"),
      pick(3, "United States", "France", "Germany").as("country"),
      pick(4, "EU", "US").as("cloud"),
      pick(5, "4", "8", "16", "32").cast("int").as("corecount"))
      .repartition(4).write.parquet(path)
    path
  }

  private def register(path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView("queuedata")

  private def ask(f: Fixture, table: String = "queuedata"): Seq[Row] =
    Bridge.ask(spark, table, f.question, dict, new MockLlmClient(fallback = f.raw)) match {
      case Right(a) =>
        assert(a.trace.cleanedSql.trim == f.sql, s"${f.name}: repaired SQL")
        a.result.rows
      case Left(code) => fail(s"${f.name}: exit code $code")
    }

  private def fromFiles(f: Fixture): Seq[Row] = Runner.execute(spark, f.sql).rows

  /** Ask with an LLM that answers `raw`; the cleaned SQL and the rows. */
  private def askSql(raw: String): (String, Seq[Row]) =
    Bridge.ask(spark, "queuedata", "q", dict, new MockLlmClient(fallback = raw)) match {
      case Right(a) => (a.trace.cleanedSql, a.result.rows)
      case Left(code) => fail(s"$raw: exit code $code")
    }

  /** What ran between two markers: Spark jobs and SQL executions. */
  private final case class Ran(jobs: Int, collects: Int) {
    def hit: Boolean = jobs == 0 && collects == 0
  }

  private val MarkerKey = "resident.spec.marker"

  // job starts ("job", or the marker's id) and SQL execution starts
  // ("sql"), in listener-bus order
  private val events = new LinkedBlockingQueue[String]()
  private lazy val listening: Unit = spark.sparkContext.addSparkListener(
    new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        events.put(Option(j.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
          .getOrElse("job"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => events.put("sql")
        case _ =>
      }
    })

  /** Run a marker job (an RDD count: no SQL execution) and return every
    * event the bus delivered before it: the bus delivers in order, so
    * once the marker arrives no earlier event is left in flight.
    */
  private def drain(): Seq[String] = {
    listening
    val id = java.util.UUID.randomUUID.toString
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, id)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    Iterator.continually(events.poll(30, TimeUnit.SECONDS))
      .takeWhile { e => assert(e != null, "marker not seen"); e != id }.toSeq
  }

  /** The result of `body` and the jobs and collects it ran. */
  private def ran[A](body: => A): (A, Ran) = {
    drain()
    val out = body
    val seen = drain()
    (out, Ran(seen.count(_ == "job"), seen.count(_ == "sql")))
  }

  private def cached: Boolean = spark.catalog.isCached("queuedata")

  private def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  test("the first ask neither lists nor holds the table, the second does both") {
    spark.catalog.clearCache()
    register(writeQueuedata("first_second", 400))
    val listed = Resident.listings.get
    ask(fixture("03"), "QueueData")
    assert(!cached && Resident.listings.get == listed)
    ask(fixture("03"))
    assert(cached && Resident.listings.get == listed + 1)
    ask(fixture("03"))
    assert(Resident.listings.get == listed + 1)
  }

  test("every fixture answers with the file path's rows, in its order") {
    spark.catalog.clearCache()
    register(writeQueuedata("fixtures", 2000))
    val expected = fixtures.map(f => f.name -> fromFiles(f)).toMap
    assert(expected("04_fuzzy_canon_fence.txt").size > 500)
    for (round <- 1 to 3; f <- fixtures) {
      assert(ask(f) == expected(f.name), s"${f.name}, round $round")
      if (round > 1) assert(cached)
    }
  }

  test("a replaced view answers from its new data and releases the old copy") {
    spark.catalog.clearCache()
    val before = persistentRdds
    register(writeQueuedata("replace_old", 400))
    ask(fixture("03"))
    ask(fixture("03"))
    assert(cached && persistentRdds == before + 1)
    val newPath = writeQueuedata("replace_new", 150, salt = 7L)
    register(newPath)
    assert(ask(fixture("03")) == Seq(Row(150L)))
    assert(persistentRdds == before)
    assert(!cached)
    // a new view over the same files: Spark keeps its cache entry across
    // this replacement (same result), the bridge releases it
    ask(fixture("03"))
    assert(cached && persistentRdds == before + 1)
    register(newPath)
    assert(ask(fixture("03")) == Seq(Row(150L)))
    assert(persistentRdds == before)
    assert(!cached)
  }

  test("a rewritten part file drops residency and the next answer reads it") {
    spark.catalog.clearCache()
    val path = writeQueuedata("rewrite", 800)
    register(path)
    val online = fixture("04")
    val old = fromFiles(online)
    ask(online)
    ask(online)
    assert(cached)
    assert(ran(ask(online))._2.hit)

    // rewrite one part file in place: every row of it turns 'online'
    val part = new File(path).listFiles.filter(_.getName.startsWith("part-")).minBy(_.getName)
    val tmp = new File(base, "rewrite_tmp").getPath
    spark.read.parquet(part.getPath).withColumn("status", lit("online"))
      .coalesce(1).write.parquet(tmp)
    val fresh = new File(tmp).listFiles.filter(_.getName.startsWith("part-")).head
    Files.move(fresh.toPath, part.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(new File(tmp, s".${fresh.getName}.crc").toPath,
      new File(path, s".${part.getName}.crc").toPath, StandardCopyOption.REPLACE_EXISTING)
    part.setLastModified(part.lastModified() + 2000L)

    val (got, r) = ran(ask(online))
    assert(!cached)
    assert(r.collects > 0, "a rewritten part file must be run afresh")
    // read after the ask released the copy: until then a fresh read of
    // the same files is served from it too
    val expected = spark.read.parquet(path).where("status = 'online'")
      .select("queue", "corecount").collect().toSet
    assert(got.size > old.size && got.toSet == expected)
    ask(online)
    assert(cached)
    assert(ask(online) == got)
  }

  test("a threshold of -1, or below the table's size, holds nothing") {
    spark.catalog.clearCache()
    register(writeQueuedata("threshold", 400))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try Seq("-1", "1").foreach { t =>
      spark.conf.set(key, t)
      (1 to 3).foreach(_ => ask(fixture("03")))
      assert(!cached, s"threshold $t")
    } finally spark.conf.set(key, prior)
  }

  test("a createDataFrame view is never held") {
    spark.catalog.clearCache()
    import spark.implicits._
    Seq(("alpha", "online", "active", "United States", "EU", 8))
      .toDF("queue", "status", "state", "country", "cloud", "corecount")
      .createOrReplaceTempView("queuedata")
    val before = persistentRdds
    (1 to 3).foreach(_ => ask(fixture("03")))
    assert(!cached && persistentRdds == before)
  }

  test("a repeat ask runs no Spark job and answers with Runner.execute's rows") {
    spark.catalog.clearCache()
    register(writeQueuedata("prepared", 2000))
    val expected = fixtures.map(f => f.name -> fromFiles(f)).toMap
    ask(fixture("03")) // the first ask: the table is held from the next
    for (round <- 1 to 3; f <- fixtures) {
      val (rows, r) = ran(ask(f))
      assert(rows == expected(f.name), s"${f.name}, round $round")
      if (round == 1) assert(r.collects > 0, s"${f.name}: answered without a run")
      else assert(r.hit, s"${f.name}, round $round: ran $r")
    }
  }

  test("a replaced view, a redefined joined view or a conf flip plans afresh") {
    spark.catalog.clearCache()
    val path = writeQueuedata("afresh", 600)
    register(path)
    val picked = "CREATE OR REPLACE TEMP VIEW picked AS " +
      "SELECT queue FROM queuedata WHERE status = "
    spark.sql(picked + "'online'")
    val join = "SELECT COUNT(*) AS n FROM queuedata q JOIN picked p ON q.queue = p.queue"
    def twice(raw: String): Unit = {
      askSql(raw)
      askSql(raw)
      assert(ran(askSql(raw))._2.hit, s"$raw: not kept")
    }
    def afresh(raw: String): Unit = {
      val ((sql, rows), r) = ran(askSql(raw))
      assert(r.collects > 0, s"$raw: answered from a kept result")
      assert(rows == Runner.execute(spark, sql).rows, raw)
    }

    twice(join)
    spark.sql(picked + "'offline'")
    afresh(join)

    twice(fixture("03").raw)
    register(writeQueuedata("afresh_new", 150, salt = 3L))
    afresh(fixture("03").raw)
    assert(askSql(fixture("03").raw)._2 == Seq(Row(150L)))

    twice(fixture("04").raw)
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, (!prior.toBoolean).toString)
      afresh(fixture("04").raw)
    } finally spark.conf.set(key, prior)
  }

  test("the clock and random sources are planned on every ask") {
    spark.catalog.clearCache()
    register(writeQueuedata("per_run", 400))
    askSql("SELECT COUNT(*) AS n FROM queuedata")
    val clock = "SELECT queue, current_timestamp() AS t FROM queuedata WHERE queue = 'q00001'"
    val random = "SELECT COUNT(*) AS n FROM queuedata WHERE rand() < 2"
    for (raw <- Seq(clock, random); i <- 1 to 3)
      assert(ran(askSql(raw))._2.collects > 0, s"$raw, ask $i: answered from a kept result")
    val t1 = askSql(clock)._2.head.getTimestamp(1)
    Thread.sleep(20)
    val t2 = askSql(clock)._2.head.getTimestamp(1)
    assert(t2.after(t1))
    assert(askSql(random)._2 == Seq(Row(400L)))
  }

  test("clearCache between asks plans afresh and leaves no stray copy") {
    spark.catalog.clearCache()
    register(writeQueuedata("clear", 400))
    val f = fixture("04")
    val expected = fromFiles(f)
    ask(f)
    ask(f)
    assert(ran(ask(f))._2.hit)
    val size = persistentRdds
    spark.catalog.clearCache()
    val (rows, r) = ran(ask(f))
    assert(rows == expected && r.collects > 0)
    assert(persistentRdds == size)
    assert(ran(ask(f))._2.hit)
    assert(persistentRdds == size)
  }

  test("a failing question runs again on every ask and is never kept") {
    spark.catalog.clearCache()
    register(writeQueuedata("failing", 400))
    askSql("SELECT COUNT(*) AS n FROM queuedata") // the table is held from the next ask
    val llm = new MockLlmClient(fallback = "SELECT CAST(queue AS INT) AS q FROM queuedata")
    for (i <- 1 to 3) {
      val (code, r) = ran(Bridge.ask(spark, "queuedata", "q", dict, llm))
      assert(code == Left(Runner.ExitCodes.SqlError), s"ask $i")
      assert(r.jobs > 0, s"ask $i: answered without a run")
      assert(cached)
    }
  }

  test("one SQL asked with two maxRows keeps an answer for each") {
    spark.catalog.clearCache()
    register(writeQueuedata("max_rows", 400))
    val llm = new MockLlmClient(fallback =
      "SELECT queue FROM queuedata WHERE corecount = 8 ORDER BY queue")
    def at(maxRows: Int): (String, Runner.BoundedResult) =
      Bridge.ask(spark, "queuedata", "q", dict, llm, maxRows = maxRows) match {
        case Right(a) => (a.trace.cleanedSql, a.result)
        case Left(code) => fail(s"maxRows $maxRows: exit code $code")
      }
    at(5) // the first ask: the table is held from the next
    for (round <- 1 to 2; maxRows <- Seq(5, 1000)) {
      val ((sql, got), r) = ran(at(maxRows))
      assert(got == Runner.execute(spark, sql, maxRows), s"maxRows $maxRows, round $round")
      assert(got.truncated == (maxRows == 5) && (got.rows.size > 5) == (maxRows == 1000))
      assert(r.hit == (round == 2), s"maxRows $maxRows, round $round: ran $r")
    }
  }

  test("the per-table cap evicts the least recently asked plan") {
    spark.catalog.clearCache()
    register(writeQueuedata("cap", 400))
    def sql(i: Int) = s"SELECT COUNT(*) AS n FROM queuedata WHERE corecount > $i"
    askSql(sql(0))
    askSql(sql(0))
    assert(ran(askSql(sql(0)))._2.hit)
    for (i <- 1 to Resident.PreparedCap)
      assert(ran(askSql(sql(i)))._2.collects > 0, s"question $i")
    assert(ran(askSql(sql(Resident.PreparedCap)))._2.hit)
    val ((_, rows), r) = ran(askSql(sql(0)))
    assert(r.collects > 0, "the oldest answer was kept")
    assert(rows == Runner.execute(spark, sql(0)).rows)
  }
}
