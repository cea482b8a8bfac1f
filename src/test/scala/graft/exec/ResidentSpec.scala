package graft.exec

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.meta._
import graft.nl.MockLlmClient

/** Residency of the asked table (Resident, called by Bridge.ask): held
  * from the second ask, answers equal to reading the files, released when
  * the view or its files change, never held above the broadcast threshold
  * or for a table that is not file-backed.
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

    val got = ask(online)
    assert(!cached)
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
}
