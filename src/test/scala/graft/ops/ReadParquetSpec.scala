package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `ArtifactStore.readParquet`: a repeat read of an unchanged root plans
  * with no Spark job and reads what `spark.read.parquet` reads; a
  * rewritten root, other reader options or a flipped inference conf
  * infer again; globs read what the glob matches; a missing path fails
  * as `spark.read.parquet` fails.
  */
class ReadParquetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_rp_").toString

  /** Spark jobs started while `body` runs (planning included). */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def sameAs(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
  }

  private def write(root: String, cols: String*): Unit = {
    import spark.implicits._
    val base = Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5))
      .toDF("id", "name", "score")
    base.select(cols.map(col): _*).write.mode("append").parquet(root)
  }

  test("a repeat read of an unchanged root runs no Spark job and reads " +
    "the schema and rows of spark.read.parquet") {
    val root = tmp()
    try {
      write(root, "id", "name")
      val (_, first) = jobsIn(ArtifactStore.readParquet(spark, root))
      assert(first >= 1, "the first read must infer the schema")
      val (df, again) = jobsIn(ArtifactStore.readParquet(spark, root))
      assert(again == 0, s"repeat read ran $again job(s)")
      sameAs(df, spark.read.parquet(root))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("adding a part file with a new column infers again") {
    val root = tmp()
    val merge = Map("mergeSchema" -> "true")
    try {
      write(root, "id", "name")
      ArtifactStore.readParquet(spark, Seq(root), merge)
      write(root, "id", "name", "score")
      val (df, n) = jobsIn(ArtifactStore.readParquet(spark, Seq(root), merge))
      assert(n >= 1, "a rewritten root was served the old schema")
      assert(df.columns.toSeq == Seq("id", "name", "score"))
      sameAs(df, spark.read.options(merge).parquet(root))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("the q122 mergeSchema shape equals " +
    "spark.read.option(\"mergeSchema\", \"true\"), first and repeat read") {
    val root = tmp()
    val paths = Seq(s"$root/v=1", s"$root/v=2")
    try {
      write(paths(0), "id", "name")
      write(paths(1), "id", "name", "score")
      val want = spark.read.option("mergeSchema", "true").parquet(paths: _*)
      val read = () => ArtifactStore.readParquet(spark, paths,
        Map("mergeSchema" -> "true"))
      sameAs(read(), want)
      val (df, n) = jobsIn(read())
      assert(n == 0)
      sameAs(df, want)
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong infers again") {
    val root = tmp()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      write(root, "id", "name")
      spark.conf.set(key, "false")
      ArtifactStore.readParquet(spark, root)
      spark.conf.set(key, "true")
      val (df, n) = jobsIn(ArtifactStore.readParquet(spark, root))
      assert(n >= 1, "a flipped inference conf was served the old schema")
      sameAs(df, spark.read.parquet(root))
      val (_, again) = jobsIn(ArtifactStore.readParquet(spark, root))
      assert(again == 0)
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      ArtifactStore.deleteRecursive(root)
    }
  }

  test("a glob reads the directories it matches, and a rewrite under it " +
    "infers again") {
    val root = tmp()
    try {
      write(s"$root/b0", "id", "name")
      write(s"$root/b1", "id", "name")
      sameAs(ArtifactStore.readParquet(spark, s"$root/b*"),
        spark.read.parquet(s"$root/b*"))
      write(s"$root/b2", "id", "name")
      val (df, n) = jobsIn(ArtifactStore.readParquet(spark, s"$root/b*"))
      assert(n >= 1, "a new directory under the glob was not listed")
      assert(df.count() == 9)
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("a missing path fails the way spark.read.parquet does, also " +
    "after a memoized read of it") {
    val root = tmp()
    val gone = s"$root/gone"
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    try {
      val want = condition(spark.read.parquet(gone))
      assert(condition(ArtifactStore.readParquet(spark, gone)) == want)
      assert(condition(ArtifactStore.readParquet(spark, s"$root/x*")) ==
        condition(spark.read.parquet(s"$root/x*")))
      write(gone, "id")
      ArtifactStore.readParquet(spark, gone)
      ArtifactStore.deleteRecursive(gone)
      assert(condition(ArtifactStore.readParquet(spark, gone)) == want)
    } finally ArtifactStore.deleteRecursive(root)
  }
}
