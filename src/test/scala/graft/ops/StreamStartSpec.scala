package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** `StreamOps.start`, the one `writeStream...start()` seam: a stateful
  * query run through it equals its batch result, the checkpoint-manager
  * conf it pins is restored whether `start()` returns or throws, a
  * non-local session checkpoint location is refused, and a `foreachBatch`
  * body can call graft's SQL functions on a session that never went
  * through `Tables`.
  */
class StreamStartSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def withSource[T](body: (String, org.apache.spark.sql.DataFrame) => T): T = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ss_").toString
    try {
      (0 until 200).map(i => (i % 7, i.toLong)).toDF("k", "v")
        .repartition(3).write.parquet(s"$dir/src")
      val batch = spark.read.parquet(s"$dir/src")
      body(s"$dir/src", batch)
    } finally ArtifactStore.deleteRecursive(dir)
  }

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))

  test("a stateful memory-sink query run through the seam equals its " +
    "batch result") {
    withSource { (src, batch) =>
      val stream = spark.readStream.schema(batch.schema).parquet(src)
      val q = StreamOps.start(spark, agg(stream).writeStream
        .outputMode("complete").format("memory").queryName("graft_ss_agg"))
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("graft_ss_agg").collect().map(_.toString).sorted
      val want = agg(batch).collect().map(_.toString).sorted
      assert(got.toSeq == want.toSeq)
      spark.catalog.dropTempView("graft_ss_agg")
    }
  }

  test("a stateful query restarted on its local checkpoint resumes from " +
    "the offsets, commits and state the seam's manager wrote") {
    withSource { (src, batch) =>
      import spark.implicits._
      val ckpt = java.nio.file.Paths.get(src).getParent.resolve("ckpt")
      def run(name: String): Seq[String] = {
        val stream = spark.readStream.schema(batch.schema).parquet(src)
        val q = StreamOps.start(spark, agg(stream).writeStream
          .outputMode("complete").format("memory").queryName(name)
          .option("checkpointLocation", ckpt.toString))
        try q.processAllAvailable() finally q.stop()
        try spark.table(name).collect().map(_.toString).sorted.toSeq
        finally spark.catalog.dropTempView(name)
      }
      run("graft_ss_run1")
      (200 until 260).map(i => (i % 7, i.toLong)).toDF("k", "v")
        .write.mode("append").parquet(src)
      val want = agg(spark.read.parquet(src)).collect().map(_.toString)
      assert(run("graft_ss_run2") == want.sorted.toSeq)
      val files = java.nio.file.Files.walk(ckpt).iterator()
      var names = Seq.empty[String]
      while (files.hasNext) names :+= files.next().getFileName.toString
      assert(names.contains("1") && names.exists(_.endsWith(".delta")),
        s"no second batch or state written: $names")
      assert(!names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
        s"Hadoop checksum sidecars written: $names")
    }
  }

  test("the checkpoint-manager conf is back to its prior value after a " +
    "normal and after a failing start()") {
    withSource { (src, batch) =>
      val stream = spark.readStream.schema(batch.schema).parquet(src)
      val prior = spark.conf.getOption(managerKey)
      try {
        spark.conf.unset(managerKey)
        val q = StreamOps.start(spark, stream.writeStream
          .format("memory").queryName("graft_ss_plain"))
        try q.processAllAvailable() finally q.stop()
        assert(spark.conf.getOption(managerKey).isEmpty)
        spark.catalog.dropTempView("graft_ss_plain")
        val custom = "org.apache.spark.sql.execution.streaming." +
          "checkpointing.FileContextBasedCheckpointFileManager"
        spark.conf.set(managerKey, custom)
        // append mode over an aggregation without a watermark: start()
        // itself throws
        intercept[org.apache.spark.sql.AnalysisException] {
          StreamOps.start(spark, agg(stream).writeStream
            .outputMode("append").format("memory").queryName("graft_ss_bad"))
        }
        assert(spark.conf.getOption(managerKey).contains(custom))
      } finally prior.fold(spark.conf.unset(managerKey))(
        spark.conf.set(managerKey, _))
    }
  }

  test("a session checkpoint location on a non-file: scheme is refused " +
    "with a clear message") {
    withSource { (src, batch) =>
      val stream = spark.readStream.schema(batch.schema).parquet(src)
      val key = "spark.sql.streaming.checkpointLocation"
      val prior = spark.conf.getOption(managerKey)
      spark.conf.set(key, "hdfs://namenode:8020/checkpoints")
      try {
        val e = intercept[IllegalArgumentException] {
          StreamOps.start(spark, stream.writeStream
            .format("memory").queryName("graft_ss_remote"))
        }
        assert(e.getMessage.contains("hdfs://namenode:8020/checkpoints") &&
          e.getMessage.contains("local checkpoint"), e.getMessage)
        assert(spark.conf.getOption(managerKey) == prior)
        assert(spark.streams.active.isEmpty)
      } finally spark.conf.unset(key)
    }
  }

  test("a foreachBatch body on a fresh session evaluates catalog " +
    "functions: the seam installs them before the query clones the session") {
    // newSession carries no temp functions and never passes through
    // Tables.registerAll, the other install seam
    val fresh = spark.newSession()
    import fresh.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ss_fn_").toString
    try {
      Seq((1L, Seq(1.0f, 2.0f), Seq(3L, 4L), Seq("a", "b", "c"), Seq("b", "c", "d")),
        (2L, Seq(0.5f, -1.0f), Seq(2L, 2L), Seq("x"), Seq("x")))
        .toDF("id", "e", "cs", "ta", "tb").write.parquet(s"$dir/src")
      val schema = fresh.read.parquet(s"$dir/src").schema
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val body: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) =>
        batch.selectExpr("id", "double_dot(e, cs)", "array_dot(e, e)",
          "token_jaccard(ta, tb)").collect().foreach(r => got.add(r.toString))
      val q = StreamOps.start(fresh,
        fresh.readStream.schema(schema).parquet(s"$dir/src")
          .writeStream.foreachBatch(body))
      try q.processAllAvailable() finally q.stop()
      assert(got.toArray.toSeq.map(_.toString).sorted ==
        Seq("[1,11.0,5.0,0.5]", "[2,-1.0,1.25,1.0]"))
    } finally ArtifactStore.deleteRecursive(dir)
  }
}
