package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional args 3..n: query-name filter, comma- or space-separated
    // (local tooling; the driver always calls with two args = full
    // dump). Unknown names fail loud — a typo'd filter silently
    // verifying nothing looks like a pass.
    val only = args.drop(2).flatMap(_.split(",")).filter(_.nonEmpty) match {
      case Array() => None
      case names   => Some(names.toSet)
    }
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the same session as Bench, so correctness runs exercise the exact
    // plans the bench times
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    // retention sweep: UUID-suffixed tempRoot scratch from previous runs
    // (round-14 verdict, "What's missing 3") — and this run's own on exit
    graft.ops.ArtifactStore.gcScratch()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[(String, String)]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += ((name, String.valueOf(e.getMessage)))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a thrown query writes NO parquet and would otherwise be silently
    // ABSENT from the correctness compare (round 5 lost 7 gates that
    // way) — record the failures as a first-class artifact
    val failJson = failed
      .map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failJson)
    graft.ops.ArtifactStore.gcScratch(includeOwn = true)
    spark.stop()
  }
}
