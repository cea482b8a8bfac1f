package graft.exec

import graft.meta.{DataDictionary, SchemaIntrospect}
import graft.nl.{LlmClient, MockLlmClient}

/** CLI entry points (SURVEY.md §2.1 P20): one main with subcommands
  * replacing the reference's three scripts —
  *
  *   ask      --data <dir-or-parquet> --table T --question Q
  *            [--llm gemini|mistral] [--model M]
  *            [--schema-meta dict.json] [--max-rows N]   (query_llm.py)
  *   ask      ... --questions FILE   every line of FILE (`-`: stdin) is a
  *            question, all asked in one session; exits with the first
  *            failing question's code
  *            (a failed ask prints `ask failed at <stage>: <cause>` to
  *            stderr; the stages are those of [[Bridge.Failure]])
  *   sql      --data ... --table T --query SQL [--max-rows N] (query_db.py)
  *   describe --data ... --table T                     (describe_table.py)
  *   gen-schema --data ... --table T --schema-out F    (--generate-schema)
  *
  * `--data` points at a parquet file/directory; the table is registered as
  * a temp view, mirroring "open database read-only, address one table".
  * `ask` uses a real HTTP client when the selected provider's API key env
  * var (GEMINI_API_KEY / MISTRAL_API_KEY) is set — same provider/model/
  * default scheme as the reference (query_llm.py:427-428, 485-486) — and
  * falls back to the offline mock otherwise.
  */
object Cli {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.exec.Cli <ask|sql|describe|gen-schema> --data <path> --table <t> ...")
      sys.exit(Runner.ExitCodes.OpenError)
    }
    val cmd = args.head
    val opts = parseArgs(args.tail)
    val dataPath = opts.get("data")
    val table = opts.getOrElse("table", "queuedata")
    val maxRows = opts.get("max-rows").map(_.toInt).getOrElse(1000)

    val spark = graft.GraftSession.build(
      sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), Some("graft-cli"))

    val code =
      try {
        dataPath match {
          case Some(p) =>
            // --data may be one parquet file (registered under --table) or
            // a directory of <name>.parquet tables (each registered under
            // its own name, so sql/ask can also join the siblings)
            try {
              val f = new java.io.File(p)
              // a directory of named per-table *.parquet entries is
              // registered file-by-file — reading a heterogeneous dir as
              // ONE table would schema-merge garbage, and a typo'd --table
              // should surface as MissingTable, not a merge error. But a
              // dir whose parquet entries are Spark/Hive part-files
              // (part-00000-*.snappy.parquet) is ONE dataset: registering
              // views named after part-files would make the requested
              // --table unresolvable, so that shape falls through to the
              // whole-directory read below.
              val perTable = Option(f.listFiles()).map(_.toSeq)
                .getOrElse(Seq.empty)
                .filter(_.getName.endsWith(".parquet"))
                // only the actual Spark/Hive part-file shape is excluded
                // (part-00000-<uuid>...parquet) — a legitimate per-table
                // file that happens to start with "part-" (e.g.
                // part-suppliers.parquet) still registers as a table
                .filterNot(_.getName.matches("part-\\d{4,}-.*\\.parquet"))
              if (f.isDirectory && perTable.nonEmpty) {
                perTable.foreach { t =>
                  graft.Tables.readNormalized(spark, t.getPath)
                    .createOrReplaceTempView(t.getName.stripSuffix(".parquet"))
                }
              } else {
                graft.Tables.readNormalized(spark, p)
                  .createOrReplaceTempView(table)
              }
            } catch {
              case e: Throwable =>
                System.err.println(s"cannot open $p: ${e.getMessage}")
                sys.exit(Runner.ExitCodes.OpenError)
            }
          case None =>
            System.err.println("--data <path> is required")
            sys.exit(Runner.ExitCodes.OpenError)
        }
        cmd match {
          case "sql" =>
            Runner.executeAndDisplay(spark, opts("query"), maxRows)
          case "describe" =>
            if (!SchemaIntrospect.tableExists(spark, table))
              Runner.ExitCodes.MissingTable
            else {
              println(SchemaIntrospect.buildTableSchema(spark.table(table)))
              0
            }
          case "gen-schema" =>
            Bridge.generateSkeleton(spark, table,
              opts.getOrElse("schema-out", s"$table.schema.json"))
          case "ask" =>
            val dict = opts.get("schema-meta").map(DataDictionary.load)
              .getOrElse(DataDictionary(table = table))
            val llm = LlmClient.fromEnv(
              opts.getOrElse("llm", "gemini"), opts.get("model")) match {
              case Right(real) => real
              case Left(reason) =>
                System.err.println(s"[ask] $reason — using offline mock")
                new MockLlmClient(fallback =
                  s"SELECT * FROM $table LIMIT 10")
            }
            val questions = opts.get("questions") match {
              case Some(f) =>
                val src =
                  if (f == "-") scala.io.Source.stdin
                  else scala.io.Source.fromFile(f, "UTF-8")
                try src.getLines().map(_.trim).filter(_.nonEmpty).toList
                finally if (f != "-") src.close()
              case None => List(opts.getOrElse("question", ""))
            }
            val codes = questions.map { q =>
              if (opts.contains("questions")) println(s"Question: $q")
              Bridge.run(spark, table, q, dict, llm, maxRows = maxRows) match {
                case Right(ans) =>
                  println(s"Cleaned SQL: ${ans.trace.cleanedSql}")
                  println(Runner.format(ans.result))
                  0
                case Left(f) =>
                  System.err.println(s"ask failed at ${f.stage}: ${f.cause}")
                  f.exitCode
              }
            }
            codes.find(_ != 0).getOrElse(0)
          case other =>
            System.err.println(s"unknown command: $other")
            Runner.ExitCodes.OpenError
        }
      } finally spark.stop()
    sys.exit(code)
  }
}
