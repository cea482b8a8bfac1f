package graft.exec

import scala.util.control.NonFatal
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import graft.meta.{DataDictionary, SchemaIntrospect, SkeletonGen}
import graft.nl.{ContextSelect, LlmClient, Prompt}
import graft.repair.SqlRepair

/** The end-to-end NL→SQL bridge (reference query_llm.py:419-506 lifecycle,
  * SURVEY.md §3.1): validate table → introspect schema → select dictionary
  * context → render prompt → LLM → fence-strip → canonicalize → repair →
  * execute bounded.
  *
  * All stages run on the driver; only the final `spark.sql` fans out to
  * executors. The LLM client is injected (offline mock for tests).
  *
  * The table is resolved once per ask, and [[Resident]] sees every ask:
  * from the second question about a small file-backed table in a session
  * (files within `spark.sql.autoBroadcastJoinThreshold`), that table is
  * held in Spark's cache — shared by every session of the SparkContext —
  * and released when the table's plan or files change; a session's first
  * ask does no extra work. See [[Resident]] for the rule.
  *
  * The repaired SQL is planned and run only through [[Resident.plan]]:
  * every ask parses and analyzes it afresh, and while the table is held,
  * a repeat of the same SQL and `maxRows` runs the `limit(maxRows + 1)`
  * plan its earlier ask already optimized and planned. Reuse needs five
  * conditions: the same analyzed result, the same session confs, the same
  * live cache entry, only the asked table's relations as leaves, and no
  * nondeterministic or per-run folded expression (`rand()`,
  * `current_timestamp()`, ...). At most [[Resident.PreparedCap]] plans
  * are kept per table. A miss is exactly `spark.sql(sql).limit(n + 1)`
  * collected, as [[Runner.execute]] does.
  */
object Bridge {

  final case class Trace(
      systemPrompt: String,
      userPrompt: String,
      rawLlm: String,
      cleanedSql: String)

  final case class Answer(trace: Trace, result: Runner.BoundedResult)

  def ask(
      spark: SparkSession,
      table: String,
      question: String,
      dict: DataDictionary,
      llm: LlmClient,
      topK: Int = 12,
      maxRows: Int = 1000): Either[Int, Answer] = {
    val df = resolve(spark, table) match {
      case Some(df) => df
      case None => return Left(Runner.ExitCodes.MissingTable)
    }
    Resident.admit(spark, table, df)
    val ddl = SchemaIntrospect.buildTableSchema(df)
    val ctx = ContextSelect.selectRelevantContext(question, dict, topK)
    val sys = Prompt.system(table, ddl, ContextSelect.render(ctx))
    val usr = Prompt.user(question)

    val raw =
      try llm.complete(sys, usr)
      catch { case NonFatal(_) => return Left(Runner.ExitCodes.LlmError) }

    val cleaned =
      SqlRepair.repair(raw, dict, SchemaIntrospect.listColumns(df))
    try {
      val result = Resident.plan(spark, table, cleaned, maxRows)(Runner.fetch(_, maxRows))
      Right(Answer(Trace(sys, usr, raw, cleaned), result))
    } catch {
      case NonFatal(_) => Left(Runner.ExitCodes.SqlError)
    }
  }

  /** Dictionary-skeleton generation entry (reference --generate-schema,
    * query_llm.py:465-470): introspect and write, skipping the LLM flow.
    */
  def generateSkeleton(spark: SparkSession, table: String, outPath: String): Int =
    resolve(spark, table) match {
      case Some(df) => SkeletonGen.write(table, df, outPath); 0
      case None => Runner.ExitCodes.MissingTable
    }

  /** `spark.table`, with Spark's TABLE_OR_VIEW_NOT_FOUND as None: one
    * catalog resolution, case-insensitive like `tableExists`. Any other
    * failure propagates, as `tableExists`' did — a malformed name still
    * fails to parse.
    */
  private def resolve(spark: SparkSession, table: String): Option[DataFrame] =
    try Some(spark.table(table))
    catch {
      case e: AnalysisException if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => None
    }
}
