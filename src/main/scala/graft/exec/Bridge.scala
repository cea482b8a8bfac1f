package graft.exec

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
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
    if (!SchemaIntrospect.tableExists(spark, table))
      return Left(Runner.ExitCodes.MissingTable)

    val df = spark.table(table)
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
      val result = Runner.execute(spark, cleaned, maxRows)
      Right(Answer(Trace(sys, usr, raw, cleaned), result))
    } catch {
      case NonFatal(_) => Left(Runner.ExitCodes.SqlError)
    }
  }

  /** Dictionary-skeleton generation entry (reference --generate-schema,
    * query_llm.py:465-470): introspect and write, skipping the LLM flow.
    */
  def generateSkeleton(spark: SparkSession, table: String, outPath: String): Int = {
    if (!SchemaIntrospect.tableExists(spark, table))
      return Runner.ExitCodes.MissingTable
    SkeletonGen.write(table, spark.table(table), outPath)
    0
  }
}
