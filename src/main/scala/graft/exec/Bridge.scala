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
  * Every ask parses and analyzes the repaired SQL afresh, and it is run
  * only through [[Resident.answer]]: while the table is held, a repeat of
  * the same SQL and `maxRows` returns the result its earlier successful
  * ask produced and runs no Spark job. Reuse needs five conditions: the
  * same analyzed result, the same session confs, the same live cache
  * entry, only the asked table's relations as leaves, and no
  * nondeterministic or per-run folded expression (`rand()`,
  * `current_timestamp()`, ...). At most [[Resident.PreparedCap]] answers
  * of at most `maxRows` rows are kept per held table, and they go with
  * it; a kept answer holds no plan, so no shuffle files stay pinned. A
  * miss is exactly `spark.sql(sql).limit(n + 1)` collected, as
  * [[Runner.execute]] does. A failed ask is never kept: [[run]] reports
  * it as a [[Failure]] naming its stage and cause.
  */
object Bridge {

  final case class Trace(
      systemPrompt: String,
      userPrompt: String,
      rawLlm: String,
      cleanedSql: String)

  final case class Answer(trace: Trace, result: Runner.BoundedResult)

  /** Why an ask failed: the stage that threw — `resolve` (the table),
    * `llm`, `analyze` (parse and analysis of the repaired SQL) or `run` —
    * the reference's exit code for it ([[Runner.ExitCodes]]) and the
    * exception.
    */
  final case class Failure(stage: String, exitCode: Int, cause: Throwable)

  /** [[run]], with a failure as its exit code. */
  def ask(
      spark: SparkSession,
      table: String,
      question: String,
      dict: DataDictionary,
      llm: LlmClient,
      topK: Int = 12,
      maxRows: Int = 1000): Either[Int, Answer] =
    run(spark, table, question, dict, llm, topK, maxRows).left.map(_.exitCode)

  /** Ask `question` about `table`: the answer and its trace, or the stage
    * that failed and why. A table name that does not parse throws, as
    * `tableExists` does.
    */
  def run(
      spark: SparkSession,
      table: String,
      question: String,
      dict: DataDictionary,
      llm: LlmClient,
      topK: Int = 12,
      maxRows: Int = 1000): Either[Failure, Answer] = {
    val df = resolve(spark, table) match {
      case Right(df) => df
      case Left(e) => return Left(Failure("resolve", Runner.ExitCodes.MissingTable, e))
    }
    Resident.admit(spark, table, df)
    val ddl = SchemaIntrospect.buildTableSchema(df)
    val ctx = ContextSelect.selectRelevantContext(question, dict, topK)
    val sys = Prompt.system(table, ddl, ContextSelect.render(ctx))
    val usr = Prompt.user(question)

    val raw =
      try llm.complete(sys, usr)
      catch { case NonFatal(e) => return Left(Failure("llm", Runner.ExitCodes.LlmError, e)) }

    val cleaned =
      SqlRepair.repair(raw, dict, SchemaIntrospect.listColumns(df))
    val fresh =
      try spark.sql(cleaned)
      catch { case NonFatal(e) => return Left(Failure("analyze", Runner.ExitCodes.SqlError, e)) }
    try Right(Answer(Trace(sys, usr, raw, cleaned),
      Resident.answer(spark, table, cleaned, fresh, maxRows)))
    catch { case NonFatal(e) => Left(Failure("run", Runner.ExitCodes.SqlError, e)) }
  }

  /** Dictionary-skeleton generation entry (reference --generate-schema,
    * query_llm.py:465-470): introspect and write, skipping the LLM flow.
    */
  def generateSkeleton(spark: SparkSession, table: String, outPath: String): Int =
    resolve(spark, table) match {
      case Right(df) => SkeletonGen.write(table, df, outPath); 0
      case Left(_) => Runner.ExitCodes.MissingTable
    }

  /** `spark.table`, with Spark's TABLE_OR_VIEW_NOT_FOUND as Left: one
    * catalog resolution, case-insensitive like `tableExists`. Any other
    * failure propagates, as `tableExists`' did — a malformed name still
    * fails to parse.
    */
  private def resolve(spark: SparkSession, table: String): Either[AnalysisException, DataFrame] =
    try Right(spark.table(table))
    catch {
      case e: AnalysisException if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => Left(e)
    }
}
