package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.control.NonFatal

/** SQL execution + bounded display (SURVEY.md §2.1 P18; reference
  * query_llm.py:397-412, query_db.py:20-51): run a statement, fetch at
  * most maxRows+1 rows (the +1 detects truncation without counting the
  * whole result), and format a header/separator table.
  *
  * Scale note: the ONLY driver-side materialization in the engine is this
  * bounded collect — `limit(n+1)` plans as CollectLimit, so a SELECT over
  * 100 TB still ships ≤ n+1 rows to the driver.
  */
object Runner {

  /** Exit-code contract, matching the reference: 1 = open/bootstrap error,
    * 2 = missing table, 3 = LLM error, 4 = SQL error
    * (query_llm.py:446,455,475,489; query_db.py:68,73,51).
    */
  object ExitCodes {
    val OpenError = 1
    val MissingTable = 2
    val LlmError = 3
    val SqlError = 4
  }

  final case class BoundedResult(
      columns: Seq[String],
      rows: Seq[Row],
      truncated: Boolean,
      totalFetched: Int)

  /** Execute SQL and fetch a bounded result. */
  def execute(spark: SparkSession, sql: String, maxRows: Int = 1000): BoundedResult = {
    val df = spark.sql(sql)
    bounded(df, maxRows)
  }

  def bounded(df: DataFrame, maxRows: Int): BoundedResult =
    fetch(df.limit(maxRows + 1), maxRows)

  /** Collect `limited`, a Dataset already limited to maxRows + 1 rows. */
  def fetch(limited: DataFrame, maxRows: Int): BoundedResult = {
    val fetched = limited.collect().toSeq
    val truncated = fetched.length > maxRows
    BoundedResult(limited.columns.toSeq, fetched.take(maxRows), truncated,
      fetched.length)
  }

  /** Plain-text table: header, dash separator, one line per row, plus a
    * truncation note — the reference's fallback printer shape
    * (query_db.py:36-48).
    */
  def format(r: BoundedResult): String = {
    def cell(v: Any): String = if (v == null) "NULL" else v.toString
    val rows = r.rows.map(_.toSeq.map(cell))
    val widths = r.columns.indices.map { i =>
      (r.columns(i).length +: rows.map(_(i).length)).max
    }
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString(" | ")
    val sb = new StringBuilder
    sb.append(line(r.columns)).append('\n')
    sb.append(widths.map("-" * _).mkString("-+-")).append('\n')
    rows.foreach(row => sb.append(line(row)).append('\n'))
    sb.append(s"(${r.rows.length} row${if (r.rows.length == 1) "" else "s"}")
    if (r.truncated) sb.append(", truncated")
    sb.append(")\n")
    sb.toString
  }

  /** Execute and print; returns an exit code instead of calling exit so
    * callers (tests, the CLI main) decide process fate.
    */
  def executeAndDisplay(
      spark: SparkSession,
      sql: String,
      maxRows: Int = 1000,
      out: String => Unit = println): Int =
    try {
      out(format(execute(spark, sql, maxRows)))
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"SQL error: ${e.getMessage}")
        ExitCodes.SqlError
    }
}
