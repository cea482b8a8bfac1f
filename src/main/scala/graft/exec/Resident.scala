package graft.exec

import java.io.FileNotFoundException
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{CurrentCatalog, CurrentDatabase,
  CurrentDate, CurrentTime, CurrentTimeZone, CurrentTimestamp, CurrentUser,
  Expression, LocalTimestamp, Now}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** Keeps a table the bridge is asked about resident in Spark's cache from
  * the second question about it in a session, so later asks scan columnar
  * memory instead of reopening the table's parquet files (every open
  * copies the Hadoop configuration and reads the file's footer).
  *
  * Only a session that asks more than once gains: `Cli ask --questions`
  * (one session, a question per line) and any program calling
  * [[Bridge.ask]] in a loop. A one-shot `Cli ask` asks once, and its one
  * ask does no extra work: the first ask about a table only records its
  * analyzed plan — no file listing, no stat, no Hadoop configuration copy.
  *
  * The rule has no knob of its own; it is read from the inputs:
  *  - Which tables: file-backed ones only — every leaf of the analyzed
  *    plan is a `HadoopFsRelation` — whose files total at most
  *    `spark.sql.autoBroadcastJoinThreshold` bytes, the bound under which
  *    Spark already holds a table in memory to broadcast it. A table above
  *    it, or any table with the threshold at `-1`, is never held.
  *  - When: from the second ask about the same plan. That ask lists the
  *    table's input files and their (length, mtime), read with
  *    `getFileStatus` (metadata only).
  *  - Invalidation: every later ask compares the plan and re-reads the
  *    (length, mtime) of the listed files. If either changed — a replaced
  *    view, a rewritten or deleted file — the held copy is unpersisted and
  *    the count starts over, so an answer is never staler than reading the
  *    files would be.
  *
  * Side effect: the held copy is an entry of Spark's cache, which is
  * shared by every session of the SparkContext. It shows in
  * `spark.catalog.isCached`, `spark.catalog.clearCache()` drops it (the
  * next ask about an unchanged table caches it again), and it serves any
  * read of the same files in any session of that context — until the
  * asking session's next ask sees a change, a rewritten file read that way
  * still answers from the held copy. The memo itself lives as long as the
  * SparkContext: stopping the context drops it.
  *
  * Prepared answers: while the table is held, each question is run once.
  * Every ask parses and analyzes its SQL (the caller's `spark.sql`), so
  * the catalog is resolved afresh each time; [[answer]] then returns the
  * [[Runner.BoundedResult]] an earlier successful ask of the same
  * (SQL, maxRows) produced, and runs no Spark job, when all five of these
  * hold:
  *  1. the fresh analyzed plan `sameResult`s the kept one, both
  *     normalized as Spark's cache lookup normalizes (CTE ids), so a
  *     redefined view or a re-registered function forces a new run;
  *  2. the session's `getAllConfs` is unchanged;
  *  3. the cache entry the answer was read from is still the held
  *     table's live entry: `clearCache`, `unpersist` or a re-persist all
  *     force a new run, and so does a change of the table's files, which
  *     releases the copy ([[admit]] re-stats them before every ask, so a
  *     kept answer is never staler than a re-run of its plan would be);
  *  4. every leaf of the analyzed plan, subqueries and CTE bodies
  *     included, is a relation of the asked table, the only input whose
  *     files are watched here;
  *  5. no expression is nondeterministic, and none is one that Spark 4.1's
  *     `ComputeCurrentTime` or `ReplaceCurrentLike` fold to a literal per
  *     run: `current_date`, `current_time`, `current_timestamp`/`now`,
  *     `localtimestamp`, `current_timezone`, `current_database`/
  *     `current_schema`, `current_catalog`, `current_user`/`user`/
  *     `session_user`.
  * Together they say a re-run would read the same immutable cache entry
  * through the same deterministic plan under the same confs, so it would
  * return the kept rows. An answer is kept only after its run succeeded: a
  * failing question runs again on every ask. Nothing is re-run, so a kept
  * answer pins no plan, Dataset or shuffle file. Memory: at most
  * [[PreparedCap]] answers per held table, each at most `maxRows` rows
  * (fetched as `maxRows + 1`), the least recently asked dropped first;
  * they go with the table's entry (a replaced view, changed files) and
  * when the cache entry changes. A miss runs `limit(maxRows + 1)` over
  * the caller's Dataset, as [[Runner.bounded]] does; for a table that is
  * not held it adds only a lookup in this memo.
  */
object Resident {

  /** Prepared answers kept per held table entry. */
  val PreparedCap = 32

  private final class Seen(val df: DataFrame) {
    /** The table's input files and their (length, mtime), listed on the
      * second ask; None before, and for a table that is not file-backed.
      */
    var files: Option[(Seq[(FileSystem, Path)], Seq[(Long, Long)])] = None

    /** The cache entry the prepared answers were read from. */
    var entry: Option[CachedData] = None

    /** (SQL, maxRows) -> its prepared answer, least recently asked first. */
    val answers = new java.util.LinkedHashMap[(String, Int), Prepared](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), Prepared]): Boolean = size > PreparedCap
    }
  }

  /** The result of a successful run, with the analyzed plan and the
    * session confs it was run under.
    */
  private final class Prepared(
      val analyzed: LogicalPlan, val result: Runner.BoundedResult,
      val confs: Map[String, String])

  // per SparkContext, the scope of Spark's cache:
  // (session, lowercased table name) -> what the table's last ask saw
  private val contexts =
    mutable.Map.empty[SparkContext, mutable.Map[(SparkSession, String), Seen]]

  /** Times a table's input files were listed (at most once per table per
    * run of unchanged asks); specs observe the first ask's cost with it.
    */
  private[exec] val listings = new AtomicLong()

  /** Count one ask about `table`, resolved to `df`, and hold the table
    * when the rule above says so.
    */
  def admit(spark: SparkSession, table: String, df: DataFrame): Unit = synchronized {
    val seen = memo(spark.sparkContext)
    val key = (spark, table.toLowerCase(Locale.ROOT))
    val plan = df.queryExecution.analyzed
    seen.get(key) match {
      case Some(s) if s.df.queryExecution.analyzed == plan &&
          s.files.forall { case (fs, sig) => signature(fs).contains(sig) } =>
        if (s.files.isEmpty)
          s.files = inputFiles(spark, plan).flatMap(fs => signature(fs).map(fs -> _))
        val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
        s.files.foreach { case (_, sig) =>
          if (threshold >= 0 && sig.map(_._1).sum <= threshold &&
              s.df.storageLevel == StorageLevel.NONE)
            s.df.persist()
        }
      case prior =>
        prior.foreach(_.df.unpersist())
        seen(key) = new Seen(df)
    }
  }

  /** The answer to `sql` over `table`, at most `maxRows` rows: the kept
    * one when the rule above allows it, else `fresh.limit(maxRows + 1)`
    * collected, kept for the next ask when the rule allows. `fresh` is
    * `spark.sql(sql)`, already parsed and analyzed; call after [[admit]]
    * for the same ask.
    */
  def answer(spark: SparkSession, table: String, sql: String, fresh: DataFrame,
      maxRows: Int): Runner.BoundedResult = {
    // analyzed, with its CTE ids renumbered as Spark's cache lookup does
    lazy val analyzed = fresh.queryExecution.normalized
    lazy val confs = spark.sessionState.conf.getAllConfs
    val key = (sql, maxRows)
    // the table's entry and its live cache entry, when the table is held
    val held = synchronized {
      memo(spark.sparkContext).get((spark, table.toLowerCase(Locale.ROOT))).flatMap { s =>
        val live = cacheEntry(spark, s.df)
        if (!s.entry.exists(e => live.exists(_ eq e))) {
          s.answers.clear()
          s.entry = live
        }
        live.map(s -> _)
      }
    }
    held.flatMap { case (s, _) => synchronized(Option(s.answers.get(key))) }
      .filter(p => p.confs == confs && p.analyzed.sameResult(analyzed)) match {
      case Some(p) => p.result
      case None =>
        val result = Runner.fetch(fresh.limit(maxRows + 1), maxRows)
        held.filter { case (s, _) => reusable(s.df, analyzed) }.foreach {
          case (s, live) => synchronized {
            if (s.entry.exists(_ eq live)) s.answers.put(key, new Prepared(analyzed, result, confs))
          }
        }
        result
    }
  }

  /** The live cache entry holding `df`, if any. */
  private def cacheEntry(spark: SparkSession, df: DataFrame): Option[CachedData] =
    spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])

  /** Conditions 4 and 5 of the rule. */
  private def reusable(table: DataFrame, analyzed: LogicalPlan): Boolean = {
    val tableLeaves = table.queryExecution.analyzed.collectLeaves()
    val leaves = analyzed.collectWithSubqueries {
      case l: LeafNode if !l.isInstanceOf[CTERelationRef] => l
    }
    leaves.nonEmpty && leaves.forall(l => tableLeaves.exists(_.sameResult(l))) &&
      !analyzed.collectWithSubqueries { case p => p.expressions }.flatten
        .exists(_.exists(perRun))
  }

  /** An expression whose value may differ between two runs of one plan. */
  private def perRun(e: Expression): Boolean = !e.deterministic || (e match {
    case _: CurrentDate | _: CurrentTime | _: CurrentTimestamp | _: Now |
        _: LocalTimestamp | _: CurrentTimeZone | _: CurrentDatabase |
        _: CurrentCatalog | _: CurrentUser => true
    case _ => false
  })

  /** The memo of `sc`, dropped when the context stops. */
  private def memo(sc: SparkContext): mutable.Map[(SparkSession, String), Seen] =
    contexts.getOrElseUpdate(sc, {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          Resident.synchronized(contexts.remove(sc))
      })
      mutable.Map.empty
    })

  /** The files behind `plan`, when every leaf reads files. */
  private def inputFiles(spark: SparkSession, plan: LogicalPlan): Option[Seq[(FileSystem, Path)]] = {
    val leaves = plan.collectLeaves()
    val relations = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (relations.isEmpty || relations.size != leaves.size) None
    else {
      listings.incrementAndGet()
      val conf = spark.sessionState.newHadoopConf()
      Some(relations.flatMap(_.location.inputFiles).map { f =>
        val p = new Path(f)
        (p.getFileSystem(conf), p)
      })
    }
  }

  /** (length, mtime) per file; None once a file is gone. */
  private def signature(files: Seq[(FileSystem, Path)]): Option[Seq[(Long, Long)]] =
    try Some(files.map { case (fs, p) =>
      val st = fs.getFileStatus(p)
      (st.getLen, st.getModificationTime)
    })
    catch { case _: FileNotFoundException => None }
}
