package graft.exec

import java.io.FileNotFoundException
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
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
  */
object Resident {

  private final class Seen(val df: DataFrame) {
    /** The table's input files and their (length, mtime), listed on the
      * second ask; None before, and for a table that is not file-backed.
      */
    var files: Option[(Seq[(FileSystem, Path)], Seq[(Long, Long)])] = None
  }

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
