package graft.ops

import java.util.concurrent.atomic.AtomicInteger
import java.nio.file.{Files, LinkOption, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import graft.Tables

/** Structured Streaming surface (SURVEY.md §2.3 E12): tumbling windows
  * with watermarks, session windows, and stateful streaming dedup, driven
  * by replaying the events parquet as a file stream.
  *
  * Each query runs a real streaming query to a memory sink synchronously
  * ([[runToMemory]]) and returns the sink table — so the driver's
  * batch-shaped Verify harness can hash it against a DuckDB batch oracle.
  * Watermark-0 append mode emits exactly the windows whose end has been
  * passed by the max event time; the oracle filters identically.
  *
  * Scale: windowed aggregation state is per (window, key) and evicted at
  * the watermark — bounded memory regardless of stream length; session
  * windows merge in-state; dedup state holds one entry per key within the
  * watermark horizon.
  *
  * The file-stream kit — the one path every streaming gate of the
  * repository takes from files to a drained query:
  *  - SOURCE: [[fileStream]] streams a testdata table. The data dirs
  *    ship a table as one parquet FILE, which a file-stream source
  *    cannot read, so the file is exposed through a symlink in a
  *    scratch dir (a multi-file table dir is streamed as it is).
  *  - STAGE: [[stagedSource]] writes an arrival model — each part one
  *    parquet file, strictly increasing mtimes — and streams it one file
  *    per trigger, so the parts arrive as micro-batches in order.
  *  - FOLD: [[foldBatches]] starts the query through [[start]] and hands
  *    every non-empty micro-batch to the gate's fold, which writes the
  *    batch's output under `out` (a batchId-keyed dir with overwrite, so
  *    a replayed batch replaces instead of appending).
  *  - DRAIN: `processAllAvailable` can race the file source's first
  *    listing (a trigger that ran before discovery saw no files and
  *    released the wait), so [[foldBatches]] re-processes until `out`
  *    holds batch output, bounded at 10 s, and then stops the query.
  *    The drain probe counts only batch output: entries whose names
  *    start with `_` or `.` (a build lock, a marker, `_SUCCESS`, checksum
  *    shadows) never end a drain.
  * Sinks and staged sources live in deterministic [[scratchDir]]s,
  * wiped at the start of each execution, so repeated executions never
  * accumulate files.
  *
  * Checkpoints: every streaming query of the repository starts through
  * [[start]], which pins [[LocalCheckpointFileManager]] (Spark's
  * `FileSystemBasedCheckpointFileManager` with java.nio writes) in
  * place of Spark's default `FileContext`-based manager. On the local
  * filesystem without the native Hadoop library, the `FileContext`
  * path forks a `readlink` on every rename and a `chmod` on every
  * create or mkdir: 236 forks in one warm q91 execution at sf0.1.
  * Spark's `FileSystem` manager alone removes the `readlink`s (60
  * `chmod`s left); its java.nio writes remove those too, so q91, q55,
  * q57 and the stream joins start and commit with no fork
  * (`tools/shellforks.sh` counts them per gate). Spark's checkpoint
  * checksum files stay on. The bound: a commit is a temp file renamed
  * over its target, atomic only on a local disk, so [[start]] serves
  * Spark's local temp checkpoint (under `java.io.tmpdir`) or a `file:`
  * session checkpoint location, and refuses any other scheme.
  */
object StreamOps {

  private val sinkId = new AtomicInteger(0)

  /** Deterministic scratch root `name` under the artifact base, emptied
    * ([[ArtifactStore.clearRoot]]) — the re-runnable alternative to a
    * temp dir per execution.
    */
  private[ops] def scratchDir(name: String): String = {
    val p = ArtifactStore.root(name)
    ArtifactStore.clearRoot(p)
    p
  }

  /** File-stream source over `<dir>/<table>.parquet` with the table's
    * own schema (file streams need an explicit one).
    *
    * The source requires a DIRECTORY of data files. A Spark-written
    * dataset (e.g. the ScaleGen slope-measurement dirs) IS one and is
    * streamed directly; the source does not recurse through a
    * symlinked subdirectory, so routing a dataset dir through the
    * symlink would silently stream ZERO files. A single FILE is exposed
    * through a symlink in a scratch dir. Deliberately java.nio, not
    * [[ArtifactStore]]: this is a local testdata shim (symlinks have no
    * Hadoop-FS equivalent); a cluster deployment streams real
    * multi-file directories and never takes this branch.
    */
  private[ops] def fileStream(
      spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val target = Paths.get(path)
    val sourceDir =
      if (Files.isDirectory(target)) path
      else {
        val streamDir = Paths.get(sys.props("java.io.tmpdir"),
          s"graft_stream_${table}_${VecIndex.dirDigest(dir)}")
        Files.createDirectories(streamDir)
        val link = streamDir.resolve(s"$table.parquet")
        // NOFOLLOW: a broken symlink (testdata dir moved/recreated)
        // reports !exists under the default follow semantics, and
        // createSymbolicLink would then throw FileAlreadyExists. A stale
        // link whose target differs is re-pointed (scratch dirs persist
        // across runs).
        if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) &&
          (!Files.isSymbolicLink(link) ||
            Files.readSymbolicLink(link) != target))
          Files.delete(link)
        if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, target)
        streamDir.toString
      }
    val schema = ArtifactStore.readParquet(spark, path).schema
    spark.readStream.schema(schema).parquet(sourceDir)
  }

  /** [[fileStream]] over the events parquet with the same ns→µs
    * normalization as Tables.load.
    */
  private[ops] def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val st = fileStream(spark, dir, "events")
    st.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        st.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // µs-NTZ layout: watermarks reject TIMESTAMP_NTZ; UTC session tz
        // is pinned, so the cast re-labels the same micros value exactly
        st.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => st
    }
  }

  /** Stage `parts` as the arrival model of a file stream: part i is
    * written as the one file `<scratchDir(name)>/w<ii>.parquet` with an
    * mtime strictly after part i-1's, and the returned stream (schema:
    * the parts' own) reads one file per trigger — so part i is
    * micro-batch i, whatever the listing order.
    */
  private[ops] def stagedSource(spark: SparkSession, name: String,
      parts: Seq[DataFrame]): DataFrame = {
    val src = scratchDir(name)
    parts.zipWithIndex.foreach { case (part, i) =>
      val stage = s"$src/_stage$i"
      part.coalesce(1).write.mode("overwrite").parquet(stage)
      val file = ArtifactStore.listEntries(stage)
        .find(_.endsWith(".parquet")).get
      val dst = f"$src/w$i%02d.parquet"
      ArtifactStore.move(s"$stage/$file", dst)
      ArtifactStore.setMtime(dst, 1000000000000L + i * 60000L)
      ArtifactStore.deleteRecursive(stage)
    }
    spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
  }

  /** Run `stream` through `fold` and drain it (the FOLD and DRAIN steps
    * of the object doc): `fold(batch, batchId)` sees every non-empty
    * micro-batch and writes its output under `out`; returns once `out`
    * holds batch output and the source is drained, with the query
    * stopped. Throws when no batch output appears within the bound
    * (the gates' sources are never empty).
    */
  private[ops] def foldBatches(spark: SparkSession, stream: DataFrame,
      out: String, mode: String = "append")(
      fold: (DataFrame, Long) => Unit): Unit = {
    val q = start(spark, stream.writeStream.outputMode(mode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) fold(batch, batchId)
      })
    def holdsOutput = ArtifactStore.listEntries(out)
      .exists(n => !n.startsWith("_") && !n.startsWith("."))
    try {
      q.processAllAvailable()
      var tries = 0
      while (tries < 40 && !holdsOutput) {
        Thread.sleep(250); q.processAllAvailable(); tries += 1
      }
      if (!holdsOutput)
        throw new IllegalStateException(
          s"stream drain wrote no batch to $out after $tries retries" +
            " — file-source discovery race persisted past 10s (or the" +
            " source is genuinely empty, which these gates never are)")
    } finally q.stop()
  }

  /** Set `confs` on `spark` for the duration of `body`, then restore
    * each key's prior value — unsetting a key that was unset, also when
    * `body` throws. Streaming confs bind when the streaming frame is
    * built, not at start(), so the scope covers construction AND start.
    */
  private[ops] def withConf[T](spark: SparkSession,
      confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `spark.sql.shuffle.partitions` sized to the streaming state volume:
    * every state store pays a per-batch commit per partition, so sizing
    * it to the keyed-state volume instead of the batch session default
    * is the state-store sizing knob at cluster scale too.
    */
  private[ops] val stateParts: (String, String) =
    "spark.sql.shuffle.partitions" -> "8"

  /** The RocksDB state store provider (state off-heap, spilling to
    * local disk).
    */
  private[ops] val rocksDbState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val CheckpointManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** The ONE `writeStream...start()` of the repository: `w.start()` with
    * [[LocalCheckpointFileManager]] pinned for the query (the
    * checkpoint-manager choice in the object doc). The
    * query clones the session conf inside `start()`, but its file
    * sources build their offset logs from the caller's session on the
    * stream thread, so the pin is held until the query has initialized
    * its sources; the previous value is restored afterwards, also when
    * `start()` throws. Refuses a session
    * `spark.sql.streaming.checkpointLocation` on a non-`file:` scheme:
    * the pinned manager's commit is only atomic where rename(2) is.
    *
    * Installs graft's SQL function catalog
    * ([[graft.functions.Functions.install]]) on `spark` first: the query
    * runs every micro-batch on a clone of the session taken when it
    * starts, so a `foreachBatch` body can call any catalog function
    * without registering it, whether or not `spark` went through
    * `Tables.registerAll` (the other install seam).
    */
  private[ops] def start[T](
      spark: SparkSession, w: DataStreamWriter[T]): StreamingQuery = {
    spark.conf.getOption("spark.sql.streaming.checkpointLocation")
      .foreach { loc =>
        val scheme = new Path(loc).toUri.getScheme
        require(scheme == null || scheme == "file",
          "StreamOps.start needs a local checkpoint (its checkpoint " +
            "manager commits by rename on the local filesystem), but " +
            s"spark.sql.streaming.checkpointLocation is $loc — unset it " +
            "to use Spark's local temp checkpoint")
      }
    graft.functions.Functions.install(spark)
    // serialized: two overlapping starts would restore each other's pin
    synchronized {
      withConf(spark,
          CheckpointManagerKey -> classOf[LocalCheckpointFileManager].getName) {
        val q = w.start()
        q match {
          case running: StreamingQueryWrapper =>
            running.streamingQuery.awaitInitialization(60000L)
          case _ =>
        }
        q
      }
    }
  }

  /** Run a streaming DF to a memory sink until drained; return the sink. */
  private[ops] def runToMemory(
      spark: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${sinkId.incrementAndGet()}"
    val q = start(spark,
      df.writeStream.outputMode(mode).format("memory").queryName(name))
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  val queries: Seq[Q] = Seq(
    // E12: tumbling 1-hour windows + watermark, append mode. Only windows
    // fully passed by the watermark (max event time, delay 0) are emitted;
    // the oracle applies the same cutoff.
    Q(
      "q55_stream_tumbling",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
        |      <= (SELECT MAX(ts) FROM events)
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      withConf(s, stateParts) {
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
      runToMemory(s, agg, "append")
        .orderBy(col("window_start"), col("event_type"))
      }
    },

    // E12: session windows (6-hour inactivity gap) per user — batch-mode
    // session_window vs DuckDB gaps-and-islands. Spark's session end is
    // last-event + gap; the oracle reproduces that.
    Q(
      "q56_session_window",
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL '6 hours'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WHERE user_id < 20
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '6 hours' AS session_end, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "events")
        .filter(col("user_id") < 20)
        .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // E12: stateful streaming dedup — first occurrence per
    // (user_id, event_type) within the watermark horizon. Projecting only
    // the key makes the emitted set deterministic: exactly DISTINCT keys.
    Q(
      "q57_stream_dedup",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      withConf(s, stateParts) {
      val dedup = eventsStream(s, dir)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      runToMemory(s, dedup, "append")
        .orderBy(col("user_id"), col("event_type"))
      }
    })
}

/** Spark's `FileSystemBasedCheckpointFileManager` with its two writes
  * on a local checkpoint — the temp file an atomic create renames into
  * place, and mkdirs — done through java.nio. Hadoop's local filesystem
  * follows every create and mkdir with a forked `chmod` when the native
  * library is missing, and its checksum wrapper repeats that for the
  * `.crc` sidecar of each file. java.nio creates with the same umask
  * permissions and no sidecar (reads do not require one). Reads,
  * listing, the commit rename and deletes stay Spark's, as does every
  * operation on a non-local path.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {

  private def nio(p: Path) = Paths.get(fs.makeQualified(p).toUri)

  override def mkdirs(p: Path): Unit =
    if (isLocal) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else {
      val f = nio(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(
        new java.io.BufferedOutputStream(Files.newOutputStream(f)), null)
    }
}
