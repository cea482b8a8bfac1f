package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata catalog: one parquet file per table under a scale-factor dir
  * (TESTDATA.md). Mirrors the reference's "open a read-only database and
  * address tables by name" model (query_llm.py:441-455) with the Spark
  * session catalog as the database.
  *
  * Views are registered once per (session, dir): at 100 TB each view is a
  * partitioned parquet dataset and re-resolving footers per query would be
  * pure overhead.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session -> currently-registered dir. Temp views are session-GLOBAL,
  // so a plain (session, dir) seen-set would skip re-registration after
  // another dir re-pointed the views and silently serve the wrong data;
  // tracking the current dir re-registers on change. Weak identity keys
  // (SparkSession doesn't override equals) rather than identityHashCode:
  // identity hashes are not unique, so two live sessions — or a GC'd one
  // reincarnated at the same hash — could collide and skip registration.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readNormalized(spark, s"$dir/$name.parquet")

  /** Read a parquet path, normalizing whatever timestamp physical layout
    * the data dir ships to session-zoned TIMESTAMP:
    *   - legacy TIMESTAMP(NANOS): read as long (nanosAsLong) and
    *     floor-divided to microseconds — the ns→µs truncation DuckDB
    *     applies, so the oracle agrees;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=0): Spark 4 loads it as
    *     TIMESTAMP_NTZ, which watermarks and the as-of operator reject —
    *     cast to TIMESTAMP. The session tz is pinned UTC in every entry
    *     point, so the cast re-labels the same micros value exactly.
    */
  def readNormalized(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path)
    val tsFixed = df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        // integer div, not double div: 2024 epoch-nanos exceed 2^53
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
    normalizeNtz(tsFixed)
  }

  /** Cast every TIMESTAMP_NTZ column to TIMESTAMP (UTC session tz pinned —
    * exact). One projection for all affected columns, applied before any
    * downstream plan, so filters on the cast columns still push to the scan
    * as micros-range predicates.
    */
  def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.toSet
    if (ntz.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (ntz(c)) col(c).cast(TimestampType).as(c) else col(c)
    }: _*)
  }

  /** Register all testdata tables as temp views (idempotent per session
    * while the dir is unchanged; re-points every view when a different dir
    * is requested).
    *
    * Also one of the two seams that install graft's SQL function catalog
    * ([[graft.functions.Functions.install]]; the other is
    * `StreamOps.start`): every gate passes through here before it builds
    * expressions, so no gate registers a function itself.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (registered.get(spark) != dir) {
      graft.functions.Functions.install(spark)
      names.foreach { n =>
        load(spark, dir, n).createOrReplaceTempView(n)
      }
      registered.put(spark, dir) // only after full success
    }
  }

  /** Load + register one table and return it. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    registerAll(spark, dir)
    spark.table(name)
  }
}
