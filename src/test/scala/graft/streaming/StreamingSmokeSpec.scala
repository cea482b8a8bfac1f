package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage for the watermark-bearing streaming gates on the
  * testdata AS SHIPPED by the driver. Round 5 lost six streaming gates
  * (and q76 as-of) to a testdata layout change — TIMESTAMP(MICROS,
  * isAdjustedToUTC=0) loads as TIMESTAMP_NTZ, which watermarks reject
  * with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — and no unit test touched
  * that path, so the breakage was only visible in driver artifacts.
  * This spec runs one watermark aggregation (q55) and one stream-stream
  * join (q115) end-to-end on sf0.001, plus asserts the load-time
  * normalization invariant they depend on, and holds the stateful
  * pipeline (q199) above a throughput floor.
  */
class StreamingSmokeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def available: Boolean =
    new java.io.File(dir, "events.parquet").exists()

  test("events.ts loads as session-zoned TIMESTAMP whatever the parquet layout") {
    val events = graft.Tables.table(spark, dir, "events")
    assert(events.schema("ts").dataType == TimestampType,
      s"ts must normalize to TIMESTAMP, got ${events.schema("ts").dataType}")
  }

  test("q55 watermark tumbling window runs on the shipped events layout") {
    val df = graft.SparkEntry.queries("q55_stream_tumbling")(spark, dir)
    assert(df.count() > 0)
  }

  test("q115 stream-stream join runs on the shipped events layout") {
    val df = graft.SparkEntry.queries("q115_stream_stream_join")(spark, dir)
    assert(df.count() > 0)
  }

  test("q199: stateful-streaming throughput stays above the floor") {
    assume(available, s"$dir absent — skipping")
    val events = graft.Tables.table(spark, dir, "events").count()
    val t0 = System.nanoTime()
    val r = graft.SparkEntry.queries("q199_stream_throughput")(spark, dir)
      .collect().head
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.getLong(1) == events, "pipeline dropped events")
    // non-regression floor, deliberately generous (sf0.001 wall time is
    // dominated by micro-batch bootstrap): catches a 100x throughput
    // regression (e.g. state store thrash, per-row commit), never flakes
    // on scheduler noise. SCALE.md records the real rows/s at sf1.
    val rowsPerSec = events / sec
    assert(rowsPerSec > 25,
      f"transformWithState throughput $rowsPerSec%.0f rows/s < 25 floor")
  }
}
