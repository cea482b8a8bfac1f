package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ArrayDot equals the HOF fold bit-for-bit (codegen path)") {
    import spark.implicits._
    Functions.install(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(64)(
      (Array.fill(64)(rnd.nextFloat() - 0.5f),
        Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val got = df.selectExpr(
      "array_dot(a, b) AS dot",
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS fold").collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact
  }

  test("ArrayDot interpreted eval matches codegen") {
    import spark.implicits._
    Functions.install(spark)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
        .toDF("a", "b")
      val v = df.selectExpr("array_dot(a, b)").head().getDouble(0)
      assert(v == (4.0 + 10.0 + 18.0))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("ArrayDot mixed float/double arrays") {
    import spark.implicits._
    Functions.install(spark)
    val df = Seq((Array(1.0f, 2.0f), Array(0.5, 0.25))).toDF("a", "b")
    assert(df.selectExpr("array_dot(a, b)").head().getDouble(0) == 1.0)
  }

  test("ArrayDot rejects non-numeric-array inputs at analysis") {
    import spark.implicits._
    Functions.install(spark)
    val df = Seq((Array("x"), Array(1.0f))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("array_dot(a, b)").collect()
    }
  }

  test("WeightedAvg merges partials exactly across partitionings") {
    import spark.implicits._
    Functions.install(spark)
    val rows = (1 to 1000).map(i => (i * 0.01 + 100.0, (i % 7 + 1).toDouble))
    val expected = {
      val num = rows.map { case (p, w) =>
        math.round(p * 100) * math.round(w)
      }.sum
      val den = rows.map(r => math.round(r._2)).sum
      math.rint(num.toDouble / 100.0 / den * 1e6) / 1e6
    }
    for (parts <- Seq(1, 3, 13)) {
      val got = rows.toDF("p", "w").repartition(parts)
        .selectExpr("wavg(p, w) AS v").head().getDouble(0)
      assert(got == expected, s"parts=$parts")
    }
  }

  test("token_jaccard_sorted wrong arity raises a readable analysis error") {
    Functions.install(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT token_jaccard_sorted(array('a'))").collect()
    }
    assert(e.getMessage.contains("token_jaccard_sorted"))
    assert(e.getMessage.contains("2"))
  }

  test("install puts the whole catalog on a fresh session, idempotently") {
    val fresh = spark.newSession()
    assert(Functions.names.size == 13)
    assert(Functions.names.forall(n => !fresh.catalog.functionExists(n)))
    Functions.install(fresh)
    Functions.install(fresh)
    assert(Functions.names.forall(n => fresh.catalog.functionExists(n)))
  }

  test("a second install replaces nothing") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    def entries = Functions.names.map { n =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(n)
      (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
    }
    Functions.install(fresh)
    val first = entries
    Functions.install(fresh)
    entries.zip(first).zip(Functions.names).foreach {
      case (((info, builder), (info0, builder0)), n) =>
        assert((info eq info0) && (builder eq builder0), s"$n was replaced")
    }
  }
}
