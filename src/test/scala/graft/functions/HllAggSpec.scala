package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HllAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("estimate within 5% of exact across partitionings, and stable") {
    import spark.implicits._
    Functions.install(spark)
    val n = 50000
    val df = (1 to n).map(i => i.toLong * 7919).toDF("v")
    var prev: Option[Long] = None
    for (parts <- Seq(1, 4, 17)) {
      val est = df.repartition(parts).selectExpr("graft_hll(v) AS e")
        .head().getLong(0)
      assert(math.abs(est - n).toDouble / n < 0.05, s"est=$est parts=$parts")
      // partial merges must be order/partitioning-independent
      prev.foreach(p => assert(p == est, s"estimate changed across partitionings"))
      prev = Some(est)
    }
  }

  test("small cardinalities are exact via linear counting") {
    import spark.implicits._
    Functions.install(spark)
    val df = Seq("a", "b", "c", "a", "b", "a").toDF("s")
    assert(df.selectExpr("graft_hll(s)").head().getLong(0) == 3L)
  }

  test("sketch buffers merge associatively") {
    val r1 = new Array[Byte](Hll.M)
    val r2 = new Array[Byte](Hll.M)
    val r12 = new Array[Byte](Hll.M)
    (1L to 1000L).foreach(i => { Hll.add(r1, Hll.hash64(i)); Hll.add(r12, Hll.hash64(i)) })
    (500L to 1500L).foreach(i => { Hll.add(r2, Hll.hash64(i)); Hll.add(r12, Hll.hash64(i)) })
    Hll.merge(r1, r2)
    assert(r1.toSeq == r12.toSeq) // merged == built-from-union
  }
}
