package graft.functions

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's SQL function catalog: every kernel and UDF that graft's
  * queries call by name, installed into a session by [[install]].
  *
  * Install rule: graft installs the catalog where it first touches a
  * session, and nowhere else — `Tables.registerAll` (every gate passes
  * through it before it builds expressions) and `StreamOps.start` (a
  * streaming query's micro-batch session is a clone taken when the
  * query starts, so it inherits the catalog). Code that builds
  * expressions on a session that went through neither seam calls
  * [[install]] itself.
  *
  * Not a `SparkSessionExtensions.injectFunction` list: sessions built
  * without graft's extensions (any embedding application's, the
  * benchmark harness's) must carry the catalog too.
  */
object Functions {

  private type Builder = Seq[Expression] => Expression

  /** name → builder of the catalyst kernels; pq_encode/adc_codes bind
    * Pq's geometry (M=4, SUB=16).
    */
  private val kernels: Seq[(String, Builder)] = Seq(
    "array_dot" -> (es => ArrayDot(es.head, es(1))),
    "int_dot" -> (es => IntDot(es.head, es(1))),
    "double_dot" -> (es => DoubleDot(es.head, es(1))),
    "pq_encode" -> (es => PqEncodeExpr(es.head, es(1), 4, 16)),
    "adc_codes" -> (es => AdcCodes(es.head, es(1), es(2), 16)),
    "token_hashes_pos" -> (es => TokenHashesPos(es.head)),
    "token_hashes" -> (es => TokenHashesDistinct(es.head)),
    "char_fold" -> (es => CharFold(es.head,
      es(1).eval().asInstanceOf[Number].longValue(),
      es(2).eval().asInstanceOf[Number].longValue())),
    "token_jaccard" -> (es => TokenJaccard(es.head, es(1))),
    "token_jaccard_sorted" -> {
      case Seq(a, b) => TokenJaccardSorted(a, b)
      case exprs =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> "`token_jaccard_sorted`",
            "expectedNum" -> "2",
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
    },
    "nfc_normalize" -> (es => NfcNormalize(es.head)),
    "graft_hll" -> (es => HllAgg(es.head)))

  /** Every name the catalog installs. */
  val names: Seq[String] = kernels.map(_._1) :+ "wavg"

  /** Install into `spark` each catalog name it lacks. Idempotent, and a
    * second install replaces nothing: a stream's start on a session that
    * went through `Tables.registerAll` registers no function again.
    */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def lacks(name: String) = !reg.functionExists(FunctionIdentifier(name))
    kernels.foreach { case (name, b) =>
      if (lacks(name)) reg.createOrReplaceTempFunction(name, b, "built-in")
    }
    // a typed Aggregator: udf.register wraps it in Spark's ScalaAggregator
    if (lacks("wavg"))
      spark.udf.register("wavg", org.apache.spark.sql.functions.udaf(
        WeightedAvg.aggregator, Encoders.product[WeightedAvg.In]))
  }
}
