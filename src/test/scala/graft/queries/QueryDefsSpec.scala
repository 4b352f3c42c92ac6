package graft.queries

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class QueryDefsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("oracleHugeint: below 2^53 casts exactly, 2^53 fails naming the column") {
    import spark.implicits._
    val below = (1L << 53) - 1
    val ok = QueryDefs.oracleHugeint(Seq(below, -below).toDF("n_big"), "n_big")
    assert(ok.as[Double].collect().map(_.toLong).toSeq == Seq(below, -below))
    val err = intercept[Exception](
      QueryDefs.oracleHugeint(Seq(1L << 53).toDF("n_big"), "n_big").collect())
    assert(err.getMessage.contains("column n_big"), err.getMessage)
  }
}
