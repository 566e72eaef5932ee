package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.TestSpark

/** dd_components' convergence signal: a NULL label sum means zero only for
  * an empty frame; over rows it is a DECIMAL overflow, which must fail
  * rather than compare equal to another overflowed state.
  */
class LabelSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("labelSum: exact sum over rows, zero over an empty frame") {
    assert(DedupQueries.labelSum(Seq(1L, 2L, 4L).toDF("component")) ==
      new java.math.BigDecimal(7))
    assert(DedupQueries.labelSum(Seq.empty[Long].toDF("component")) ==
      java.math.BigDecimal.ZERO)
  }

  test("labelSum: a NULL sum over a non-empty frame (DECIMAL overflow) fails") {
    // non-ANSI: decimal sum overflow yields NULL instead of an error
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    val big = lax.range(2).select(
      lit(new java.math.BigDecimal("9" * 38)).cast(DecimalType(38, 0)).as("component"))
    val err = intercept[IllegalArgumentException](DedupQueries.labelSum(big))
    assert(err.getMessage.contains("non-empty"))
  }
}
