package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Observed

/** [[Observed.longOr]] reads a metric observed on an eager
  * `localCheckpoint`. The connected-components loop and
  * `q_curate_funnel` rely on the metric firing there instead of paying
  * a recount job; the recount is only the fallback for a listener that
  * never publishes. */
class ObservedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a metric observed on a localCheckpoint is read without a recount") {
    val obs = Observation()
    val ck = spark.range(1000).selectExpr("id", "id % 7 AS k")
      .observe(obs, sum(when(col("k") === 0, 1L).otherwise(0L)).as("c"))
      .localCheckpoint()
    var recounted = false
    val c = Observed.longOr(obs, "c", { recounted = true; ck })
    assert(!recounted, "the observed metric never fired")
    assert(c == ck.where(col("k") === 0).count())
    assert(c == 143L)
  }

  test("an empty observed input reads as 0") {
    val obs = Observation()
    spark.range(10).where("id < 0")
      .observe(obs, sum(col("id")).as("s")).localCheckpoint()
    var recounted = false
    assert(Observed.longOr(obs, "s", { recounted = true; spark.range(0).toDF }) == 0L)
    assert(!recounted, "the observed metric never fired")
  }
}
