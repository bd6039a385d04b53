package graft

import org.scalatest.funsuite.AnyFunSuite

/** The input-rebalance gate (Tables.rebalanced) must fire ONLY for the
  * fixture shape it exists for — small local single-file fact tables — and
  * never change dimension or warehouse-scale plans. */
class TablesSpec extends SparkSpec {

  private def parts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("fact tables at bench scale spread across cores") {
    val p = parts(Tables.events(spark, "/root/testdata/sf0.1"))
    assert(p > 1, s"events sf0.1 should rebalance, got $p partition(s)")
  }

  test("dimension tables never rebalance (broadcast-destined)") {
    Seq("nation", "region", "customer", "supplier", "part").foreach { t =>
      val p = parts(Tables.table(spark, "/root/testdata/sf0.1", t))
      assert(p === 1, s"dim $t must keep its raw scan, got $p partitions")
    }
  }

  test("tiny fixtures stay under the gate (plan-shape tests see raw scans)") {
    val p = parts(Tables.events(spark, "/root/testdata/sf0.001"))
    assert(p === 1)
  }
}
