package org.apache.spark.sql

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions.col

/** `assertHashPartitioned` stamps a partitioning onto a materialized
  * checkpoint; on anything else it must fail loudly rather than hand the
  * input back as if the claim had been recorded. */
class GraftSqlBridgeSpec extends SparkTestBase {

  test("assertHashPartitioned stamps hash partitioning on a checkpoint") {
    val ck = spark.range(100).toDF("b").repartition(4, col("b")).localCheckpoint()
    val pinned = GraftSqlBridge.assertHashPartitioned(ck, Seq("b"), 4)
    pinned.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.outputPartitioning
    } match {
      case Some(HashPartitioning(Seq(a), 4)) => assert(a.references.head.name == "b")
      case other => fail(s"expected hashpartitioning(b, 4), got $other")
    }
    assert(pinned.count() == 100)
    GraftSqlBridge.unpersistCheckpoint(ck)
  }

  test("assertHashPartitioned rejects a DataFrame that is not a checkpoint") {
    val df = spark.range(100).toDF("b").repartition(4, col("b"))
    intercept[IllegalArgumentException] {
      GraftSqlBridge.assertHashPartitioned(df, Seq("b"), 4)
    }
  }
}
