package graft

import org.scalatest.funsuite.AnyFunSuite

/** Focused guards for the r18 size-gated materialization helpers: both
  * sides of each gate must produce identical rows, and the above-gate
  * path must actually switch representation (scratch parquet scan
  * instead of pinned checkpoint blocks) — the property the 100 TB claim
  * rests on, which the fixture-scale sweeps never exercise.
  */
class MaterializeGateSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def readsBack(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation])

  test("Materialize.gated: parquet path above the gate, identical rows") {
    val input = Tables.documents(spark, dir)
    val frame = input.selectExpr("doc_id", "length(text) AS n")
    val below = operators.Materialize.gated(input, frame, "spec-below")
    spark.conf.set("graft.materialize.localMaxInputBytes", "0")
    try {
      val above = operators.Materialize.gated(input, frame, "spec-above")
      // representation switched: above the gate the frame is a file scan
      assert(readsBack(above),
        "above-gate materialization should read back from scratch parquet")
      assert(!readsBack(below),
        "below-gate materialization should be a checkpoint, not a parquet read-back")
      val a = above.orderBy("doc_id").collect().toSeq
      val b = below.orderBy("doc_id").collect().toSeq
      assert(a == b, "gated paths must return identical rows")
    } finally spark.conf.unset("graft.materialize.localMaxInputBytes")
  }

  test("Materialize.gated fails closed: an input whose stats throw takes the parquet path") {
    val input = org.apache.spark.sql.graft.GraftDatasetBridge.ofRows(spark,
      MaterializeGateSpec.UnsizedLeaf(Seq(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "x", org.apache.spark.sql.types.LongType)())))
    assert(scala.util.Try(input.queryExecution.optimizedPlan.stats).isFailure)
    val frame = Tables.documents(spark, dir).selectExpr("doc_id", "length(text) AS n")
    val got = operators.Materialize.gated(input, frame, "spec-unsized")
    assert(readsBack(got), "an unknown input size must not select localCheckpoint")
    assert(got.orderBy("doc_id").collect().toSeq == frame.orderBy("doc_id").collect().toSeq)
  }

  test("harmonic centrality: shuffle-join fallback above the mask gate matches") {
    val base = operators.GraphQueries.harmonicCentrality(spark, dir).collect().toSeq
    spark.conf.set("graft.graph.maskBroadcastMaxBytes", "0")
    try {
      val gated = operators.GraphQueries.harmonicCentrality(spark, dir).collect().toSeq
      assert(gated == base,
        "mask-broadcast gate must not change harmonic centrality results")
    } finally spark.conf.unset("graft.graph.maskBroadcastMaxBytes")
  }
}

object MaterializeGateSpec {
  /** A leaf whose size the optimizer cannot estimate. */
  case class UnsizedLeaf(output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
    override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
      throw new UnsupportedOperationException("no size estimate")
  }
}
