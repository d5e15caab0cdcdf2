package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pins

/** The one pin mechanism under the suite's local master: a
  * `localCheckpoint` with one block copy, whose blocks die with their
  * executor (lineage is severed — the read is unrecoverable). Block
  * loss is simulated the way an executor loss manifests to the block
  * manager: the pinned RDD's blocks are dropped (unpersist) after
  * materialization. ExecutorLossSpec covers the replicated level a
  * cluster master gets. */
class PinsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** The RDD actually backing a pinned frame (the LogicalRDD the pin
    * produced), so the test drops the REAL blocks, not a re-derived
    * copy. */
  private def backingRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"pin did not produce a LogicalRDD: $other")
    }

  test("default pin = localCheckpoint: block loss kills the read") {
    import spark.implicits._
    val pinned = Pins.pin((1 to 1000).toDF("x").withColumn("y", col("x") * 2))
    assert(pinned.count() == 1000)
    backingRdd(pinned).unpersist(blocking = true) // "executor lost"
    val e = intercept[org.apache.spark.SparkException] { pinned.count() }
    val conditions = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }
      .toSeq
    assert(conditions.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
      s"want the lost-checkpoint-block condition, got $conditions")
  }

  test("pin tags round-trip through boundTag") {
    import spark.implicits._
    // the structural broadcast net (PlanRegressionSpec) reads a pin's
    // justification back out of the optimized plan through the RDD
    // name — this pins the encode/decode contract
    val local = Pins.pin((1 to 10).toDF("x"), "size-gated")
    assert(Pins.boundTag(backingRdd(local).name) == Some("size-gated"))
    // the tag survives plan composition: the LogicalRDD inside a
    // bigger optimized plan still names the same RDD
    val joined = local.join(local.withColumnRenamed("x", "y"),
      local("x") === col("y"))
    val tags = joined.queryExecution.optimizedPlan.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Pins.boundTag(lr.rdd.name)
    }
    assert(tags.nonEmpty && tags.forall(_ == Some("size-gated")), tags)
    // untagged pins read None; non-pin names read None; empty tags
    // are rejected at the call site
    assert(Pins.boundTag(backingRdd(Pins.pin((1 to 3).toDF("x"))).name).isEmpty)
    assert(Pins.boundTag("some other rdd").isEmpty)
    assert(Pins.boundTag(null).isEmpty)
    intercept[IllegalArgumentException] {
      Pins.pin((1 to 3).toDF("x"), "")
    }
  }

  test("default pin is block-backed (localCheckpoint), not file-backed") {
    import spark.implicits._
    // the suite (like the benchmark) runs a local master: the pin keeps
    // exactly the one-copy MEMORY_AND_DISK level a plain
    // localCheckpoint(true) uses — a replica would have no peer
    assert(spark.sparkContext.isLocal)
    val rdd = backingRdd(Pins.pin((1 to 10).toDF("x")))
    val sl = rdd.getStorageLevel
    assert(sl.useDisk && sl.useMemory && sl.replication == 1,
      s"local-master pin must be one-copy memory+disk blocks, got $sl")
    assert(rdd.getCheckpointFile.isEmpty, "pin must not be file-backed")
  }
}
