package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TestSpark

/** Pins the session config the receipts depend on, on the session the
  * suite itself runs: px62/px63/px64 probed-cell pruning needs standalone
  * DPP subqueries, top-k serving needs the raised object-hash fallback.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the shared test session carries the canonical factory config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly") === "false")
    assert(conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "1048576")
    val cores = spark.sparkContext.defaultParallelism
    assert(spark.sparkContext.master === s"local[$cores]")
    assert(conf.get("spark.sql.shuffle.partitions") === cores.toString)
  }
}
