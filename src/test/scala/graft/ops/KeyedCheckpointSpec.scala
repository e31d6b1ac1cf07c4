package graft.ops

import org.apache.spark.sql.graft.KeyedCheckpoint
import graft.SparkSpec

/** A released local checkpoint gives its blocks back: a loop that
  * checkpoints once per iteration holds one iteration's blocks, not all. */
class KeyedCheckpointSpec extends SparkSpec {

  test("release unpersists the blocks of a localCheckpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = spark.range(1000).selectExpr("id % 7 AS k").localCheckpoint()
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size === 1)
    KeyedCheckpoint.release(cp)
    assert((sc.getPersistentRDDs.keySet & held).isEmpty)
  }
}
