package graft.checkpoint

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class MaterializeSpec extends SparkSpec {

  test("local master: eager checkpoint computes each row once and truncates lineage") {
    val calls = spark.sparkContext.longAccumulator("materialize-calls")
    val counted = udf { (x: Long) => calls.add(1); x * 2 }
    val n = 100
    val m = Materialize(spark.range(0, n, 1, 4).select(col("id"), counted(col("id")).as("v")))
    assert(calls.sum === n) // eager: computed at definition
    assert(m.count() === n)
    assert(m.agg(sum("v")).head().getLong(0) === n.toLong * (n - 1))
    assert(calls.sum === n) // neither action recomputed a row
    assert(m.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(m.storageLevel === StorageLevel.NONE)
  }

  test("non-local master: persists at the requested level") {
    val df = spark.range(0, 10).toDF("id")
    val m = Materialize(df, StorageLevel.DISK_ONLY, local = false)
    try {
      assert(m.storageLevel === StorageLevel.DISK_ONLY)
      assert(m.count() === 10)
    } finally m.unpersist(blocking = true)
  }
}
