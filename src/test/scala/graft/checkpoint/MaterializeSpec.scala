package graft.checkpoint

import graft.SparkSpec
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
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

  test("scope: release() unpersists what the non-local branch persisted inside it") {
    val cm = spark.sharedState.cacheManager
    val frames = Materialize.scoped { scope =>
      val fs = Seq(spark.range(0, 11).toDF("id"), spark.range(0, 12).toDF("id"))
        .map(Materialize(_, StorageLevel.MEMORY_AND_DISK, local = false))
      fs.foreach(f => assert(cm.lookupCachedData(f).isDefined))
      scope.release()
      fs
    }
    frames.foreach(f => assert(cm.lookupCachedData(f).isEmpty))
  }

  test("scope: a frame persisted outside every scope is not recorded") {
    val cm = spark.sharedState.cacheManager
    val outside = Materialize(spark.range(0, 13).toDF("id"),
      StorageLevel.MEMORY_AND_DISK, local = false)
    try {
      val inside = Materialize.scoped { scope =>
        val f = Materialize(spark.range(0, 14).toDF("id"),
          StorageLevel.MEMORY_AND_DISK, local = false)
        scope.release()
        f
      }
      assert(cm.lookupCachedData(inside).isEmpty)
      assert(cm.lookupCachedData(outside).isDefined)
    } finally outside.unpersist(blocking = true)
  }
}
