package graft

import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.Partitioning

/** `Partitioning.spreadIfNarrow` counts partitions from the plan of a
  * shuffle-free input, and refuses any other input before a job runs. */
class PartitioningSpec extends SparkSpec {

  test("spreadIfNarrow spreads a one-partition scan and leaves a wide one as it is") {
    val n = Partitioning.numPartitions(spark)
    val narrow = spark.range(0, 100, 1, 1).toDF()
    assert(Partitioning.spreadIfNarrow(narrow, col("id")).rdd.getNumPartitions == n)
    val wide = spark.range(0, 100, 1, n).toDF()
    assert(Partitioning.spreadIfNarrow(wide, col("id")) eq wide)
  }

  test("spreadIfNarrow fails fast on an exchanged input, running no job") {
    val sc = spark.sparkContext
    val group = "partitioning-exchanged-input"
    val shuffled = spark.range(0, 100, 1, 4).groupBy((col("id") % 7).as("k")).count()
    try {
      sc.setJobGroup(group, "spreadIfNarrow on an exchanged input")
      intercept[IllegalArgumentException](Partitioning.spreadIfNarrow(shuffled, col("k")))
      // a marker job: once it is listed, any job the call ran is listed too
      sc.parallelize(1 to 1, 1).count()
    } finally sc.clearJobGroup()
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
    }
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 1)
  }
}
