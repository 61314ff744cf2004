package graft

import org.apache.spark.sql.internal.SQLConf

/** The settings `GraftSession` gives every session, read back from the
  * suite's own `GraftSession.local(4)` session. */
class GraftSessionSpec extends SparkSpec {

  test("session time zone is UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("parquet nanosAsLong is on, so events.parquet reads") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("shuffle partitions equal the task threads") {
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("AQE coalescing floor is Spark's default of 1 MiB") {
    assert(spark.sessionState.conf.getConf(
      SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) == 1048576L)
  }
}
