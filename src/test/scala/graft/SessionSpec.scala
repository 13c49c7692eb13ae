package graft

import org.apache.spark.network.util.JavaUtils

/** The shared test session must carry the confs Verify and Bench ship, or
  * the suites plan joins and scan splits that never run in production. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the harness confs Verify and Bench ship") {
    val conf = spark.conf
    def bytes(key: String): Long = JavaUtils.byteStringAsBytes(conf.get(key))
    assert(bytes("spark.sql.files.maxPartitionBytes") === (1L << 20))
    assert(bytes("spark.sql.files.openCostInBytes") === (64L << 10))
    assert(conf.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    // local[cpus]: one shuffle partition per core.
    assert(conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
  }
}
