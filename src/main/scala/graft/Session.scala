package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Verify, Bench, PlanDump, Profile and the
  * test suites all plan under the same confs, so what is tested is what
  * ships. */
object Session {
  /** `local[cpus]` plus the harness confs; `cpus` is `SPARK_GRAFT_CPUS`,
    * else every core the JVM sees. */
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Row-group-granular scan splits: one 2 MB fixture file under the
      // default 128 MB maxPartitionBytes is ONE task, so every narrow
      // pipeline (from_json decode etc.) would run single-threaded.
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      // Shuffled-hash join allowed where its size conditions hold (r17):
      // the planner's guards still apply — this only
      // stops Spark PREFERRING the sort in sort-merge when a hash build
      // fits; measured −20..−35% on the join-heavy bench families with
      // no regressions (OPTIMIZATION_r17.md).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  /** [[builder]]`.getOrCreate()`, logging at WARN. */
  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
