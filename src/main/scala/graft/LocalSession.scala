package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`: the entry points (`Verify`,
  * `Bench`, `kg.Pipeline`, `ops.CurationPipeline`) and the test suite all
  * run under these settings, so tests see the join strategy and split size
  * production uses. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core, logging
    * at WARN. */
  def create(appName: String, cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // local-mode only: checkpoint tables are byte-small but row-heavy, so
      // the 128m default would give heavy explode stages 1-2 input splits;
      // on a real cluster at design scale keep the default.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      // hash joins over sort-merge: the scoring join's big side is a streamed
      // exploded term stream - sorting it (SMJ) spills; SHJ hashes the small
      // side per partition (SURVEY.md J1)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Scales the shuffle width with a `kg.Pipeline` corpus of `nFiles` files
    * and lets AQE coalesce back down: at 32 static partitions the 1M-file
    * run's wide-key aggregations (triple dedup) spill (stage4 106 s → 54 s
    * with 512); a static wide setting conversely doubles small runs
    * (measured 48 s → 98 s at 50k with 256), so the width follows the input
    * size. On a real cluster this is the shuffle-partition sizing expected
    * per deployment. */
  def sizeShufflesToCorpus(spark: SparkSession, nFiles: Int): Unit =
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      math.max(spark.sparkContext.defaultParallelism, math.min(2048, nFiles / 4000)).toString)
}
