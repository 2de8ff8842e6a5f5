package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (spark_guide.md: one per
  * suite, lazy), on the production settings at a fixed parallelism. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession.create("graft-tests", cores = 4)
}
