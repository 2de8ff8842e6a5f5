package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed-stage mechanics shared by the KG pipeline and the
  * training-data curation pipeline: every stage materializes through the
  * [[TableIO]] seam with an atomic commit, then appends per-partition
  * lineage rows AFTER the data commit — so `resume` skips any stage whose
  * lineage says committed by THE SAME run_id, and a crash between data-write
  * and lineage-append re-runs that stage idempotently (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  */
trait StagedRun {
  def io: TableIO
  def runId: String
  def resume: Boolean

  val LineageTable = "_lineage"

  /** Hash of the parameters this run's stage outputs depend on (thresholds,
    * language allowlists, pack budgets, salt widths, …). Stamped into every
    * lineage row and REQUIRED to match on resume: runId alone does not encode
    * parameters, so without this a resume after changing a threshold would
    * silently reuse checkpoints computed under the old value. Set it once at
    * the top of `run(...)` via [[paramsHash]]. */
  protected var stageParams: String = ""

  /** Short stable hash of a parameter tuple (order-sensitive by design). */
  protected def paramsHash(parts: Any*): String =
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      parts.map(String.valueOf).mkString("|")))

  /** A delta run plans lazy reads of `prevIo` and then writes its own stages,
    * so it must never write into the checkpoint dir it reads (at best a
    * FileNotFound, at worst an empty delta). */
  protected def requireDistinctBase(prevIo: TableIO): Unit =
    (io, prevIo) match {
      case (a: ParquetTableIO, b: ParquetTableIO) =>
        require(a.root != b.root,
          s"delta run must write to a different checkpoint dir than prevIo (${a.root})")
      case _ => require(io ne prevIo, "delta run must not write into prevIo")
    }

  /** A stage is resumable only when the lineage row was committed by THE SAME
    * run_id AND under the same parameter hash — a checkpoint dir written by a
    * different run (a different corpus size) or by this runId with different
    * parameters must never be silently reused; the latter fails LOUDLY
    * because it means the caller changed parameters mid-resume. */
  private def committed(spark: SparkSession, stage: String): Boolean =
    resume && io.exists(spark, LineageTable) && io.exists(spark, stage) && {
      val lin = io.read(spark, LineageTable)
      // lineage written before the params column existed reads as "" (only
      // relevant for checkpoint dirs that predate this code)
      val withParams =
        if (lin.columns.contains("params")) lin
        else lin.withColumn("params", lit(""))
      val committedParams = withParams
        .filter(col("stage") === stage && col("status") === "committed" &&
                col("run_id") === runId)
        .select(col("params")).distinct().collect()
        .map(r => Option(r.getString(0)).getOrElse(""))
      val stale = committedParams.filterNot(_ == stageParams)
      require(stale.isEmpty,
        s"stage '$stage' was checkpointed by run '$runId' under different " +
        s"parameters (found ${stale.mkString(",")}, current $stageParams) — " +
        "refusing to resume; delete the checkpoint dir or use a new runId")
      committedParams.nonEmpty
    }

  /** Run (or resume) one stage: materialize df → checkpoint, lineage last. */
  def stage(spark: SparkSession, name: String, df: => DataFrame,
            partitionBy: Seq[String] = Nil): DataFrame = {
    if (committed(spark, name)) {
      io.read(spark, name)
    } else {
      val t0 = System.nanoTime()
      io.write(df, name, partitionBy)
      val out = io.read(spark, name)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val lineage = out.groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("rows_out"))
        .select(lit(runId).as("run_id"), lit(name).as("stage"),
                col("partition_id"), col("rows_out"),
                lit("committed").as("status"), lit(wallMs).as("wall_ms"),
                lit(stageParams).as("params"))
      io.append(lineage, LineageTable)
      val lineageMs = (System.nanoTime() - t0) / 1000000L - wallMs
      if (sys.env.contains("SPARK_GRAFT_STAGE_TIMING"))
        println(s"[stage] $name write=${wallMs}ms lineage=${lineageMs}ms")
      out
    }
  }
}
