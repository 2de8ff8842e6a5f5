package graft

import graft.io.ParquetTableIO
import java.nio.file.Files

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR plus the flagship KG pipeline (extract → link →
  * materialize, including the parquet write), and prints ONE JSON line.
  * A query that throws is recorded as -1 (and listed in failed_queries) so a
  * failure can never read as a fast success.
  *
  * Scaling protocol (BASELINE.md/BENCH.md): run twice with SPARK_GRAFT_CPUS=2
  * and =8 on the same input (2→8 stays on physical cores; 8→32 hits the SMT
  * ceiling ≈0.77 measured); efficiency = thr8 / (4 × thr2) on the pipeline's
  * triples/sec. SPARK_GRAFT_BENCH_FILES sizes the pipeline corpus — the
  * default is large enough that the ~15 checkpoint write+read cycles' fixed
  * cost does not dominate the measured throughput.
  *
  * Self-annotation: a fixed pure-CPU calibration probe is timed before the
  * query sweep and after the pipeline (`calib_sec_pre`/`calib_sec_post` in
  * the JSON), and the pipeline entry is best-of-`SPARK_GRAFT_BENCH_PIPELINE
  * _RUNS` (default 2, all runs reported) — so a loaded host window is
  * machine-detectable instead of reading as a code regression (the r4
  * false-alarm).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.defaultCores
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "50000").toInt
    val spark = LocalSession.create("graft-bench", cpus)
    LocalSession.sizeShufflesToCorpus(spark, nFiles)

    // JVM/codegen warmup so the first measured query isn't charged for it
    spark.range(1000000).selectExpr("sum(id)").collect()
    // scan fixtures (S3/S4) materialized in setup — the timed queries only scan
    Fixtures.ensure(spark)

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Host-speed calibration probe (r4 lesson: a loaded host window once
    // read as a 2× code regression). A fixed pure-CPU job is timed before
    // the queries and again after the pipeline; both go into the JSON so a
    // slow window is machine-detectable by comparing calib_sec across
    // rounds — the probe's cost does not depend on any code in this repo.
    def calibrate(): Double =
      time(spark.range(400000000L).selectExpr("sum(id * 3 % 7)").collect())
    val calibPre = calibrate()

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // SPARK_GRAFT_BENCH_PIPELINE_ONLY=1 → scaling runs time just the pipeline
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c → spot-time just those entries
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map(_.split(',').toSet)
    if (!sys.env.contains("SPARK_GRAFT_BENCH_PIPELINE_ONLY")) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
        try results(name) = time(fn(spark, sfDir).count())
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            results(name) = -1.0 // distinct marker: never reads as a fast success
            failed += name
        }
      }
    }

    // Flagship: the real checkpointed pipeline (extract → link → materialize,
    // every stage written through the TableIO seam — the production shape).
    // SPARK_GRAFT_BENCH_DIR relocates the checkpoint root (e.g. /dev/shm to
    // take the local disk out of a scaling measurement — cluster storage
    // scales with executors, one box's disk does not).
    def ckptDir(): String = sys.env.get("SPARK_GRAFT_BENCH_DIR").map { d =>
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(p)
      Files.createTempDirectory(p, "ckpt").toString
    }.getOrElse(Files.createTempDirectory("graft_bench_ckpt").toString)
    // best-of-N (default 2): one slow host window cannot fake a pipeline
    // regression; every run's wall-clock is still reported
    val pipeRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_PIPELINE_RUNS", "2").toInt
    var triples = 0L
    val pipeSecs = (1 to pipeRuns).map { _ =>
      time {
        val pipe = new kg.Pipeline(new ParquetTableIO(ckptDir()), runId = "bench")
        val t = pipe.run(spark,
          kg.CorpusGen.srcFiles(spark, nFiles).toDF(),
          kg.CorpusGen.kbEntries(spark).toDF(),
          kg.CorpusGen.kbContexts(spark).toDF())
        triples = t.count()
      }
    }
    val pipeSec = pipeSecs.min
    results("kg_pipeline_e2e") = pipeSec
    val calibPost = calibrate()

    val total = results.values.filter(_ >= 0).sum
    val thr = triples / pipeSec
    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val fq = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    val pr = pipeSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed_queries":$fq,"sf":"$sfDir","cpus":$cpus,"pipeline_files":$nFiles,"pipeline_triples":$triples,"pipeline_triples_per_sec":$thr%.1f,"pipeline_runs_sec":$pr,"calib_sec_pre":$calibPre%.3f,"calib_sec_post":$calibPost%.3f}""")
    spark.stop()
  }
}
