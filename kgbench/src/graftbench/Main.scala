package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.SparkEntry

/** One run of one workload, in its own JVM:
  *
  *   `graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`
  *
  * A run sets up its inputs [[Main.SetupReps]] times, probes the host with a
  * fixed CPU job, then runs operations back to back until `S` seconds have
  * passed, at least one. Every operation's output is checked. A
  * traced run traces its operations and reports the per-layer numbers of the
  * last one. The host probe runs again at the end. The raw samples go to
  * `FILE` as JSON.
  */
object Main {
  val SetupReps = 3
  /** Rows of the fixed CPU calibration job. */
  val CalibRows = 100000000L

  private final case class Op(wall: Double, checked: Checked, storage: Long, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (name, work, traced) = (a("workload"), a("work"), a("trace") == "1")
    val seconds = a("seconds").toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$name")
      // the session settings of kg.Pipeline.main
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val listener = new BenchListener
    sc.addSparkListener(listener)
    val heap = new HeapWatch
    val wl = Workload(name, a("seed").toLong)

    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def calibrate(): Double = time(spark.range(CalibRows).selectExpr("sum(id * 3 % 7)").collect())

    /** One operation in `work/op<k>`, checked, with the further checks of
      * `more` on its output; the directory is deleted afterwards. */
    def op(k: Int, tracing: Boolean, more: OpCtx => Seq[String] = _ => Nil): Option[Op] = {
      val dir = s"$work/op$k"
      val ctx = new OpCtx(dir, if (tracing) Some(new Tracer(sc)) else None)
      listener.reset()
      listener.grouping = tracing
      if (tracing) sc.setJobGroup("gap.begin", "gap")
      heap.reset()
      val blocks0 = listener.blockBytes.get
      attempted += 1
      try {
        val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        val out = wl.run(spark, ctx)
        val wall = (System.nanoTime() - t0) / 1e9; val ms1 = System.currentTimeMillis()
        sc.clearJobGroup()
        Bus.drain(sc)
        listener.grouping = false
        val heapMb = ctx.tracer.map(_ => heap.peakMb())
        val storage = dirBytes(Paths.get(dir)) + listener.blockBytes.get - blocks0
        val checked = wl.check(spark, ctx, out)
        val bad = checked.problems ++ more(ctx)
        if (bad.nonEmpty) { failed += 1; problems ++= bad.map(p => s"operation $k: $p") }
        val layers = ctx.tracer.fold(Map.empty[String, Double]) { t =>
          opLayers(spark, wl, dir, t.spans.toSeq, ms0, ms1, listener.groups.toMap) ++
            heapMb.map("jvm.heap_peak_mb" -> _) +
            ("trace.overhead_s" -> (t.nanos + listener.groupingNanos.get) / 1e9)
        }
        Some(Op(wall, checked, storage, layers))
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"operation $k failed: $e"
          e.printStackTrace()
          None
      } finally {
        sc.clearJobGroup()
        listener.grouping = false
        deleteTree(Paths.get(dir))
      }
    }

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseStart = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - phaseStart) / 1e9; phaseStart = now
    }
    try {
      // the first set-up also absorbs the JVM's first Spark jobs
      (1 to SetupReps).foreach(i => sample("setup_s", time(wl.setup(spark, s"$work/setup$i"))))
      phase("setup")
      calibrate() // compiles the probe
      extra("calib_before_s") = calibrate()
      phase("calibrate")
      // the further checks of traced runs: the delta run against a full run on
      // V2, the leaves against the DuckDB oracle
      wl match {
        case ops: Ops if traced =>
          ops.oracleDir = Some(s"$work/oracle")
          extra("oracle_dir") = s"$work/oracle"
          extra("oracle_input") = ops.leafInput
          // a leaf without oracle SQL is only checked to be non-empty
          extra("oracle_sql") = Ops.Leaves.map(l => l -> SparkEntry.oracleSql.getOrElse(l, "")).toMap
        case _ =>
      }
      val more: OpCtx => Seq[String] = wl match {
        case kg: Kg if traced => kg.deltaEqualsFull(spark, _)
        case _ => _ => Nil
      }
      val t0 = System.nanoTime()
      var k = 0
      while (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        k += 1
        op(k, traced, more).foreach { o =>
          sample("wall_s", o.wall)
          sample("rows_per_s", o.checked.rows / o.wall)
          sample("precision", o.checked.precision)
          sample("recall", o.checked.recall)
          sample("storage_bytes", o.storage.toDouble)
          perLayer ++= o.layers
        }
      }
      phase("timed")
      extra("calib_after_s") = calibrate()
      if (traced) {
        perLayer("host.calib_s") = extra("calib_before_s").asInstanceOf[Double]
        perLayer("host.calib_after_s") = extra("calib_after_s").asInstanceOf[Double]
      }
    } catch {
      case e: Exception =>
        problems += s"run failed: $e"
        e.printStackTrace()
    } finally {
      implicit val formats: Formats = DefaultFormats
      extra("phase_s") = phases.toMap
      val result = Map(
        "samples" -> samples.map { case (k, v) => k -> v.toList }.toMap,
        "per_layer" -> perLayer.toMap,
        "attempted" -> attempted, "failed" -> failed, "problems" -> problems.toList) ++ extra
      Files.write(Paths.get(a("out")), Serialization.write(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** Bytes of the committed files under `root` (Hadoop's `.crc` side files
    * excluded). */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Per-layer numbers of one traced operation. A segment is a stage, from
    * the start of its checkpoint write to the end of its lineage append
    * (`StagedRun.stage`), or a leaf; a gap is the planning and eager work
    * between two segments (or before the first, or after the last), so
    * segments and gaps add up to the wall. The Spark metrics of a stage cover
    * its write's jobs and those of the gap before it, which builds the
    * stage's input. */
  private def opLayers(spark: SparkSession, wl: Workload, dir: String, spans: Seq[Span],
                       ms0: Long, ms1: Long, groups: Map[String, GroupStats]): Map[String, Double] = {
    val layer = wl.layer
    val out = mutable.LinkedHashMap.empty[String, Double]
    val rows: Map[String, Long] = Files.list(Paths.get(dir)).iterator.asScala
      .map(_.resolve("_lineage")).filter(Files.exists(_)).flatMap { lineage =>
        val prefix = if (lineage.getParent.getFileName.toString == "delta") "delta." else ""
        spark.read.parquet(lineage.toString).groupBy(col("stage")).agg(sum(col("rows_out")))
          .collect().map(r => prefix + r.getString(0) -> r.getLong(1))
      }.toMap
    var prevEnd = ms0
    var gap = "begin"
    var gapGroup = "gap.begin"
    spans.zipWithIndex.filter(s => s._1.kind == "write" || s._1.kind == "leaf").foreach { case (w, i) =>
      out(s"$layer.gap.$gap.s") = (w.startMs - prevEnd) / 1000.0
      val end = spans.drop(i + 1).takeWhile(s => s.kind != "write" && s.kind != "leaf")
        .find(s => s.kind == "append" && s.name == w.name).fold(w.endMs)(_.endMs)
      out(s"$layer.${w.name}.s") = (end - w.startMs) / 1000.0
      if (w.kind == "write") {
        out(s"$layer.${w.name}.rows") = rows.getOrElse(w.name, 0L).toDouble
        val gs = Seq(w.name, gapGroup).flatMap(groups.get)
        out(s"spark.${w.name}.shuffle_bytes") = gs.map(_.shuffleBytes).sum.toDouble
        out(s"spark.${w.name}.spill_bytes") = gs.map(_.spillBytes).sum.toDouble
        out(s"spark.${w.name}.gc_s") = gs.map(_.gcMs).sum / 1000.0
        out(s"spark.${w.name}.task_skew") = (gs.map(_.taskSkew) :+ 1.0).max
        groups.get(w.name).filter(_.lastJobEndMs >= w.startMs).foreach { g =>
          out("io.commit_s") = out.getOrElse("io.commit_s", 0.0) + (w.endMs - g.lastJobEndMs) / 1000.0
        }
      }
      prevEnd = end
      gap = s"after_${w.name}"
      gapGroup = s"gap.after_${w.name}"
    }
    out(s"$layer.gap.$gap.s") = (ms1 - prevEnd) / 1000.0
    out("io.lineage_s") = spans.filter(_.kind == "append").map(_.seconds).sum
    out("io.read_s") = spans.filter(_.kind == "read").map(_.seconds).sum
    out.toMap
  }
}
