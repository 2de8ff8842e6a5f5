package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{ParquetTableIO, TableIO}

/** One timed call at a layer boundary. Times are wall-clock milliseconds
  * (comparable with Spark's job-end event times) plus a nanosecond duration. */
final case class Span(name: String, kind: String, startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Per-job-group totals of the tasks Spark ran for that group. */
final class GroupStats {
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var lastJobEndMs = 0L
  val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** Worst stage's max/median task run time (1.0 when no stage had ≥ 2 tasks). */
  def taskSkew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
      s.last / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Registered once at session set-up. Always counts the bytes of RDD blocks
  * stored (what `localCheckpoint` materializes); groups job, stage and task
  * metrics by the Spark job group when `grouping` is on (traced runs). */
final class BenchListener extends SparkListener {
  @volatile var grouping = false
  val blockBytes = new AtomicLong()
  /** Time spent in the grouping callbacks, on the listener-bus thread. */
  val groupingNanos = new AtomicLong()
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  val groups: mutable.Map[String, GroupStats] = mutable.LinkedHashMap.empty

  private def group(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  def reset(): Unit = synchronized {
    groups.clear(); stageGroup.clear(); jobGroup.clear(); groupingNanos.set(0L)
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    groupingNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) blockBytes.addAndGet(i.memSize + i.diskSize)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (grouping) timed(synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (grouping) timed(synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val s = group(g); s.lastJobEndMs = math.max(s.lastJobEndMs, e.time)
    }
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (grouping) timed(synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = group(stageGroup.getOrElse(e.stageId, "none"))
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  })
}

/** Records spans and sets the Spark job group around each traced call, so
  * the listener can attribute Spark's work to the call. Between calls the
  * group names the gap after the last one. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Time spent in the tracer's own bookkeeping around the calls. */
  var nanos = 0L

  def span[A](name: String, kind: String)(f: => A): A = {
    val b0 = System.nanoTime()
    sc.setJobGroup(if (kind == "write" || kind == "leaf") name else s"$name.$kind", kind)
    val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    nanos += t0 - b0
    try f
    finally {
      val t1 = System.nanoTime()
      spans += Span(name, kind, ms0, System.currentTimeMillis(), t1 - t0)
      sc.setJobGroup(s"gap.after_$name", "gap")
      nanos += System.nanoTime() - t1
    }
  }
}

/** A [[TableIO]] that delegates to [[ParquetTableIO]] and records a span for
  * each `write`/`read`/`append`, named `prefix` + the table. A lineage append
  * is tagged with the table whose write preceded it. */
final class TracingTableIO(inner: ParquetTableIO, tracer: Tracer, prefix: String) extends TableIO {
  private var lastWrite = "none"
  override def read(spark: SparkSession, table: String): DataFrame =
    tracer.span(prefix + table, "read")(inner.read(spark, table))
  override def write(df: DataFrame, table: String, partitionBy: Seq[String]): Unit = {
    lastWrite = prefix + table
    tracer.span(prefix + table, "write")(inner.write(df, table, partitionBy))
  }
  override def append(df: DataFrame, table: String): Unit =
    tracer.span(lastWrite, "append")(inner.append(df, table))
  override def exists(spark: SparkSession, table: String): Boolean = inner.exists(spark, table)
  override def drop(spark: SparkSession, table: String): Unit = inner.drop(spark, table)
  override def list(spark: SparkSession, prefix: String): Seq[String] = inner.list(spark, prefix)
}

/** Largest heap occupancy left after any garbage collection in a window. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong()
  private val collections = new AtomicLong()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, hb: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
      collections.incrementAndGet()
    }

  def reset(): Unit = peak.set(0L)

  /** Peak post-GC heap since [[reset]], in MB. Ends the window with a full
    * collection, so a window without any collection still reads its
    * retained heap. */
  def peakMb(): Double = {
    val seen = collections.get
    System.gc()
    // the notification arrives on a JMX thread shortly after gc() returns
    val deadline = System.nanoTime() + 2000000000L
    while (collections.get == seen && System.nanoTime() < deadline) Thread.sleep(5)
    peak.get / (1024.0 * 1024.0)
  }
}
