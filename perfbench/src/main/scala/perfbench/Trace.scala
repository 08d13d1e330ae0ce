package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Listener counters of one job group (one span of calls into one layer). */
final class Span {
  var jobs = 0L
  var stages = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planMs = 0L
  var broadcastBytes = 0L
  var broadcastMs = 0L
  /** per completed stage: task run times, for the widest stage's skew */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task time of the stage with the most tasks (ties: the one
    * with the most task time) — 0 when the span ran no task. */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val t = stageTasks.values.maxBy(ts => (ts.length, ts.sum)).sorted
      val med = Stats.median(t.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else t.last / med
    }
}

/**
 * The benchmark's per-layer instrument, attached from outside the engine: a
 * `SparkListener` for jobs, stages and task metrics, which also reads the
 * `QueryExecution` that each SQL execution-end event hands to the session's
 * `QueryExecutionListener`s (planning phase times, broadcast builds).
 *
 * Every counter is attributed by the job group the benchmark sets around
 * each public call (`SparkContext.setJobGroup`), never by time window: a
 * task-end event that arrives late still lands in its own span. SQL
 * executions are mapped to their group by the group id carried on their
 * start event.
 */
final class Trace(spark: SparkSession) extends SparkListener {
  private val spans = new ConcurrentHashMap[String, Span]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  private def span(group: String): Span = spans.computeIfAbsent(group, _ => new Span)

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Counters of `group` once every event posted so far is delivered. */
  def take(group: String): Span = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Option(spans.remove(group)).getOrElse(new Span)
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans.clear(); stageGroup.clear(); execGroup.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val s = span(g)
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = span(g)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      if (m != null) {
        val s = span(g)
        s.synchronized {
          s.taskMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      for {
        g  <- Option(execGroup.remove(end.executionId))
        qe <- org.apache.spark.sql.PerfbenchSql.queryExecution(end)
      } {
        val plan = qe.tracker.phases.values.map(_.durationMs).sum
        val (bytes, ms) = broadcasts(qe.executedPlan)
        val s = span(g)
        s.synchronized { s.planMs += plan; s.broadcastBytes += bytes; s.broadcastMs += ms }
      }
    case _ => ()
  }

  /** (bytes, build + collect ms) of every broadcast built by one plan,
    * adaptive query stages and subqueries included. */
  private def broadcasts(p: SparkPlan): (Long, Long) = {
    def metric(b: SparkPlan, k: String): Long = b.metrics.get(k).map(_.value).getOrElse(0L)
    val here = p match {
      case b: BroadcastExchangeExec =>
        (metric(b, "dataSize"), metric(b, "collectTime") + metric(b, "buildTime"))
      case _ => (0L, 0L)
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => p.children ++ p.subqueries
    }
    kids.map(broadcasts).foldLeft(here) { case ((b0, m0), (b1, m1)) => (b0 + b1, m0 + m1) }
  }
}

/**
 * Bytes of the RDD blocks (memory + disk, cached and checkpointed alike) that
 * one run put in the block manager, followed from block-update and unpersist
 * events. Blocks held before the run started are not counted, so blocks that
 * an earlier run left for the garbage collector to free do not blur the
 * figures. Cheap enough to stay attached on every run, so `cache_peak_mb` is
 * an end-to-end figure.
 */
final class BlockBytes(spark: SparkSession) extends SparkListener {
  private val sizes = mutable.Map.empty[String, Long]
  private var before = Set.empty[String]
  private var runBytes = 0L
  private var peakBytes = 0L

  private def add(key: String, bytes: Long): Unit =
    if (!before.contains(key)) {
      runBytes += bytes
      peakBytes = math.max(peakBytes, runBytes)
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = i.blockId.name
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      add(key, now - sizes.getOrElse(key, 0L))
      if (now > 0) sizes(key) = now else sizes.remove(key)
    }
  }

  /** Unpersisting an RDD drops its blocks without a block update each. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    sizes.keys.filter(_.startsWith(prefix)).toList.foreach(k => add(k, -sizes.remove(k).get))
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Starts a run: blocks held now are not the run's. */
  def start(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { before = sizes.keySet.toSet; runBytes = 0L; peakBytes = 0L }
  }

  /** Bytes of the run's blocks held now. */
  def held(): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(runBytes)
  }

  /** Peak bytes of the run's blocks since [[start]]. */
  def peak(): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(peakBytes)
  }
}

/** Host contention around one run, read the way `graft.Bench` reads it:
  * `/proc/loadavg` at the start, steal and busy % of `/proc/stat` jiffies
  * across the run. Reported with every run, never used to drop one. */
final case class Contention(load: String, stealPct: Double, busyPct: Double)

object Contention {
  private def loadavg(): String =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split(" ").take(3).mkString(",") finally s.close()
    } catch { case _: Throwable => "" }

  private def jiffies(): Array[Long] =
    try {
      val s = scala.io.Source.fromFile("/proc/stat")
      try s.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally s.close()
    } catch { case _: Throwable => Array.empty[Long] }

  def around[T](body: => T): (T, Contention) = {
    val l = loadavg()
    val j0 = jiffies()
    val out = body
    val j1 = jiffies()
    val (steal, busy) =
      if (j0.length >= 8 && j1.length >= 8) {
        val tot = (j1.sum - j0.sum).toDouble max 1.0
        val idle = (j1(3) - j0(3)) + (j1(4) - j0(4))
        ((j1(7) - j0(7)) / tot * 100.0, (1.0 - idle / tot) * 100.0)
      } else (-1.0, -1.0)
    (out, Contention(l, steal, busy))
  }
}

/** CPU and garbage-collection time of this JVM, in seconds. */
object Jvm {
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
