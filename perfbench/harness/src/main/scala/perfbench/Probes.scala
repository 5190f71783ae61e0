package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one op accumulated in the traced run. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  // EtlRunner's own job group: first start / last end, epoch ms
  var etlFirstStart = Long.MaxValue
  var etlLastEnd = 0L
  // Catalyst phases summed over the op's QueryExecutions
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var qeN = 0
  // streaming progress
  var batches = 0
  var triggerMs = 0L
  var addBatchMs = 0L
  var planningStreamMs = 0L
  var walCommitMs = 0L
  var commitOffsetsMs = 0L
  var stateRows = 0L
  var stateMemBytes = 0L
  val triggers = mutable.ArrayBuffer.empty[(Long, Long)] // (start epoch ms, duration ms)

  /** Slowest task over median task, 0 with fewer than two tasks. */
  def skew: Double =
    if (taskMs.size < 2) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** The traced run's listeners, attached from outside the engine: a
  * `SparkListener` for jobs/stages/tasks, a `QueryExecutionListener` for
  * Catalyst phases and a `StreamingQueryListener` for micro-batches.
  * Each op runs under its own job tag; events are attributed by tag, or
  * by the op that is current when they are delivered. Counters are read
  * only after the listener bus drains. */
final class Probes(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, (Int, Boolean)]()
  private val current = new AtomicInteger(-1)

  private def of(op: Int): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)
  private def tagOf(op: Int) = s"perfbench-op-$op"

  private val exec = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      val op = tags.split(",").collectFirst {
        case t if t.startsWith("perfbench-op-") => t.stripPrefix("perfbench-op-").toInt
      }.getOrElse(current.get)
      if (op >= 0) {
        val etl = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .exists(_.startsWith("graft-etl-"))
        jobOp.put(e.jobId, (op, etl))
        e.stageIds.foreach(stageOp.put(_, op))
        val c = of(op)
        c.synchronized {
          c.jobs += 1
          if (etl) c.etlFirstStart = math.min(c.etlFirstStart, e.time)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)).foreach { case (op, etl) =>
        if (etl) { val c = of(op); c.synchronized { c.etlLastEnd = math.max(c.etlLastEnd, e.time) } }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val c = of(op); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val c = of(op)
        c.synchronized {
          c.tasks += 1
          if (e.reason != TaskSuccess) c.failedTasks += 1
          c.taskMs += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val catalyst = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val op = current.get
      if (op >= 0) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val c = of(op)
        c.synchronized {
          c.analysisMs += ms("analysis")
          c.optimizationMs += ms("optimization")
          c.planningMs += ms("planning")
          c.qeN += 1
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val op = current.get
      if (op >= 0) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val c = of(op)
        c.synchronized {
          c.batches += 1
          c.triggerMs += d.getOrElse("triggerExecution", 0L)
          c.addBatchMs += d.getOrElse("addBatch", 0L)
          c.planningStreamMs += d.getOrElse("queryPlanning", 0L)
          c.walCommitMs += d.getOrElse("walCommit", 0L)
          c.commitOffsetsMs += d.getOrElse("commitOffsets", 0L)
          c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
          c.stateMemBytes = math.max(c.stateMemBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
          c.triggers += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
            d.getOrElse("triggerExecution", 0L)))
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(streams)

  /** Run `body` as op `op`: its jobs carry the op's tag. */
  def around[T](op: Int)(body: => T): T = {
    current.set(op)
    spark.sparkContext.addJobTag(tagOf(op))
    try body finally spark.sparkContext.removeJobTag(tagOf(op))
  }

  /** The op's counters once every event it caused has been delivered. */
  def finish(op: Int): OpCounters = {
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 30000)
    current.set(-1)
    Option(counters.remove(op)).getOrElse(new OpCounters)
  }
}

/** Process and host counters read from the JVM and procfs. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gc: (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(b.getCollectionTime, 0L)).sum,
      beans.map(b => math.max(b.getCollectionCount, 0L)).sum)
  }

  /** Minor page faults of this process (/proc/self/stat field 10). */
  def minflt: Long = try {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    s.substring(s.lastIndexOf(')') + 2).split(" ")(7).toLong
  } catch { case _: Exception => -1L }

  /** (steal, iowait, total) ticks of the aggregate cpu line of /proc/stat. */
  def cpuTicks: (Long, Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, if (f.length > 4) f(4) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L, 0L) }

  /** Peak resident set (VmHWM) in MB. */
  def rssPeakMb: Double = try {
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  } catch { case _: Exception => -1.0 }

  final case class Snap(ns: Long, cpu: Long, gcMs: Long, gcN: Long, minflt: Long,
                        ticks: (Long, Long, Long))
  def snap(): Snap = { val (gm, gn) = gc; Snap(System.nanoTime(), cpuNs, gm, gn, minflt, cpuTicks) }

  /** Counters over [a, b]: cpu s, gc ms, gc n, minflt, steal %, iowait %. */
  def delta(a: Snap, b: Snap): Map[String, Double] = {
    val total = math.max(1L, b.ticks._3 - a.ticks._3).toDouble
    Map(
      "jvm.cpu_s" -> (b.cpu - a.cpu) / 1e9,
      "jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble,
      "jvm.gc_n" -> (b.gcN - a.gcN).toDouble,
      "jvm.minflt" -> (b.minflt - a.minflt).toDouble,
      "host.steal_pct" -> 100.0 * (b.ticks._1 - a.ticks._1) / total,
      "host.iowait_pct" -> 100.0 * (b.ticks._2 - a.ticks._2) / total)
  }
}
