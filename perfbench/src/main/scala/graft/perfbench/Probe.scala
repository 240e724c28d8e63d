package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Task and job metrics over an interval, from SparkListener events. */
final case class Delta(tasks: Int, jobs: Int, jobMs: Double, cpuS: Double,
                       maxTaskS: Double, shuffleWriteMb: Double, outputMb: Double)

/** Records every finished task and job of one SparkContext. Readers call
  * [[mark]] / [[since]] after draining the listener bus, so an interval
  * holds exactly the tasks that ran inside it.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  import Probe.TaskRec
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobMs = mutable.ArrayBuffer.empty[Long]
  private var jobsStarted = 0

  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMs += e.time - jobStart.remove(e.jobId).getOrElse(e.time)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** (tasks seen, jobs started, jobs ended) — an interval's start. */
  def mark(): (Int, Int, Int) = { drain(); synchronized {
    (tasks.size, jobsStarted, jobMs.size) } }

  def since(m: (Int, Int, Int)): Delta = { drain(); synchronized {
    val ts = tasks.slice(m._1, tasks.size)
    Delta(ts.size, jobsStarted - m._2, jobMs.slice(m._3, jobMs.size).sum.toDouble,
      ts.map(_.cpuNs).sum / 1e9,
      if (ts.isEmpty) 0.0 else ts.map(_.runMs).max / 1e3,
      ts.map(_.shuffleWriteB).sum / 1048576.0, ts.map(_.outputB).sum / 1048576.0)
  } }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Probe {
  private final case class TaskRec(runMs: Long, cpuNs: Long,
                                   shuffleWriteB: Long, outputB: Long)
}

/** One traced interval: name, start, end, parent span and run id, with the
  * task metrics of the jobs it ran (inclusive of its children).
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long, d: Delta, rows: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def json: String =
    f"""{"id":$id,"parent":$parent,"name":"$name","run":"$run","start_ns":$startNs,"end_ns":$endNs,"wall_s":$wallS,"task_cpu_s":${d.cpuS},"max_task_s":${d.maxTaskS},"shuffle_write_mb":${d.shuffleWriteMb},"output_mb":${d.outputMb},"tasks":${d.tasks},"jobs":${d.jobs},"rows":$rows}"""
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer(probe: Probe, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(f: => T): T = record(name, f, (_: T) => -1L)

  /** A span whose body returns the rows it wrote. */
  def spanRows(name: String)(f: => Long): Long = record(name, f, identity[Long])

  private def record[T](name: String, f: => T, rows: T => Long): T = {
    val m = probe.mark()
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try f finally stack = stack.tail
    val t1 = System.nanoTime()
    spans += Span(id, parent, name, run, t0, t1, probe.since(m), rows(r))
    r
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** JVM-wide readings: GC time, heap in use right after a full collection. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Full GC, then heap in use (MB). Called between passes, so the GC
    * time a pass reports never includes this collection.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds since the JVM started (process start). */
  def sinceStartS: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
