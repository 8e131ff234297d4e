package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval (epoch nanoseconds) and the span that caused it. */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until [[Tracer.write]]. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  // epoch-ns = nanoTime + offset, so listener timestamps (epoch ms) line up
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  def add(name: String, parent: Long, start: Long, end: Long): Long = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, name, parent, start, end)
    id
  }

  /** Time `body` as a span under `parent`; `body` gets the new span's id. */
  def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val s = now()
    try body(id)
    finally synchronized { spans += Span(id, name, parent, s, now()) }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Write the spans, then `extra` lines, as JSON lines. */
  def write(path: java.nio.file.Path, extra: Seq[String]): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, (lines ++ extra).asJava)
  }
}

object Tracer {
  /** Self time per layer, in ns: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfTime(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.dur - covered(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  /** Length of the union of `children` clipped to `s`. */
  private def covered(s: Span, children: Seq[Span]): Long = {
    var total = 0L
    var upTo = s.start
    children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > upTo) { total += b - math.max(a, upTo); upTo = b }
      }
    total
  }
}

/** Times are epoch ms, as Spark's listener events give them. */
final case class JobEvent(id: Int, start: Long, end: Long, stages: Seq[Int])
final case class StageEvent(id: Int, start: Long, end: Long, tasks: Int, readsSource: Boolean)
/** Planning phases (start, end), input partitions and rows of a query's `BatchScanExec`s. */
final case class QueryEvent(plan: Seq[(Long, Long)], partitions: Int, rowsOut: Long, hasScan: Boolean)

/** Spark-side collector for the traced run: jobs, stages and tasks from a
  * `SparkListener`, planning phases and `BatchScanExec` metrics from a
  * `QueryExecutionListener`. Events arrive on Spark's listener bus; [[drain]]
  * waits until it has gone quiet.
  */
final class SparkCollector extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobEvent]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageEvent]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryEvent]()
  /** (stageId, executorRunTime ms, shuffle bytes written) */
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
  @volatile private var lastEvent = System.nanoTime()
  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, (e.time, e.stageIds))
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, st) => jobs.add(JobEvent(e.jobId, t0, e.time, st)) }
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageEvent(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, i.rddInfos.exists(_.name.contains("DataSourceRDD"))))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add((e.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    val scans = collect(qe.executedPlan) { case b: BatchScanExec => b }
    queries.add(QueryEvent(plan, scans.map(_.inputPartitions.size).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum, scans.nonEmpty))
    touch()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Wait until no event has arrived for 500 ms (at most 10 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent < 500000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

/** JVM and OS counters read through public interfaces. */
object Os {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** (steal, total) CPU ticks of this machine, from the first line of /proc/stat. */
  def hostCpu(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** Peak resident set of this process (VmHWM of /proc/self/status), MB. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
