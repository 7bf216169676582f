package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of the traced run. Each op is a span whose children are the
  * benchmark's probe calls plus every Spark job and SQL action the
  * listeners saw during it. Jobs carry the op id as their job group; the
  * bus is drained at the end of each op, so everything that arrived
  * belongs to that op (the client is closed-loop: ops never overlap).
  * Spans stay in memory and are written out when the run ends.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val queue = new ConcurrentLinkedQueue[Event]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, (group, e.time, e.stageInfos.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (g, t0, stages) =>
        queue.add(JobEv(e.jobId, g, t0, e.time, stages))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val dur = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
      queue.add(StageEv(si.numTasks, dur.getOrElse(0L)))
      stageSubmitMs.remove(si.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      val submitted = Option(stageSubmitMs.get(e.stageId)).getOrElse(e.taskInfo.launchTime)
      queue.add(TaskEv(
        runMs = m.map(_.executorRunTime).getOrElse(0L),
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        waitMs = math.max(0L, e.taskInfo.launchTime - submitted),
        shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shuffleRead = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        failed = e.reason != Success))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Map[String, Long] =
      qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      queue.add(SqlEv(func, phases(qe), ok = true))
    override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit =
      queue.add(SqlEv(func, phases(qe), ok = false))
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  private val spans = mutable.ArrayBuffer[OpSpan]()
  private var current: OpSpan = _
  private val notes = mutable.LinkedHashMap[String, (Double, Int)]()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Runs one op as a span (rethrowing its failure after the span closes). */
  def op(id: String, cls: String)(body: => Unit): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    queue.clear()
    val span = OpSpan(id, cls, System.currentTimeMillis(), System.nanoTime())
    current = span
    val gc0 = gcMs
    spark.sparkContext.setJobGroup(id, cls, interruptOnCancel = false)
    try body
    finally {
      span.endNs = System.nanoTime()
      span.endMs = System.currentTimeMillis()
      spark.sparkContext.clearJobGroup()
      PerfbenchBus.drain(spark.sparkContext)
      span.gcMs = gcMs - gc0
      var e = queue.poll()
      while (e != null) {
        e match {
          case j: JobEv if j.group.nonEmpty && j.group != id => span.foreignJobs += 1
          case _ => span.events += e
        }
        e = queue.poll()
      }
      spans += span
      current = null
    }
  }

  /** A probe call inside the current op, timed as its child span under
    * `layer`.
    */
  def probe[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      if (current != null) current.probes += Probe(layer, name, t0, System.nanoTime())
    }
  }

  /** An observation of a layer metric (summed; see [[mean]] and [[perOp]]). */
  def note(name: String, v: Double): Unit = {
    val (s, n) = notes.getOrElse(name, (0.0, 0))
    notes(name) = (s + v, n + 1)
  }
  def mean(name: String): Double = notes.get(name).map { case (s, n) => s / n }.getOrElse(0.0)
  def sum(name: String): Double = notes.get(name).map(_._1).getOrElse(0.0)
  def perOp(name: String): Double = if (spans.isEmpty) 0.0 else sum(name) / spans.size

  def ops: Int = spans.size

  /** Mean seconds of the probe calls named `layer`/`name`. */
  def probeMean(layer: String, name: String): Double = {
    val ps = spans.flatMap(_.probes).filter(p => p.layer == layer && p.name == name)
    if (ps.isEmpty) 0.0 else ps.map(_.s).sum / ps.size
  }

  /** Wall seconds of all traced ops. */
  def wallS: Double = spans.map(_.wallS).sum

  /** Spark, Catalyst, JVM and self-time layer metrics over the traced ops
    * (means per op unless the name says otherwise).
    */
  def coreMetrics(): Seq[(String, Double)] = {
    val n = math.max(1, spans.size).toDouble
    val jobs = spans.flatMap(_.events.collect { case j: JobEv => j })
    val stages = spans.flatMap(_.events.collect { case s: StageEv => s })
    val tasks = spans.flatMap(_.events.collect { case t: TaskEv => t })
    val sqls = spans.flatMap(_.events.collect { case q: SqlEv => q })
    def phase(p: String) = sqls.map(_.phasesMs.getOrElse(p, 0L)).sum / 1000.0 / n
    val execRun = tasks.map(_.runMs).sum / 1000.0
    val jobCover = spans.map(s => s.jobCoverMs / 1000.0).sum
    val probeS = spans.map(_.probeS).sum
    val catalystS = sqls.map(q => q.phasesMs.values.sum).sum / 1000.0
    Seq(
      "catalyst.actions_per_op" -> sqls.size / n,
      "catalyst.analysis_s" -> phase(QueryPlanningTracker.ANALYSIS),
      "catalyst.optimization_s" -> phase(QueryPlanningTracker.OPTIMIZATION),
      "catalyst.planning_s" -> phase(QueryPlanningTracker.PLANNING),
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.stages_per_op" -> stages.size / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.one_task_stages_over_0_3s" -> stages.count(s => s.numTasks == 1 && s.durMs > 300).toDouble,
      "spark.job_s" -> jobs.map(j => j.endMs - j.startMs).sum / 1000.0 / n,
      "spark.executor_run_s" -> execRun / n,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "spark.core_busy_ratio" -> (if (wallS > 0) execRun / (cores * wallS) else 0.0),
      "spark.task_wait_s" -> tasks.map(_.waitMs).sum / 1000.0 / n,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill).sum / n,
      "spark.task_failures" -> tasks.count(_.failed).toDouble,
      "jvm.gc_s" -> spans.map(_.gcMs).sum / 1000.0 / n,
      "self.spark_jobs_s" -> jobCover / n,
      "self.catalyst_s" -> catalystS / n,
      "self.icelite_probe_s" -> spans.map(_.probeS("icelite")).sum / n,
      "self.v2_probe_s" -> spans.map(_.probeS("v2")).sum / n,
      "self.driver_s" -> math.max(0.0, wallS - jobCover - catalystS - probeS) / n)
  }

  /** Seconds of each op's own call (its probes excluded) not covered by
    * Spark jobs, per op.
    */
  def driverS: Double =
    if (spans.isEmpty) 0.0
    else spans.map(s => s.wallS - s.probeS - s.jobCoverMs / 1000.0).sum / spans.size

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The spans as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val kids = s.probes.map(p => s"""{"kind":"probe","layer":"${p.layer}","name":"${p.name}","s":${p.s}}""") ++
        s.events.collect {
          case j: JobEv => s"""{"kind":"job","job":${j.jobId},"group":"${j.group}","start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages}}"""
          case q: SqlEv => s"""{"kind":"sql","func":"${q.func}","ok":${q.ok},"phases_ms":${Json.obj(q.phasesMs.toSeq.sorted.map { case (k, v) => k -> Json.num(v.toDouble) })}}"""
        }
      w.write(s"""{"op":${Json.str(s.id)},"class":"${s.cls}","start_ms":${s.startMs},"end_ms":${s.endMs},"gc_ms":${s.gcMs},"foreign_jobs":${s.foreignJobs},"children":[${kids.mkString(",")}]}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  sealed trait Event
  final case class JobEv(jobId: Int, group: String, startMs: Long, endMs: Long, stages: Int) extends Event
  final case class StageEv(numTasks: Int, durMs: Long) extends Event
  final case class TaskEv(runMs: Long, cpuNs: Long, waitMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, failed: Boolean) extends Event
  final case class SqlEv(func: String, phasesMs: Map[String, Long], ok: Boolean) extends Event
  final case class Probe(layer: String, name: String, startNs: Long, endNs: Long) {
    def s: Double = (endNs - startNs) / 1e9
  }

  final case class OpSpan(id: String, cls: String, startMs: Long, startNs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    var gcMs: Long = 0L
    var foreignJobs: Int = 0
    val events = mutable.ArrayBuffer[Event]()
    val probes = mutable.ArrayBuffer[Probe]()
    def wallS: Double = (endNs - startNs) / 1e9
    def probeS: Double = probes.map(_.s).sum
    def probeS(layer: String): Double = probes.filter(_.layer == layer).map(_.s).sum
    /** Milliseconds of the op covered by its Spark jobs, overlaps once. */
    def jobCoverMs: Long = Stats.covered(
      events.collect { case j: JobEv => (j.startMs, j.endMs) }.toSeq, startMs, endMs)
  }
}
