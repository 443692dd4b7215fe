package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job with the task metrics of all its stages summed. */
final class JobRec(val id: Int, val startMs: Long, val stages: Int) {
  @volatile var endMs: Long = -1L
  var tasks, runMs, cpuNs, gcMs, deserMs, shuffleBytes, bytesWritten = 0L
}

/** One finished query execution, dated when the listener saw it:
  * planning phases and, for writes, the output path (which names the
  * table it landed). */
final case class QeRec(endMs: Long, durationNs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, output: Option[String])

/** A span around one call into a layer; `req` ties it to one request
  * or query. Spans nest through a per-thread stack. */
final case class Span(id: Int, parent: Int, name: String, req: String,
    startMs: Long, endMs: Long)

/** What a time window saw: summed over the jobs that started in it. */
final case class Window(wallMs: Long, jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long, shuffleBytes: Long,
    bytesWritten: Long, jobMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long) {
  def driverGapMs: Long = math.max(0L, wallMs - jobMs)
  def +(o: Window): Window = Window(wallMs + o.wallMs, jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, deserMs + o.deserMs, shuffleBytes + o.shuffleBytes,
    bytesWritten + o.bytesWritten, jobMs + o.jobMs, analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs)
}
object Window {
  val zero: Window = Window(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The traced run's recorder: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for planning phases, and in-memory
  * spans. Everything is kept in memory and read after the run. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanIds = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  // ---- spans ----

  def span[T](name: String, req: String = "")(body: => T): T = {
    val id = spanIds.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack.set(stack.get.tail)
      val s = Span(id, parent, name, req, t0, System.currentTimeMillis())
      spans.synchronized(spans += s)
    }
  }

  /** A span timed elsewhere (a stage inside one call), under `parent`. */
  def record(name: String, req: String, startMs: Long, endMs: Long, parent: Int): Unit =
    spans.synchronized(spans += Span(spanIds.incrementAndGet(), parent, name, req, startMs, endMs))

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)

  // ---- listener callbacks ----

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = new JobRec(e.jobId, e.time, e.stageIds.size)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(stageJob.put(_, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.deserMs += m.executorDeserializeTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.bytesWritten += m.outputMetrics.bytesWritten
      }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val out = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.orElse(qe.executedPlan.collectFirst {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
    })
    qes.add(QeRec(System.currentTimeMillis(), durationNs, ms("analysis"),
      ms("optimization"), ms("planning"), out))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ---- reading ----

  /** The first write execution, seen from `fromMs` on, that landed under
    * a path ending in `suffix` and not containing `unless`. The bus
    * reports executions late, so this looks up to two seconds past `toMs`. */
  def writeTo(suffix: String, fromMs: Long, toMs: Long, unless: String = "\u0000"): Option[QeRec] =
    qes.asScala.toSeq.filter(q => q.endMs >= fromMs && q.endMs <= toMs + 2000 &&
      q.output.exists(o => o.stripSuffix("/").endsWith(suffix) && !o.contains(unless)))
      .sortBy(_.endMs).headOption

  /** Everything that started inside [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Window = {
    val js = jobs.values.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    // union of job intervals clipped to the window: overlapping jobs
    // (concurrent clients, async stages) must not count twice
    val ivs = js.map(j => (j.startMs, math.min(toMs, if (j.endMs < 0) toMs else j.endMs)))
      .sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    ivs.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    val q = qes.asScala.toSeq.filter(q => q.endMs >= fromMs && q.endMs <= toMs + 50)
    js.foldLeft(Window.zero.copy(wallMs = toMs - fromMs, jobMs = covered,
      analysisMs = q.map(_.analysisMs).sum, optimizationMs = q.map(_.optimizationMs).sum,
      planningMs = q.map(_.planningMs).sum)) { (w, j) =>
      j.synchronized(w.copy(jobs = w.jobs + 1, stages = w.stages + j.stages,
        tasks = w.tasks + j.tasks, runMs = w.runMs + j.runMs, cpuNs = w.cpuNs + j.cpuNs,
        gcMs = w.gcMs + j.gcMs, deserMs = w.deserMs + j.deserMs,
        shuffleBytes = w.shuffleBytes + j.shuffleBytes,
        bytesWritten = w.bytesWritten + j.bytesWritten))
    }
  }

  def window(s: Span): Window = window(s.startMs, s.endMs)

  def spansJsonLines: Iterator[String] = allSpans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${Json.str(s.req)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }
}
