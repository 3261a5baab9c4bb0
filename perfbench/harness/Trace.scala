package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so span
  * times and Spark's epoch-millisecond task times share one axis.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
}

/** Process-wide counters read around every timed operation (cheap, so
  * untraced runs read them too).
  */
object Counters {
  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong()

  /** From now on, after every collection, note the heap in use once the
    * garbage is gone. Its peak is what the program keeps live, whatever
    * size the collector chose to grow the heap (and so the process's
    * resident set) to.
    */
  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(
        (n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            val used = info.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peakAfterGc.accumulateAndGet(used, math.max(_, _))
          }, null, null)
      case _ =>
    }
  }

  /** Peak over the collections so far of the heap in use after one. */
  def peakHeapAfterGc(): Long = peakAfterGc.get

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  def codegenNanos(): Long = WholeStageCodegenExec.codeGenTime
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** In-memory trace of one run: spans recorded by the benchmark around
  * its calls into each layer, plus the jobs, stages, tasks and query
  * plannings Spark reports while they run. Everything is kept in memory
  * and written out once, at the end of the run.
  *
  * A job is attributed to the innermost span open on the thread that
  * started it, through a Spark local property; its stages and tasks
  * follow the job.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val spans = ArrayBuffer[Span]()
  private val jobs = ArrayBuffer[Job]()
  private val stageSpan = scala.collection.mutable.Map[Int, Int]()
  private val tasks = ArrayBuffer[Task]()
  private val stages = ArrayBuffer[(Int, Int, Long)]() // (id, span, end)
  private val phases = ArrayBuffer[Phase]()
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
  private val current = new ThreadLocal[Int] { override def initialValue = -1 }
  private var nextId = 0
  @volatile var pass: Int = -1
  @volatile var op: Int = -1

  def currentSpan: Int = current.get

  /** Run `body` inside a span named `name`, child of `parent`. */
  def span[T](name: String, parent: Int = current.get,
              attrs: => Map[String, Double] = Map.empty)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val prevProp = sc.getLocalProperty(SpanKey)
    val prev = current.get
    current.set(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val (p, o) = (pass, op)
    val start = Clock.micros()
    try body
    finally {
      val end = Clock.micros()
      current.set(prev)
      sc.setLocalProperty(SpanKey, prevProp)
      val a = attrs
      synchronized { spans += Span(id, name, parent, p, o, start, end, a) }
    }
  }

  /** Planning phases of a query executed without an action (the
    * surface's `toRdd.count`), which the listener never sees.
    */
  def recordPlanning(qe: QueryExecution): Unit = synchronized {
    if (seenQe.add(qe)) phases ++= phasesOf(qe)
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobs += Job(e.jobId, s, e.time * 1000L, -1L)
    e.stageInfos.foreach(i => stageSpan.getOrElseUpdate(i.stageId, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(end = e.time * 1000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = spanOf(e.properties)
      if (s >= 0) stageSpan(e.stageInfo.stageId) = s
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += ((e.stageInfo.stageId,
        stageSpan.getOrElse(e.stageInfo.stageId, -1),
        e.stageInfo.completionTime.getOrElse(0L) * 1000L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) tasks += Task(
      stageSpan.getOrElse(e.stageId, -1),
      info.launchTime * 1000L, info.finishTime * 1000L,
      m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = recordPlanning(qe)

  /** Everything recorded, for the run record. */
  def record(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "pass" -> s.pass, "op" -> s.op,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)).toList,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span,
        "start" -> j.start, "end" -> j.end)).toList,
      "stages" -> stages.map { case (id, s, end) =>
        Map("id" -> id, "span" -> s, "end" -> end) }.toList,
      "tasks" -> tasks.map(t => Seq(t.span, t.launch, t.finish, t.runMs,
        t.shuffleRead, t.shuffleWrite, t.spill, t.input, t.output)).toList,
      "phases" -> phases.map(p => Map("phase" -> p.phase,
        "start" -> p.start, "end" -> p.end)).toList)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
                        op: Int, start: Long, end: Long,
                        attrs: Map[String, Double])
  final case class Job(id: Int, span: Int, start: Long, end: Long)
  final case class Task(span: Int, launch: Long, finish: Long, runMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        input: Long, output: Long)
  final case class Phase(phase: String, start: Long, end: Long)

  def phasesOf(qe: QueryExecution): Seq[Phase] =
    qe.tracker.phases.toSeq.collect {
      case (name, p) if name != "parsing" =>
        Phase(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
}

/** Writes the run record with the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
}
