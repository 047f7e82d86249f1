package e2ebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span and counter recorder for the traced run.
  *
  * Spans are recorded on the driver thread only: each one carries its
  * parent, its layer name and the timed operation it belongs to. While a
  * span is open its id rides the Spark local property [[SpanProp]], so the
  * [[JobLog]] listener can hang every job on the span that submitted it.
  * Counters are process-wide and thread-safe (executor-side embedding in
  * local mode increments them too). With tracing off, `span` is a plain
  * call and nothing is recorded. */
object Trace {
  val SpanProp = "e2ebench.span"

  final case class Span(id: Long, parent: Long, name: String, op: Int,
                        t0Ms: Double, var t1Ms: Double)

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  @volatile private var driver: Thread = _
  private val nextId = new AtomicLong(0)
  private val stack = scala.collection.mutable.Stack[Long]()
  val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  @volatile var currentOp: Int = -1

  // epoch-anchored monotonic clock in ms: spans and Spark job times
  // (epoch ms) land on one time line
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def start(spark: SparkContext): Unit = {
    sc = spark; driver = Thread.currentThread(); enabled = true
  }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counterSnapshot: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  private def onDriver: Boolean = enabled && (Thread.currentThread() eq driver)

  def span[T](name: String)(body: => T): T =
    if (!onDriver) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val s = Span(id, parent, name, currentOp, nowMs, Double.NaN)
      spans += s
      stack.push(id)
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        s.t1Ms = nowMs
        stack.pop()
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }
}

/** Spark jobs, tasks and bytes, keyed by the span that submitted each job. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val span: Long, val t0Ms: Long, val callSite: String) {
    @volatile var t1Ms: Long = -1L
    val tasks = new LongAdder; val runMs = new LongAdder
    val shuffleWrite = new LongAdder; val shuffleRead = new LongAdder
    val spill = new LongAdder; val records = new LongAdder
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    // the result stage has the highest id; its long form is the job's
    // call stack (user frames from the action outward)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new Job(e.jobId, span, e.time, site)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.tasks.increment()
      j.runMs.add(m.executorRunTime)
      j.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      j.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      j.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      j.records.add(m.inputMetrics.recordsRead)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)
}
