package lifebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.json4s._
import Json._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.language.implicitConversions

/** Span recorder for the traced run.
  *
  * [[span]] brackets one call into a program layer: it sets the Spark
  * local property [[Trace.Prop]] on the calling thread, so every job the
  * call submits carries the span id; [[Trace.Listener]] groups job, stage
  * and task metrics by that id, and adds the analysis + optimisation +
  * planning time of each SQL execution (from `QueryExecution.tracker`) to
  * the span whose jobs ran under its execution id. Spans stay in memory
  * and are written once, at the end. A disabled tracer runs the body bare:
  * the timed runs carry no property, no listener and no span. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val epoch = System.nanoTime()
  private val listener = new Listener

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as span `name` (a child of this thread's open span). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.add(Span(id, parent, name, (t0 - epoch) / 1e9, (t1 - epoch) / 1e9,
          Thread.currentThread().getName))
        current.set(parent)
        sc.setLocalProperty(Prop, if (parent == 0) null else parent.toString)
      }
    }

  /** Wait for the asynchronous listener bus to deliver the tail events,
    * then detach the listeners. */
  def close(): Unit = if (enabled) {
    var last = -1L
    var settled = 0
    while (settled < 3) {
      Thread.sleep(100)
      val seen = listener.events.get()
      if (seen == last) settled += 1 else { settled = 0; last = seen }
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def metrics(id: Long): Option[Agg] = Option(listener.bySpan.get(id))

  /** Spans with their Spark metrics, as JSON values. */
  def toJson: Seq[Json.Value] = spans.map { s =>
    val a = metrics(s.id).getOrElse(new Agg)
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1, "thread" -> s.thread,
      "jobs" -> a.jobs, "job_s" -> a.jobMs / 1e3, "tasks" -> a.taskTimes.size,
      "task_s" -> a.taskTimes.sum / 1e3, "gc_s" -> a.gcMs / 1e3,
      "shuffle_mb" -> a.shuffleBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6,
      "plan_ms" -> a.planMs, "task_ms" -> Json.nums(a.taskTimes.map(_.toDouble)))
  }
}

object Trace {
  val Prop = "lifebench.span"

  final case class Span(id: Long, parent: Long, name: String, t0: Double,
      t1: Double, thread: String)

  /** Spark metrics of one span's jobs. */
  final class Agg {
    var jobs = 0
    var jobMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var planMs = 0.0
    val taskTimes = ArrayBuffer[Long]()
  }

  /** Groups job, stage and task metrics by the span property the job was
    * submitted under. */
  final class Listener extends SparkListener {
    val events = new AtomicLong(0)
    val bySpan = new ConcurrentHashMap[Long, Agg]()
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()
    private val execSpan = new ConcurrentHashMap[Long, Long]()

    private def agg(span: Long) = bySpan.computeIfAbsent(span, _ => new Agg)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        val span = s.toLong
        e.stageIds.foreach(stageSpan.put(_, span))
        jobSpan.put(e.jobId, (span, e.time))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.putIfAbsent(x.toLong, span))
        val a = agg(span); a.synchronized { a.jobs += 1 }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
        val a = agg(span); a.synchronized { a.jobMs += e.time - t0 }
      }
    }

    /** The execution's QueryExecution rides on the end event; its accessor
      * is package-private in Scala but public in the bytecode. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        Option(execSpan.get(end.executionId)).foreach { span =>
          val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
          if (qe != null) {
            val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
            val a = agg(span); a.synchronized { a.planMs += ms }
          }
        }
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) Option(stageSpan.get(e.stageId)).foreach { span =>
        val a = agg(span)
        a.synchronized {
          a.taskTimes += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

/** JSON values for the facts file (json4s, which ships with Spark), with
  * conversions that keep the call sites short. */
object Json {
  type Value = JValue
  implicit def fromDouble(v: Double): Value = JDouble(v)
  implicit def fromLong(v: Long): Value = JLong(v)
  implicit def fromInt(v: Int): Value = JLong(v.toLong)
  implicit def fromString(v: String): Value = JString(v)
  implicit def fromBoolean(v: Boolean): Value = JBool(v)
  def obj(kvs: (String, Value)*): JObject = JObject(kvs.toList)
  def arr(vs: Iterable[Value]): Value = JArray(vs.toList)
  def nums(vs: Iterable[Double]): Value = JArray(vs.map(JDouble(_)).toList)
  def render(v: Value): String = jackson.JsonMethods.compact(v)
}
