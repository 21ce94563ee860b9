package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, on the same clock as
  * Spark's listener timestamps (job submission/completion are epoch ms).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Minimal JSON rendering for the harness's line-oriented output files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  /** Object from already-rendered values. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** One call into a layer, kept in memory and written out when the run ends.
  * `parent` is the enclosing span on the same thread (0 = none); `attrs`
  * carry the request id and, for engine calls, the protocol fields.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Double, end: Double, attrs: Map[String, String]) {
  def json: String = Json.obj(
    "id" -> id.toString, "parent" -> parent.toString, "name" -> Json.str(name),
    "layer" -> Json.str(layer), "start" -> Json.num(start), "end" -> Json.num(end),
    "attrs" -> Json.obj(attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))
}

/** Span recorder. Spark jobs are attributed to the innermost open span
  * through a custom SparkContext local property ([[Spans.Property]]); the
  * job group is not used because `StreamExecution` overwrites it with its
  * run id. Local properties are inherited by threads started inside the
  * span, so micro-batch jobs of a streaming query land on the span that
  * started the query.
  */
object Spans {
  val Property = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` inside a span when `on`; otherwise run it bare. */
  def apply[T](sc: SparkContext, on: Boolean, name: String, layer: String,
               attrs: Map[String, String] = Map.empty)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = current
    val prevProp = sc.getLocalProperty(Property)
    stack.set(id :: stack.get)
    sc.setLocalProperty(Property, id.toString)
    val start = Clock.nowMs
    try body
    finally {
      val end = Clock.nowMs
      stack.set(stack.get.tail)
      sc.setLocalProperty(Property, prevProp)
      done.add(Span(id, parent, name, layer, start, end, attrs))
    }
  }
}

/** Spark job, stage and SQL-plan events, keyed for attribution to spans.
  * `busyNs` is the time spent in its handlers: the tracing's own cost.
  */
final class JobListener extends SparkListener {
  val lines = new ConcurrentLinkedQueue[String]()
  val busyNs = new AtomicLong(0L)
  private val planJoins = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Int)]()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    lines.add(Json.obj("ev" -> Json.str("job_start"), "job" -> e.jobId.toString,
      "t" -> e.time.toString, "span" -> Json.str(prop(Spans.Property)),
      "exec" -> Json.str(prop("spark.sql.execution.id")),
      "stages" -> e.stageIds.mkString("[", ",", "]")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    lines.add(Json.obj("ev" -> Json.str("job_end"), "job" -> e.jobId.toString,
      "t" -> e.time.toString,
      "ok" -> (e.jobResult == JobSucceeded).toString))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): String =
      m.map(f).getOrElse(0L).toString
    lines.add(Json.obj("ev" -> Json.str("stage"), "stage" -> s.stageId.toString,
      "attempt" -> s.attemptNumber().toString, "tasks" -> s.numTasks.toString,
      "cpu_ns" -> g(_.executorCpuTime), "run_ms" -> g(_.executorRunTime),
      "gc_ms" -> g(_.jvmGCTime),
      "shuffle_read" -> g(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      "shuffle_write" -> g(_.shuffleWriteMetrics.bytesWritten),
      "input" -> g(_.inputMetrics.bytesRead),
      "output" -> g(_.outputMetrics.bytesWritten),
      "spill" -> g(t => t.memoryBytesSpilled + t.diskBytesSpilled)))
  }

  private def joins(p: SparkPlanInfo): (Int, Int) =
    p.children.foldLeft((if (p.nodeName == "SortMergeJoin") 1 else 0,
      if (p.nodeName == "BroadcastHashJoin") 1 else 0)) { (acc, c) =>
      val (a, b) = joins(c); (acc._1 + a, acc._2 + b)
    }

  /** The last plan seen for an execution is the one that ran (AQE posts
    * its re-optimized plans as updates).
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      timed(planJoins.put(s.executionId, joins(s.sparkPlanInfo)))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      timed(planJoins.put(u.executionId, joins(u.sparkPlanInfo)))
    case _ =>
  }

  def planLines: Seq[String] = planJoins.asScala.toSeq.sortBy(_._1).map {
    case (exec, (smj, bhj)) => Json.obj("ev" -> Json.str("plan"),
      "exec" -> exec.toString, "smj" -> smj.toString, "bhj" -> bhj.toString)
  }
}

/** Streaming progress of every query in the JVM. Registered through the
  * static `spark.sql.streaming.streamingQueryListeners` conf, so sessions
  * made by `spark.newSession()` inside the program get it as well.
  */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    ProgressListener.events.add(e.progress.json)
    ProgressListener.busyNs.addAndGet(System.nanoTime() - t0)
  }
}

object ProgressListener {
  val events = new ConcurrentLinkedQueue[String]()
  val busyNs = new AtomicLong(0L)
}
