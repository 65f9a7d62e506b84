package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the result file (values: String, Int, Long,
  * Double, Boolean, null, Map[String, _] and other iterables).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** One layer call: `parent` is the enclosing span (0 at the root) and
  * `request` the timed operation it belongs to (0 during set-up).
  */
final case class Span(id: Int, parent: Int, request: Int, name: String,
                      start: Long, var end: Long = 0L)

/** Records spans on the one client thread and tags every Spark job the
  * span submits with the job group `pb:<span id>`, so the listeners can
  * charge Spark work to the innermost open span. Off, it only runs the body.
  */
final class Tracer {
  var on = false
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var current = 0
  private var requests = 0

  private def setGroup(sp: Option[Span]): Unit =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped).foreach { sc =>
      sp match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, false)
        case None => sc.clearJobGroup()
      }
    }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sp = Span(nextId, stack.headOption.fold(0)(_.id), current, name, System.nanoTime())
      nextId += 1
      spans += sp
      stack = sp :: stack
      setGroup(Some(sp))
      try body
      finally {
        sp.end = System.nanoTime()
        stack = stack.tail
        setGroup(stack.headOption)
      }
    }

  /** A new timed operation: a root span `bench.<kind>` with its own id. */
  def request[T](kind: String)(body: => T): T = {
    requests += 1
    current = requests
    try apply(s"bench.$kind")(body) finally current = 0
  }
}

object Tracer {
  def group(span: Int): String = s"pb:$span"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("pb:")).map(_.drop(3).toInt)
}

/** Per stage attempt: the Spark counters the benchmark reports per layer. */
final class StageRec(val span: Int, val stage: Int, val numTasks: Int) {
  var submitted = 0L
  var firstLaunch = Long.MaxValue
  var tasks = 0
  var failures = 0
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "span" -> span, "stage" -> stage, "num_tasks" -> numTasks, "tasks" -> tasks,
    "failures" -> failures, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "sched_wait_ms" -> (if (firstLaunch == Long.MaxValue || submitted == 0L) 0L
                        else math.max(0L, firstLaunch - submitted)))
}

/** Charges jobs, stages and tasks to the span whose job group submitted
  * them. One instance per SparkContext (stage ids restart with a context);
  * read it only after the context has stopped, which drains the bus.
  */
final class LayerListener extends SparkListener {
  private val stageSpan = TrieMap[Int, Int]()
  val jobs = TrieMap[Int, Int]()                 // job id -> span
  val stages = TrieMap[(Int, Int), StageRec]()   // (stage, attempt) -> counters

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Tracer.spanOf(p.getProperty("spark.jobGroup.id")))
      .foreach { s =>
        jobs(e.jobId) = s
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { s =>
      val r = stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
        new StageRec(s, info.stageId, info.numTasks))
      r.submitted = info.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      r.synchronized { r.firstLaunch = math.min(r.firstLaunch, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (e.reason != Success) r.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.inputBytes += m.inputMetrics.bytesRead
          r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
        }
      }
    }
}

/** Catalyst phase times (analysis + optimization + planning) per query
  * execution, with the wall-clock interval they cover. The callback runs
  * on the listener bus, not the client thread, so the records are charged
  * to spans by time: the one client thread makes the spans nest.
  */
final class PlanListener extends QueryExecutionListener {
  val plans = TrieMap[Long, (Long, Long, Long)]()   // qe id -> (start ms, end ms, phase ms)

  private def record(qe: QueryExecution): Unit = {
    val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (ph.nonEmpty)
      plans(qe.id) = (ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
