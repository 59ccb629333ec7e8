package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, options).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** One traced call: `kind` is `pass`, `call`, `build` (the call into the
  * layer's public function) or `exec` (the action that runs what the
  * call returned). Times are epoch nanoseconds, so they line up with the
  * listener's epoch-millisecond stage times.
  */
final case class Span(id: Int, parent: Int, pass: Int, name: String, kind: String,
                      startNs: Long, var endNs: Long = 0L,
                      attrs: mutable.Map[String, Any] = mutable.Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "pass" -> pass,
    "name" -> name, "kind" -> kind, "start_ns" -> startNs, "end_ns" -> endNs,
    "attrs" -> attrs.toMap)
}

/** Span recorder kept in memory and written out at the end of the run.
  * When disabled every method only runs its body.
  *
  * Leaf spans (`build`, `exec`) set the Spark job group to their span id,
  * so the listener can attribute jobs, stages and tasks to the call that
  * caused them. Streaming queries run under their own job group (their
  * run id); [[bindGroup]] maps it onto the span that started the query.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val nextId = new AtomicInteger(1)
  private val stack = mutable.Stack[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val groupAlias: mutable.Map[String, Int] = mutable.Map.empty
  var pass: Int = -1

  def now(): Long = baseNs + System.nanoTime()

  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val s = Span(nextId.getAndIncrement(), parent, pass, name, kind, now())
      stack.push(s)
      val leaf = kind == "build" || kind == "exec"
      if (leaf) sc.setJobGroup(s.id.toString, s"$name/$kind", interruptOnCancel = false)
      try body
      finally {
        if (leaf) sc.clearJobGroup()
        s.endNs = now()
        stack.pop()
        spans += s
      }
    }

  /** Attach a measured attribute to the innermost open span. */
  def attr(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  def bindGroup(group: String): Unit =
    if (enabled) stack.headOption.foreach(s => groupAlias(group) = s.id)
}

/** Engine-side records for the traced run, collected from outside the
  * engine through Spark's listener interfaces: jobs with their job group,
  * stages with task counts, times and the shuffles they read, and
  * query-execution phase times. Micro-batch progress comes from each
  * streaming query's own `recentProgress`.
  */
final class EngineListener extends SparkListener {
  @volatile var enabled = false
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  // stage id -> shuffle id it writes, for every stage any job planned
  // (skipped ones included: their shuffle output is what later stages read)
  val stageShuffle = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Blocks until every event posted so far has reached the listeners,
    * so a pass's trailing events are recorded before tracing stops.
    */
  def settle(sc: SparkContext): Unit = org.apache.spark.PerfbenchAccess.waitForListeners(sc)

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageInfos.foreach(si =>
      org.apache.spark.PerfbenchAccess.shuffleDepId(si).foreach(stageShuffle.put(si.stageId, _)))
    if (!enabled) return
    jobs.add(Map("job" -> e.jobId, "group" -> group(e.properties), "start_ms" -> e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) stageGroup.put(e.stageInfo.stageId, group(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (!enabled) return
    val si = e.stageInfo
    val m = si.taskMetrics
    val (run, cpu, shR, shW, spill, input) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
    stages.add(Map("stage" -> si.stageId,
      "group" -> Option(stageGroup.get(si.stageId)).getOrElse(""),
      "tasks" -> si.numTasks,
      "reads_shuffles" -> si.parentIds.flatMap(p => Option(stageShuffle.get(p)).map(_.toInt)),
      "submit_ms" -> si.submissionTime.getOrElse(0L),
      "end_ms" -> si.completionTime.getOrElse(0L),
      "run_ms" -> run, "cpu_ns" -> cpu, "shuffle_read_b" -> shR,
      "shuffle_write_b" -> shW, "spill_b" -> spill, "input_rows" -> input))
  }

  /** Analysis, optimization and planning phases of every executed query. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Map("phase" -> name, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs))
      }
    }
  }

  def drain(): Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}
