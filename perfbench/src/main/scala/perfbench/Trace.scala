package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of a run. `parent` is the id of the enclosing
  * span (0 for the run root); times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String,
    start: Long, end: Long, attrs: Map[String, String] = Map.empty)

/** Engine totals that the listener folds; `minus` turns two snapshots
  * into the cost of whatever ran between them. */
final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, shuffleBytes: Long = 0,
    waitMs: Long = 0, jsonBytes: Long = 0) {
  def minus(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, waitMs - o.waitMs, jsonBytes - o.jsonBytes)
}

/** Process-wide trace state. The harness opens spans around its own
  * calls; [[Tracer]] adds engine spans: a stage under its job, a job under
  * its SQL execution, an execution under the innermost open harness span.
  * Listener events are folded only while `on` is set; the harness also
  * registers the listener only around traced operations. */
object Trace {
  @volatile var on = false
  @volatile var runId = ""
  private val lock = new Object
  private var nextId = 1L
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0L) // open harness spans, innermost first
  private var totals = Totals()
  @volatile var lastAppStart = 0L

  def now(): Long = System.currentTimeMillis()
  def totalsNow(): Totals = lock.synchronized(totals)
  private def fold(f: Totals => Totals): Unit =
    if (on) lock.synchronized { totals = f(totals) }

  def newId(): Long = lock.synchronized { val i = nextId; nextId += 1; i }
  def openSpan(): Long = lock.synchronized(stack.head)

  def record(name: String, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty, parent: Long = -1, id: Long = -1): Long =
    lock.synchronized {
      val i = if (id >= 0) id else newId()
      spans += Span(i, if (parent >= 0) parent else stack.head, name, start, end, attrs)
      i
    }

  /** Time `body` as a harness span; nested calls become children. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val id = lock.synchronized { val i = newId(); stack = i :: stack; i }
    val start = now()
    val parent = lock.synchronized(stack.tail.head)
    try body
    finally lock.synchronized {
      stack = stack.tail
      spans += Span(id, parent, name, start, now(), attrs)
    }
  }

  def allSpans(): Seq[Span] = lock.synchronized(spans.sortBy(_.id).toList)

  // ---- engine events (called from Tracer) ------------------------------
  // open engine intervals: span id, parent span id, start time and detail;
  // a job's parent is its SQL execution, a stage's parent its job
  private final case class Open(id: Long, parent: Long, start: Long, detail: String)
  private val sqlOpen = new ConcurrentHashMap[Long, Open]()
  private val jobOpen = new ConcurrentHashMap[Int, Open]()
  private val stageParent = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), (Long, Boolean)]()
  private val target = """(?s)InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+)""".r

  /** True when a stage scans landed JSON (its RDD scopes name a JSON
    * file scan). RDDInfo.scope has a Spark-private type, so it is read
    * reflectively. */
  private def scansJson(info: StageInfo): Boolean = info.rddInfos.exists { r =>
    try {
      r.getClass.getMethod("scope").invoke(r).asInstanceOf[Option[AnyRef]].exists { s =>
        val n = s.getClass.getMethod("name").invoke(s).toString.toLowerCase
        n.startsWith("scan json")
      }
    } catch { case _: ReflectiveOperationException => false }
  }

  private[perfbench] def onEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case _: SparkListenerApplicationStart => lastAppStart = now()
    case s: SparkListenerSQLExecutionStart =>
      sqlOpen.put(s.executionId, Open(newId(), openSpan(), s.time,
        target.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1)).getOrElse("")))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlOpen.remove(s.executionId)).foreach { o =>
        record("spark.sql", o.start, s.time, Map("execution" -> s.executionId.toString,
          "target" -> o.detail), o.parent, o.id)
      }
    case j: SparkListenerJobStart =>
      val exec = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      val o = Open(newId(), Option(sqlOpen.get(exec)).map(_.id).getOrElse(openSpan()),
        j.time, exec.toString)
      jobOpen.put(j.jobId, o)
      j.stageIds.foreach(st => stageParent.put(st, o.id))
      fold(t => t.copy(jobs = t.jobs + 1))
    case j: SparkListenerJobEnd =>
      Option(jobOpen.remove(j.jobId)).foreach { o =>
        record("spark.job", o.start, j.time,
          Map("job" -> j.jobId.toString, "execution" -> o.detail), o.parent, o.id)
      }
    case s: SparkListenerStageSubmitted =>
      val i = s.stageInfo
      stageSubmit.put((i.stageId, i.attemptNumber()),
        (i.submissionTime.getOrElse(now()), scansJson(i)))
    case s: SparkListenerStageCompleted =>
      val i = s.stageInfo
      stageSubmit.remove((i.stageId, i.attemptNumber()))
      fold(t => t.copy(stages = t.stages + 1))
      record("spark.stage", i.submissionTime.getOrElse(now()),
        i.completionTime.getOrElse(now()),
        Map("stage" -> i.stageId.toString, "tasks" -> i.numTasks.toString),
        Option(stageParent.get(i.stageId)).getOrElse(-1L))
    case t: SparkListenerTaskEnd if t.taskMetrics != null =>
      val m = t.taskMetrics
      val (submitted, json) = Option(stageSubmit.get((t.stageId, t.stageAttemptId)))
        .getOrElse((t.taskInfo.launchTime, false))
      fold(a => a.copy(tasks = a.tasks + 1, runMs = a.runMs + m.executorRunTime,
        cpuNs = a.cpuNs + m.executorCpuTime, gcMs = a.gcMs + m.jvmGCTime,
        shuffleBytes = a.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        waitMs = a.waitMs + math.max(0L, t.taskInfo.launchTime - submitted),
        jsonBytes = a.jsonBytes + (if (json) m.inputMetrics.bytesRead else 0L)))
    case _ =>
  }

  /** Spans as JSON, with each span's self time: its duration minus the
    * union of its children's intervals. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val all = allSpans()
    val kids = all.groupBy(_.parent)
    def self(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start),
        math.min(c.end, s.end))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var reach = s.start
      for ((a, b) <- iv) if (b > reach) { covered += b - math.max(a, reach); reach = b }
      (s.end - s.start) - covered
    }
    val rows = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"self_ms":${self(s)},"run":${Json.str(runId)},"attrs":$attrs}"""
    }
    val bySelf = all.groupBy(_.name).map { case (n, ss) =>
      Json.str(n) + ":" + ss.map(self).sum / 1000.0 }.mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      s"""{"run":${Json.str(runId)},"self_s_by_name":$bySelf,"spans":[${rows.mkString(",\n")}]}""")
  }
}

/** The listener the harness registers: directly on its own sessions, or
  * through `spark.extraListeners` for sessions the program builds. */
class Tracer extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = Trace.onEvent(e)
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onEvent(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.onEvent(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.onEvent(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.onEvent(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onEvent(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.onEvent(e)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
