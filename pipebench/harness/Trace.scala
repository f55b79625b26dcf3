package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for the traced run. Spans are kept in memory and
  * written out once, at the end; Spark-side counts are collected by
  * listeners registered from here (the program itself is untouched) and
  * attributed to the operation that caused them:
  *
  *  - jobs, stages and tasks through the `pipebench.op` local property
  *    the harness sets around each call, or the micro-batch id the
  *    streaming engine sets on its own jobs;
  *  - planning phases (QueryPlanningTracker) per executed query, which
  *    the report attributes to the enclosing span by time.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Wall-clock milliseconds with nanoTime resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  // ---- spans ----------------------------------------------------------
  private final case class Span(id: Int, parent: Int, op: String, name: String,
                                start: Double, var end: Double)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  /** Run `body` inside a span; nested calls on the same thread become
    * children. `op` names the operation the span belongs to. */
  def span[T](name: String, op: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), op, name, nowMs, 0)
    spans += s
    open = s :: open
    try body finally { s.end = nowMs; open = open.tail }
  }

  // ---- Spark-side counts ---------------------------------------------
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val jobsPerOp = new ConcurrentHashMap[String, AtomicLong]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val queries = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val progress = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpProperty)))
        .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("batch:" + _))
        .getOrElse("other")
      jobsPerOp.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
      e.stageIds.foreach(stageOp.putIfAbsent(_, op))
      jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stages.computeIfAbsent(e.stageId, _ => new StageAgg).add(e.taskInfo, m)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(p => (p.startTimeMs, p.durationMs)).getOrElse((0L, 0L))
      val (aStart, aMs) = phase("analysis")
      val (_, oMs) = phase("optimization")
      val (pStart, pMs) = phase("planning")
      val codegen = PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.size
      queries.add(Json.obj("func" -> funcName, "start_ms" -> (if (aStart > 0) aStart else pStart),
        "analysis_ms" -> aMs, "optimization_ms" -> oMs, "planning_ms" -> pMs,
        "codegen_stages" -> codegen, "duration_ms" -> durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the asynchronous listener buses to deliver every event of
    * the jobs started so far, then unregister. */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    var lastQueries = -1
    while (System.currentTimeMillis() < deadline &&
           (jobsEnded.get < jobsStarted.get || lastQueries != queries.size)) {
      lastQueries = queries.size
      Thread.sleep(300)
    }
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def progressEvents: Seq[String] = progress.synchronized(progress.asScala.toList)

  /** Everything recorded, as one JSON object. */
  def toJson: String = {
    val spanJs = spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
    val stageJs = stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      a.toJson(id, Option(stageOp.get(id)).getOrElse("other"))
    }
    val jobJs = jobsPerOp.asScala.toSeq.sortBy(_._1).map { case (op, n) =>
      Json.obj("op" -> op, "jobs" -> n.get)
    }
    Json.obj("spans" -> Json.Raw(Json.arr(spanJs.toSeq)), "stages" -> Json.Raw(Json.arr(stageJs)),
      "jobs" -> Json.Raw(Json.arr(jobJs)),
      "queries" -> Json.Raw(Json.arr(queries.synchronized(queries.asScala.toList))),
      "progress" -> Json.Raw(Json.arr(progressEvents)))
  }
}

object Tracer {
  val OpProperty = "pipebench.op"

  /** Tag the jobs this thread starts with an operation id. */
  def setOp(spark: SparkSession, op: String): Unit =
    spark.sparkContext.setLocalProperty(OpProperty, op)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Task-level sums of one stage. */
  final class StageAgg {
    private var tasks, runMs, cpuNs, gcMs, delayMs = 0L
    private var inputBytes, inputRows, outputBytes, outputRows = 0L
    private var shuffleRead, shuffleWrite, spill = 0L
    private val taskShuffleRead = mutable.ArrayBuffer[Long]()

    def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      delayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      outputRows += m.outputMetrics.recordsWritten
      val sr = m.shuffleReadMetrics.totalBytesRead
      shuffleRead += sr
      taskShuffleRead += sr
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
    }

    def toJson(id: Int, op: String): String = synchronized {
      val sorted = taskShuffleRead.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      Json.obj("stage" -> id, "op" -> op, "tasks" -> tasks,
        "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "scheduler_delay_ms" -> delayMs,
        "input_bytes" -> inputBytes, "input_rows" -> inputRows,
        "output_bytes" -> outputBytes, "output_rows" -> outputRows,
        "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
        "spill_bytes" -> spill,
        "shuffle_read_task_max" -> (if (sorted.isEmpty) 0L else sorted.last),
        "shuffle_read_task_median" -> median)
    }
  }
}

/** Minimal JSON writer for the harness's output files. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case s: Iterable[_] => arr(s.map(value).toSeq)
    case other => str(other.toString)
  }

  /** `obj` with more members, each value given as JSON text. */
  def plus(obj: String, kv: (String, String)*): String =
    obj.dropRight(1) + kv.map { case (k, v) => s",${str(k)}:$v" }.mkString + "}"

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
