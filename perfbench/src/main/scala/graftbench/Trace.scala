package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory trace of one benchmark run: spans opened by the harness around
  * each public call into graft, plus the Spark jobs and stages that ran
  * under them. Nothing is aggregated here; the records are written out once
  * at the end and `perfbench/metrics.py` attributes and sums them.
  *
  * Job attribution keys on the SQL execution description
  * (`<action> at <File>.scala:<line>`), never on stage names: adaptive
  * query stages are named after `CompletableFuture.java`, which hides the
  * module that issued the action.
  */
final class Trace {
  final case class Span(id: Int, parent: Int, name: String, module: String,
                        start: Double, end: Double, traced: Boolean)
  final case class Job(id: Int, execId: Long, stageName: String,
                       stages: Seq[Int], start: Long, var end: Long)
  final class StageAcc(val id: Int) {
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val durations = ArrayBuffer.empty[Long]
  }

  val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack[(Int, String, String, Double)]()
  private var nextSpan = 0
  @volatile var listening = false

  private val execDesc = scala.collection.mutable.Map.empty[Long, String]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stages = scala.collection.mutable.Map.empty[Int, StageAcc]

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same axis as the listener's event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, module: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    open.push((id, name, module, nowMs))
    try body
    finally {
      val (_, _, _, start) = open.pop()
      spans += Span(id, parent, name, module, start, nowMs, listening)
    }
  }

  /** Runs `body` with the listener attached. The short sleep lets the
    * listener bus drain, so the last job and task events are not lost. */
  def traced[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    sc.addSparkListener(listener)
    listening = true
    try body
    finally {
      Thread.sleep(200)
      sc.removeSparkListener(listener)
      listening = false
    }
  }

  private val listener: SparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { execDesc(e.executionId) = e.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.name)
        .getOrElse("")
      Trace.this.synchronized {
        jobs(e.jobId) = Job(e.jobId, exec, first, e.stageIds, e.time, -1L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, new StageAcc(e.stageId))
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.durations += m.executorRunTime
      }
    }
  }

  def toJson: String = synchronized {
    val sp = spans.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "module" -> s.module, "start" -> s.start, "end" -> s.end,
        "traced" -> s.traced)
    }
    val jb = jobs.values.toSeq.map { j =>
      Json.obj("id" -> j.id, "desc" -> execDesc.getOrElse(j.execId, ""),
        "stage_name" -> j.stageName, "stages" -> j.stages,
        "start" -> j.start, "end" -> j.end)
    }
    val st = stages.values.toSeq.sortBy(_.id).map { s =>
      val d = s.durations.sorted
      Json.obj("id" -> s.id, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
        "max_ms" -> d.lastOption.getOrElse(0L),
        "median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)))
    }
    Json.obj("spans" -> sp, "jobs" -> jb, "stages" -> st).json
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(s) => s
    case other => str(other.toString)
  }

  /** A value already rendered as JSON. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
