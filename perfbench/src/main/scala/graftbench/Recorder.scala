package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of what Spark did during the traced passes, taken only
  * through Spark's public listener interfaces. Jobs carry the span that was
  * open on the driver thread when they were submitted (the `Recorder.SpanKey`
  * local property); stages and tasks are tied to spans through their job.
  * Nothing is written until the run ends. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val blocks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val phases = mutable.ArrayBuffer.empty[Catalyst]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    val j = Job(e.jobId, span, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitted = i.submissionTime.getOrElse(0L)
    s.completed = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    s.tasks += 1
    if (!info.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
      s.result += m.resultSize
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks += System.currentTimeMillis() -> (b.memSize + b.diskSize)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    catalyst(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    catalyst(funcName, qe)

  private def catalyst(funcName: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    synchronized { phases += Catalyst(funcName, ph) }
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  /** Everything recorded so far, as one JSON object. */
  def toJson: String = synchronized {
    val js = jobs.map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end)
    }
    val ss = stages.values.map { s =>
      Json.obj("id" -> s.id, "attempt" -> s.attempt, "job" -> stageJob.getOrElse(s.id, -1),
        "submitted" -> s.submitted, "completed" -> s.completed, "tasks" -> s.tasks,
        "failed_tasks" -> s.failedTasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "delay_ms" -> s.delayMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_write_ns" -> s.shuffleWriteNs, "shuffle_read" -> s.shuffleRead, "fetch_wait_ms" -> s.fetchWaitMs,
        "spill" -> s.spill, "result" -> s.result, "input_rows" -> s.inputRows)
    }
    val bs = blocks.map { case (t, b) => Json.arr(Seq(t, b)) }
    val cs = phases.map { c =>
      Json.obj("func" -> c.func, "phases" -> Json.raw(
        c.phases.map { case (k, (a, b)) => Json.str(k) + ":" + Json.arr(Seq(a, b)) }
          .mkString("{", ",", "}")))
    }
    Json.obj("jobs" -> Json.raw(js.mkString("[", ",", "]")),
      "stages" -> Json.raw(ss.mkString("[", ",", "]")),
      "blocks" -> Json.raw(bs.mkString("[", ",", "]")),
      "catalyst" -> Json.raw(cs.mkString("[", ",", "]")))
  }
}

object Recorder {
  /** Local property naming the driver-side span a job is submitted under. */
  val SpanKey = "graftbench.span"

  final case class Job(id: Int, span: String, start: Long) {
    var end: Long = 0L
  }

  final class Stage(val id: Int, val attempt: Int) {
    var submitted, completed = 0L
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, delayMs = 0L
    var shuffleWrite, shuffleWriteNs, shuffleRead, fetchWaitMs, spill, result, inputRows = 0L
  }

  final case class Catalyst(func: String, phases: Map[String, (Long, Long)])
}

/** Minimal JSON writer: the harness emits only numbers, strings, booleans,
  * lists and objects, so a library would add nothing. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => arr(xs)
    case x => str(x.toString)
  }

  def arr(xs: Iterable[_]): String = xs.map(value).mkString("[", ",", "]")

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
