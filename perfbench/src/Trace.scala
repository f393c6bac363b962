package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** One clock for spans and Spark events: wall-clock microseconds derived
  * from `nanoTime`, so span edges are sub-millisecond while staying
  * comparable with the millisecond submission times on job events.
  */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def us(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** A closed span: run, pass, call, or a call phase. */
final case class Span(
    id: Int, parent: Int, kind: String, name: String, startUs: Long, endUs: Long)

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def open(): Int = { next += 1; next }
  def close(id: Int, parent: Int, kind: String, name: String, startUs: Long): Long = {
    val end = Clock.us()
    buf += Span(id, parent, kind, name, startUs, end)
    end
  }
  def all: Seq[Span] = buf.toSeq
}

/** Job and stage records, from a listener the benchmark owns. A job keeps
  * its submission time (the event's own timestamp, not the time the event
  * reached the listener: the bus is asynchronous) and the call-site text of
  * its result stage, from which the post-processing reads its layer.
  */
final class JobRecorder extends SparkListener {
  final case class Job(id: Int, submitMs: Long, details: String, stages: Seq[Int])
  final case class Stage(
      id: Int, tasks: Int, runMs: Long, shuffleWrite: Long, spill: Long,
      input: Long, result: Long)
  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs.add(Job(e.jobId, e.time, last.map(_.details).getOrElse(""),
      e.stageInfos.map(_.stageId)))
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.put(e.jobId, e.time); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Stage(i.stageId, i.numTasks, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.resultSize))
    ()
  }

  def jobsJson: Seq[Map[String, Any]] = jobs.asScala.toSeq.map { j =>
    Map("id" -> j.id, "submit_ms" -> j.submitMs,
      "end_ms" -> Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(-1L),
      "details" -> j.details, "stages" -> j.stages)
  }
  def stagesJson: Seq[Map[String, Any]] = stages.asScala.toSeq.map { s =>
    Map("id" -> s.id, "tasks" -> s.tasks, "run_ms" -> s.runMs,
      "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
      "input" -> s.input, "result" -> s.result)
  }
}

/** Minimal JSON writer for the raw record the runner post-processes. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
