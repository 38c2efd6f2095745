package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are recorded only around the benchmark's
  * own calls into the library; Spark jobs and stages are attached as child
  * spans by the job group the tracer sets before each call. Times are
  * milliseconds since the run's time origin. When tracing is off every
  * call runs bare: no job group, no listener, no spans. */
final class Tracer(traced: Boolean, sc: SparkContext) {

  final case class Span(id: Int, name: String, parent: Int, round: Int,
      startMs: Double, endMs: Double)

  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  private def fromEpoch(ms: Long): Double = ms - originEpochMs

  val spans = ArrayBuffer.empty[Span]
  private var current = -1
  private val listener = new JobListener
  if (traced) sc.addSparkListener(listener)

  /** Spans are recorded only while the measured part of a traced run is
    * on (not during set-up and warmup). */
  var enabled = false
  def start(): Unit = enabled = traced

  /** Run `f` as span `name` of round `round`; jobs it starts carry the
    * job group `name#round#spanId`. */
  def span[T](name: String, round: Int)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = current
      spans += Span(id, name, parent, round, nowMs, Double.NaN)
      current = id
      sc.setJobGroup(s"$name#$round#$id", name, interruptOnCancel = false)
      val t0 = nowMs
      try f
      finally {
        spans(id) = spans(id).copy(startMs = t0, endMs = nowMs)
        current = parent
        if (parent >= 0) {
          val p = spans(parent)
          sc.setJobGroup(s"${p.name}#${p.round}#$parent", p.name, interruptOnCancel = false)
        } else sc.clearJobGroup()
      }
    }

  /** Job and stage spans, parented to the span whose job group started
    * them. Waits (bounded) for the asynchronous listener bus to deliver
    * the end of every started job. */
  def sparkSpans(): Seq[Map[String, Any]] = {
    if (!traced) return Nil
    val deadline = System.nanoTime() + 10_000_000_000L
    while (listener.jobs.values.asScala.exists(_.end < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
    val out = ArrayBuffer.empty[Map[String, Any]]
    val jobs = listener.jobs.values.asScala.toSeq.filter(_.group != null).sortBy(_.id)
    jobs.foreach { j =>
      val parent = j.group.split('#').lift(2).map(_.toInt).getOrElse(-1)
      // a query's stage jobs run on scheduler threads, whose stacks hold
      // no library frame: they take the call site of the query's action
      val site = Option(j.execution).flatMap(e => Option(listener.executions.get(e)))
        .filter(_.nonEmpty).getOrElse(j.site)
      out += Map("kind" -> "job", "id" -> j.id, "parent" -> parent,
        "site" -> site, "start" -> fromEpoch(j.start), "end" -> fromEpoch(j.end))
    }
    val kept = jobs.map(_.id).toSet
    listener.stages.values.asScala.toSeq.filter(s => kept(s.job)).sortBy(_.id).foreach { s =>
      out += Map("kind" -> "stage", "id" -> s.id, "job" -> s.job,
        "start" -> fromEpoch(s.start), "end" -> fromEpoch(s.end), "tasks" -> s.tasks,
        "cpu_ms" -> s.cpuNs / 1e6, "shuffle_write_bytes" -> s.shuffleWrite)
    }
    out.toSeq
  }

  def spanRows: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("kind" -> "span", "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "round" -> s.round, "start" -> s.startMs, "end" -> s.endMs)
  }
}

final class JobRec(val id: Int, val group: String, val execution: String, val site: String,
    val start: Long) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int, val job: Int, val start: Long, val end: Long,
    val tasks: Int, val cpuNs: Long, val shuffleWrite: Long)

/** Records every job (with its call site) and completed stage (with task
  * CPU and shuffle bytes). */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  /** SQL execution id → call site of the action that started it. */
  val executions = new ConcurrentHashMap[String, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId.toString, CallSite.step(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val execution = props.map(_.getProperty("spark.sql.execution.id")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, group, execution, CallSite.step(site), e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.put(i.stageId, new StageRec(i.stageId, stageJob.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
  }
}

/** Call-site attribution: a job belongs to the step named by the file and
  * method of the first library frame of its call site — never the line
  * number, so the attribution survives edits that move code. */
object CallSite {
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.([\w$]+)\(([^:)]+)(?::\d+)?\)\s*$""".r

  /** `"File.scala:Class.method"` of the first library (`graft.`) frame,
    * else of the first benchmark (`graftbench.`) frame, `""` when the
    * stack holds neither. */
  def step(details: String): String = {
    val frames = Option(details).getOrElse("").linesIterator.collect {
      case Frame(cls, method, file) => (cls, s"$file:${cls.split('.').last.stripSuffix("$")}.${cleanMethod(method)}")
    }.toSeq
    frames.find(_._1.startsWith("graft.")).orElse(frames.find(_._1.startsWith("graftbench.")))
      .map(_._2).getOrElse("")
  }

  /** `$anonfun$applyBatch$3` → `applyBatch`. */
  def cleanMethod(m: String): String =
    m.split('$').filter(s => s.nonEmpty && s != "anonfun" && !s.forall(_.isDigit))
      .headOption.getOrElse(m)
}
