package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
  }

  def toMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.task_run_s" -> taskRunMs / 1e3,
    "spark.task_cpu_s" -> taskCpuNs / 1e9,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.scheduler_delay_s" -> schedDelayMs / 1e3,
    "spark.shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spark.shuffle_records" -> shuffleRecords.toDouble,
    "spark.fetch_wait_s" -> fetchWaitMs / 1e3,
    "spark.spill_mb" -> spillBytes / 1e6)
}

/** Attributes every Spark job, stage and task to the span that was
  * innermost on the driver when the job was submitted. The span id travels
  * as a job local property, so attribution is exact even though listener
  * events arrive asynchronously. Events are delivered on one thread. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()

  private def of(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  def counters(span: Int): Counters = of(span)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      val info = e.taskInfo
      if (info != null && info.finished) {
        // the Spark UI's definition of scheduler delay
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }
}

final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each graft layer. Spans are kept
  * in memory and written once, when the run ends. A disabled tracer only
  * runs the body. */
final class Tracer(val enabled: Boolean, sc: SparkContext,
                   val listener: SpanListener, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  /** Catalyst phase seconds of the terminal action run inside a span. */
  val phases = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  private var stack = List.empty[Int]

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String, kind: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, current, name, kind, System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def subtree(id: Int): Seq[Span] =
    spans(id) +: children(id).flatMap(c => subtree(c.id))

  /** Counters of the span and every span below it. */
  def inclusive(id: Int): Counters = {
    val c = new Counters
    subtree(id).foreach(s => c.add(listener.counters(s.id)))
    c
  }

  /** Span time not covered by its children (children run sequentially). */
  def selfSeconds(id: Int): Double =
    spans(id).seconds - children(id).map(_.seconds).sum

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    val own = listener.counters(s.id).toMap
    val ph = phases.getOrElse(s.id, Map.empty)
    val fields = Seq(
      s""""run":${Json.str(runId)}""", s""""id":${s.id}""",
      s""""parent":${s.parent}""", s""""name":${Json.str(s.name)}""",
      s""""kind":${Json.str(s.kind)}""", s""""start_ns":${s.startNs}""",
      s""""end_ns":${s.endNs}""", s""""self_s":${selfSeconds(s.id)}""",
      s""""counters":${Json.obj(own)}""", s""""catalyst":${Json.obj(ph)}""")
    fields.mkString("{", ",", "}")
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
}
