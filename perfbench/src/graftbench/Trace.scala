package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

/** Spark engine counters of one attribution key (a leg or a span). */
final class EngineCounters {
  var jobs = 0L
  var stages = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "executor_cpu_s" -> cpuNs / 1e9,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0, "task_skew" -> Stats.skew(taskMs.toSeq))
}

/** Attributes Spark listener events to the leg and span the harness set as
  * job-local properties when it submitted the work. */
final class EngineListener extends SparkListener {
  private val byKey = mutable.Map[String, EngineCounters]()
  private val stageKeys = mutable.Map[Int, Seq[String]]()

  private def counters(k: String) = byKey.getOrElseUpdate(k, new EngineCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val keys = Seq(Trace.LegProp, Trace.SpanProp)
      .flatMap(p => props.flatMap(x => Option(x.getProperty(p))))
      .filter(_.nonEmpty)
    keys.foreach(k => counters(k).jobs += 1)
    e.stageIds.foreach(s => stageKeys(s) = keys)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val keys = stageKeys.getOrElse(info.stageId, Nil)
    val m = info.taskMetrics
    keys.foreach { k =>
      val c = counters(k)
      c.stages += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val keys = stageKeys.getOrElse(e.stageId, Nil)
    if (e.taskInfo != null) keys.foreach(k => counters(k).taskMs += e.taskInfo.duration)
  }

  def get(k: String): Map[String, Any] = synchronized {
    byKey.get(k).map(_.toMap).getOrElse(new EngineCounters().toMap)
  }
}

/** One span: a call the harness made into a layer's public function. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, var endNs: Long = 0L)

/** Spans around the harness's calls into each layer, kept in memory and
  * written when the run ends. When disabled, `span` runs its body only; the
  * untraced run installs no listener and sets no properties. */
final class Trace(val enabled: Boolean, val runId: String, sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  val listener: Option[EngineListener] =
    if (enabled) { val l = new EngineListener; sc.addSparkListener(l); Some(l) } else None

  def span[A](name: String, leg: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name, runId,
        System.nanoTime())
      spans += s
      val prevSpan = sc.getLocalProperty(Trace.SpanProp)
      val prevLeg = sc.getLocalProperty(Trace.LegProp)
      stack = s :: stack
      sc.setLocalProperty(Trace.SpanProp, s"span-${s.id}")
      if (leg != null) sc.setLocalProperty(Trace.LegProp, leg)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProp, prevSpan)
        sc.setLocalProperty(Trace.LegProp, prevLeg)
      }
    }

  /** Block until every queued listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.Bus.drain(sc)

  def leg(name: String): Map[String, Any] =
    listener.map(_.get(name)).getOrElse(new EngineCounters().toMap)

  /** Self time of each span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  def write(path: String): Unit = {
    val self = selfNs
    val lines = spans.map { s =>
      val eng = listener.map(_.get(s"span-${s.id}")).getOrElse(Map.empty)
      Json(Map("run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "dur_s" -> (s.endNs - s.startNs) / 1e9, "self_s" -> self(s.id) / 1e9,
        "engine" -> eng))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanProp = "graftbench.span"
  val LegProp = "graftbench.leg"
}
