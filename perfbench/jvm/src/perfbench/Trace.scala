package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Wall-clock seconds since the epoch at microsecond resolution, so
  * JVM timestamps line up with the launching process's clock.
  */
object Clock {
  def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
}

/** One traced interval: a call into a layer, nested under `parent`
  * (-1 at top level). All spans of one JVM share the tracer's run id.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int, start: Double, end: Double) {
  def seconds: Double = end - start
}

/** In-memory span recorder for the single harness thread. The layer of
  * the innermost open span is published as a SparkContext local
  * property, so [[ExecListener]] can charge each job to the layer that
  * launched it.
  */
final class Tracer(val runId: String, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, layer) :: open
    sc.setLocalProperty(Tracer.LayerKey, layer)
    val start = Clock.now()
    try body
    finally {
      done += Span(id, layer, name, parent, start, Clock.now())
      open = open.tail
      sc.setLocalProperty(Tracer.LayerKey, open.headOption.map(_._2).orNull)
    }
  }

  /** Record an interval measured outside a span: before the tracer
    * existed (JVM start), or inside a call the harness cannot wrap.
    */
  def record(layer: String, name: String, start: Double, end: Double, parent: Int = -1): Unit = {
    done += Span(nextId, layer, name, parent, start, end)
    nextId += 1
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Self time per layer over the spans started at or after `from`:
    * each span's duration minus the part of it its child spans cover.
    */
  def selfSeconds(from: Double): Map[String, Double] = {
    val in = spans.filter(_.start >= from)
    val childTime = in.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    in.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.map(s => Map(
    "run" -> runId, "id" -> s.id, "layer" -> s.layer, "name" -> s.name,
    "parent" -> s.parent, "start" -> s.start, "end" -> s.end))
}

object Tracer {
  val LayerKey = "perfbench.layer"
}

/** Executor-side totals, as a value so a region's cost is `after - before`. */
final case class ExecCounts(
    jobs: Map[String, Int] = Map.empty,
    stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, input: Long = 0,
    worstSkew: Double = 0.0) {
  private def combine(o: ExecCounts, sign: Int, skew: Double) = ExecCounts(
    (jobs.keySet ++ o.jobs.keySet).map(k => k -> (jobs.getOrElse(k, 0) + sign * o.jobs.getOrElse(k, 0))).toMap,
    stages + sign * o.stages, tasks + sign * o.tasks, failedTasks + sign * o.failedTasks,
    runMs + sign * o.runMs, cpuNs + sign * o.cpuNs, gcMs + sign * o.gcMs,
    shuffleRead + sign * o.shuffleRead, shuffleWrite + sign * o.shuffleWrite,
    spill + sign * o.spill, input + sign * o.input, skew)
  /** The region between two snapshots; the later one carries its skew. */
  def -(o: ExecCounts): ExecCounts = combine(o, -1, worstSkew)
  def +(o: ExecCounts): ExecCounts = combine(o, 1, math.max(worstSkew, o.worstSkew))
  def totalJobs: Int = jobs.values.sum
}

/** SparkListener for the traced run: jobs per launching layer, stage
  * and task counts, task time split, bytes moved, and task skew (the
  * worst stage's max over median task run time).
  */
final class ExecListener extends SparkListener {
  private var c = ExecCounts()
  private val stageRunMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey))).getOrElse("other")
    c = c.copy(jobs = c.jobs.updated(layer, c.jobs.getOrElse(layer, 0) + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = e.reason != org.apache.spark.Success
    val m = e.taskMetrics
    c = c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + (if (failed) 1 else 0))
    if (m != null) {
      c = c.copy(
        runMs = c.runMs + m.executorRunTime, cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.diskBytesSpilled, input = c.input + m.inputMetrics.bytesRead)
      stageRunMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val times = stageRunMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).map(_.sorted)
    val skew = times.filter(_.size >= 2).map { t =>
      val median = t(t.size / 2)
      if (median > 0) t.last.toDouble / median else 1.0
    }.getOrElse(1.0)
    c = c.copy(stages = c.stages + 1, worstSkew = math.max(c.worstSkew, skew))
  }

  /** Totals after every event posted so far has been handled. The
    * worst-stage skew is reset, so it covers one region at a time.
    */
  def snapshot(sc: SparkContext): ExecCounts = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      val s = c
      c = c.copy(worstSkew = 0.0)
      s
    }
  }
}

/** Attached to an untraced CLI process through `spark.extraListeners`:
  * notes when the SparkContext came up and when the first job started,
  * and writes both to the file named by the `perfbench.marks` system
  * property when the application ends. It records nothing else.
  */
final class CliMarks extends SparkListener {
  @volatile private var appStart = Double.NaN
  @volatile private var firstJob = Double.NaN

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStart = e.time / 1000.0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (firstJob.isNaN) firstJob = e.time / 1000.0

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Option(System.getProperty("perfbench.marks")).foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        Json.write(Map("app_start" -> appStart, "first_job" -> firstJob)))
    }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
