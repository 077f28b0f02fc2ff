package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Minimal JSON writer for the harness's own outputs (numbers, strings,
  * booleans, nested maps and sequences). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** In-memory spans (name, start, end, parent, run id), written once at
  * exit. Disabled unless the run is traced; `span` then only runs the
  * body. Spans open on the harness thread, so a plain stack gives the
  * parent. */
final class Tracer(val enabled: Boolean, runId: String) {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  // epoch-anchored nanoTime, so span times line up with progress events
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, nowNs)
      }
    }

  /** A span measured elsewhere (a micro-batch, from its progress event),
    * parented to the innermost open span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, stack.headOption.getOrElse(0), name, startNs, endNs)
      nextId += 1
    }

  def write(path: java.nio.file.Path): Unit =
    if (enabled) {
      val lines = spans.sortBy(_.startNs).map { s =>
        Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }
      java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
    }
}

/** Spark-engine counters read from the public [[SparkListener]] events:
  * job, stage and task counts, executor run and CPU time, shuffle, spill,
  * GC, and per-stage task-time skew (max over median). Registered only in
  * traced windows. */
final class EngineStats extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs = 0L
  private val stageTaskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val skews = ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.length >= 2) {
        val sorted = ds.sorted
        val med = math.max(1L, sorted(sorted.length / 2))
        skews += sorted.last.toDouble / med
      }
    }
  }

  /** Totals divided by `units` (passes or micro-batches). */
  def perUnit(units: Int): Map[String, Double] = synchronized {
    val u = math.max(1, units).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs / u,
      "spark.stages" -> stages / u,
      "spark.tasks" -> tasks / u,
      "spark.executor_run_s" -> runMs / 1e3 / u,
      "spark.executor_cpu_s" -> cpuNs / 1e9 / u,
      "spark.task_skew" -> Stats.median(skews.toSeq),
      "spark.shuffle_read_mb" -> shuffleRead / mb / u,
      "spark.shuffle_write_mb" -> shuffleWrite / mb / u,
      "spark.spill_mb" -> spill / mb / u,
      "spark.gc_s" -> gcMs / 1e3 / u)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
