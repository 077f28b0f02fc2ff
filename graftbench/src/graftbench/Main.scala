package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The JVM half of the benchmark, started by run.py with `key=value`
  * arguments. It runs one workload through the shipping session
  * (`GraftSession`, thread count from SPARK_GRAFT_CPUS) and writes
  * `result.json` into the run directory: end-to-end metrics, per-layer
  * metrics (traced runs), attempted and failed operation counts, and the
  * failure messages. Traced runs also write `spans.jsonl`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val runDir = Paths.get(a("run_dir"))
    val traced = a("trace") == "1"
    val seconds = a("seconds").toInt
    val t0Ms = a("t0_ms").toLong
    val tracer = new Tracer(traced, a("run_id"))
    val heap = new HeapPeak
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = tracer.span("setup.session")(GraftSession.getOrCreate("graftbench"))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val r =
      try a("workload") match {
        case "consumer_drain" | "consumer_live" =>
          consumer(spark, a, runDir, seconds, traced, tracer)
        case _ => queries(spark, a, runDir, seconds, traced, tracer)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(Map.empty, Map.empty, 1L, 1L, Seq(s"run aborted: $e"), 0L)
      }
    val setup = Map(
      "setup_s" -> (if (r.timedFromMs > 0) (r.timedFromMs - t0Ms) / 1e3 else Double.NaN),
      "setup.session_s" -> sessionS,
      "setup.fixtures_s" ->
        ((jvmStart - t0Ms) / 1e3 + r.layers.getOrElse("setup.fixtures_s", 0.0)),
      "jvm.heap_after_gc_peak_mb" -> heap.stop())
    val result = Map(
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures,
      "metrics" -> (r.metrics + ("setup_s" -> setup("setup_s"))),
      "layers" -> (r.layers ++ setup - "setup_s"),
      "env" -> Map(
        "jvm" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-X")),
        "spark_master" -> spark.sparkContext.master,
        "spark_version" -> spark.version))
    Files.writeString(runDir.resolve("result.json"), Json(result))
    tracer.write(runDir.resolve("spans.jsonl"))
    spark.stop()
  }

  /** `timedFromMs`: when the first timed operation began (epoch ms). */
  final case class Outcome(metrics: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, failures: Seq[String], timedFromMs: Long)

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def consumer(spark: SparkSession, a: Map[String, String], runDir: Path,
      seconds: Int, traced: Boolean, tracer: Tracer): Outcome = {
    val c = ConsumerConf(live = a("workload") == "consumer_live", rate = a("rate").toDouble,
      fragsPerFile = a("frags_per_file").toInt, frameBytes = a("frame_bytes").toInt,
      replayShare = a("replay_share").toDouble, spacingMs = a("spacing_ms").toLong,
      keepNewest = a("keep_newest").toInt, bucketMs = a("bucket_ms").toLong,
      chunkFiles = a("chunk_files").toInt, warmupFiles = a("warmup_files").toInt,
      warmupBatches = a("warmup_batches").toInt, lateLimitMs = a("late_limit_ms").toLong)
    val consumer = new Consumer(spark, c, runDir, a("seed").toLong, tracer)
    val engine = new EngineStats
    val t0 = System.currentTimeMillis()
    val r = consumer.run(seconds, if (traced) Some(engine) else None)
    val warmupS = r.windows.head.startMs - t0
    def e2e(w: Window) = Map(
      "throughput_mb_s" -> w.throughput,
      "latency_p50_ms" -> Stats.quantile(w.latenciesMs, 0.5),
      "latency_p95_ms" -> Stats.quantile(w.latenciesMs, 0.95),
      "cpu_s_per_mb" -> w.cpuSPerMb,
      "pass_s" -> w.medianBatchS)
    val base = e2e(r.windows.head)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val t = e2e(r.windows.last)
        val overhead =
          if (c.live) t("latency_p50_ms") / base("latency_p50_ms") - 1
          else base("throughput_mb_s") / t("throughput_mb_s") - 1
        r.layers ++ engine.perUnit(r.windows.last.batches.length) ++
          Kernels.measure((0 until 16).map(consumer.payloads.file), tracer) ++ Map(
            "setup.warmup_s" -> warmupS / 1e3,
            "gen.late_max_ms" -> r.lateMaxMs.toDouble,
            "gen.backlog_files" -> r.backlogFiles.toDouble,
            "latency_samples" -> r.windows.last.latenciesMs.length.toDouble,
            "trace.overhead_frac" -> overhead)
      }
    Outcome(base, layers, r.attempted, r.failed, r.failures, r.windows.head.startMs)
  }

  private def queries(spark: SparkSession, a: Map[String, String], runDir: Path,
      seconds: Int, traced: Boolean, tracer: Tracer): Outcome = {
    val names = a("queries").split(",").toSeq
    val q = new Queries(spark, a("data_dir"), runDir, names, tracer)
    val archiveS = q.buildArchive()
    val w0 = System.nanoTime()
    tracer.span("setup.warmup")(q.warmup())
    val warmupS = (System.nanoTime() - w0) / 1e9
    val timedFromMs = System.currentTimeMillis()
    // passes run while the next one fits in the window, at least one;
    // traced runs alternate untraced and traced passes over twice the time
    val engine = new EngineStats
    val untraced, withTrace = scala.collection.mutable.ArrayBuffer.empty[(Pass, Long)]
    val budgetNs = (if (traced) 2L else 1L) * seconds * 1000000000L
    val t0 = System.nanoTime()
    var i = 0
    def fits = { val el = System.nanoTime() - t0; el + el / i <= budgetNs }
    while (i < (if (traced) 2 else 1) || fits) {
      val on = traced && i % 2 == 1
      if (on) spark.sparkContext.addSparkListener(engine)
      val c0 = cpuNs
      val p = q.pass(i)
      (if (on) withTrace else untraced) += ((p, cpuNs - c0))
      if (on) spark.sparkContext.removeSparkListener(engine)
      i += 1
    }
    val mb = q.datasetMb
    def e2e(ps: Seq[(Pass, Long)]) = {
      val passS = Stats.median(ps.map(_._1.seconds))
      val perQueryMs = ps.flatMap(_._1.queries).map { case (_, b, e) => (b + e) * 1e3 }
        .filterNot(_.isNaN)
      Map(
        "throughput_mb_s" -> mb / passS,
        "latency_p50_ms" -> Stats.quantile(perQueryMs, 0.5),
        "latency_p95_ms" -> Stats.quantile(perQueryMs, 0.95),
        "cpu_s_per_mb" -> Stats.median(ps.map(_._2 / 1e9)) / mb,
        "pass_s" -> passS)
    }
    val base = e2e(untraced.toSeq)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val t = withTrace.toSeq
        val perQuery = names.flatMap { n =>
          val rows = t.flatMap(_._1.queries.filter(_._1 == n))
          Seq(s"query.$n.build_s" -> Stats.median(rows.map(_._2).filterNot(_.isNaN)),
            s"query.$n.exec_s" -> Stats.median(rows.map(_._3).filterNot(_.isNaN)))
        }
        val kernels = Kernels.measure(q.payloadFiles(16), tracer)
        perQuery.toMap ++ engine.perUnit(t.length) ++ kernels ++ Map(
          "setup.fixtures_s" -> archiveS,
          "setup.warmup_s" -> warmupS,
          "sources.archive_build_s" -> archiveS,
          "latency_samples" -> t.map(_._1.queries.length).sum.toDouble,
          "trace.overhead_frac" -> (e2e(t)("pass_s") / base("pass_s") - 1))
      }
    Outcome(base, layers, q.attempted, q.failures.length.toLong, q.failures.toSeq,
      timedFromMs)
  }
}

/** Peak heap occupancy right after a collection, summed over the heap
  * pools, from the collectors' GC notifications. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val peak = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    peak.get / 1048576.0
  }
}
