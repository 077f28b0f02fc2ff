package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.ConsumerApp

/** Consumer workload settings; run.py holds the values. */
final case class ConsumerConf(live: Boolean, rate: Double, fragsPerFile: Int,
    frameBytes: Int, replayShare: Double, spacingMs: Long, keepNewest: Int,
    bucketMs: Long, chunkFiles: Int, warmupFiles: Int, warmupBatches: Int,
    lateLimitMs: Long)

/** One committed data micro-batch, from its `StreamingQueryProgress`.
  * `cpuNs` and `genCpuNs` are the process and generator-thread CPU clocks
  * read when the progress event arrived. */
final case class Batch(id: Long, startMs: Long, endMs: Long, files: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long,
    droppedLate: Long, cpuNs: Long, genCpuNs: Long)

/** One timed window: its batches, per-file latencies and payload bytes.
  * `cpu0` is the (process, generator) CPU clock pair at the window start. */
final case class Window(startMs: Long, endMs: Long, batches: Seq[Batch],
    latenciesMs: Seq[Double], bytes: Long, cpu0: (Long, Long)) {
  def mb: Double = bytes / 1048576.0
  def throughput: Double = mb / math.max((endMs - startMs) / 1e3, 1e-3)
  /** Process CPU minus the generator's own, per payload MB. */
  def cpuSPerMb: Double = batches.lastOption.map { b =>
    ((b.cpuNs - cpu0._1) - (b.genCpuNs - cpu0._2)) / 1e9 / math.max(mb, 1e-9)
  }.getOrElse(0.0)
  def medianBatchS: Double =
    Stats.median(batches.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3))
}

final case class ConsumerResult(windows: Seq[Window], attempted: Long,
    failed: Long, failures: Seq[String], lateMaxMs: Long, backlogFiles: Long,
    layers: Map[String, Double])

/** `ConsumerApp.start` over a directory fed with seeded payload files.
  *
  *  - drain (backfill): a feeder keeps one chunk of `chunkFiles` files
  *    waiting behind the batch in flight, so the consumer never idles and
  *    every micro-batch takes one whole chunk; a file's latency runs from
  *    its release.
  *  - live (open loop): after a warm-up chunk, a generator thread
  *    releases one file every 1/rate s on a fixed schedule that does not
  *    slow when the consumer does; a file's latency runs from its
  *    scheduled time.
  *
  * Every file is written to a staging directory on the same filesystem
  * and renamed into the watched one, so the source never reads a partial
  * file. File mtimes increase with the file number and the file source
  * takes unseen files oldest first, so data batch k holds exactly the
  * files after those of the batches before it: each progress event's
  * `numInputRows` (one row per file) maps files to the batch that
  * committed them. */
final class Consumer(spark: SparkSession, c: ConsumerConf, runDir: Path,
    seed: Long, tracer: Tracer) {
  private val in = Files.createDirectories(runDir.resolve("in"))
  private val staging = Files.createDirectories(runDir.resolve("staging"))
  private val store = runDir.resolve("store")
  private val ckpt = runDir.resolve("checkpoint")
  val payloads = new Payloads(seed, c.fragsPerFile, c.frameBytes, c.replayShare, c.spacingMs)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  // file ledger indexed by file number, and the data batches; guarded by `this`
  private val sizes = ArrayBuffer.empty[Long]
  private val visibleMs = ArrayBuffer.empty[Long]
  private val lateMs = ArrayBuffer.empty[Long]
  private val batches = ArrayBuffer.empty[Batch]
  @volatile private var genThreadId = -1L
  @volatile private var stopAtMs = Long.MaxValue

  private def released: Int = synchronized(sizes.length)
  private def committed: Long = synchronized(batches.map(_.files).sum)
  private def dataBatches: Int = synchronized(batches.length)
  private def releasedBefore(t: Long): Int = synchronized(visibleMs.count(_ < t))
  /** Drain: a batch starting at or after `t` has committed, so every batch
    * that started before `t` has too. */
  private def lastStartCommitted(t: Long): Boolean =
    synchronized(batches.exists(_.startMs >= t))

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val g = genThreadId
        val ops = p.stateOperators
        val b = Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
          p.numInputRows, d, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.numRowsDroppedByWatermark).sum, os.getProcessCpuTime,
          if (g > 0) math.max(0L, threads.getThreadCpuTime(g)) else 0L)
        Consumer.this.synchronized(batches += b)
      }
    }
  }

  /** Writes file `j` to staging, stamps its mtime and renames it in. A
    * scheduled file (`dueMs` >= 0) is visible from its due time; any
    * other from its release. */
  private def release(j: Int, mtimeMs: Long, dueMs: Long = -1L): Unit = {
    val bytes = payloads.file(j)
    val name = f"payload_$j%08d.mkv"
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    tmp.toFile.setLastModified(mtimeMs)
    Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val now = System.currentTimeMillis()
    synchronized {
      sizes += bytes.length
      visibleMs += (if (dueMs >= 0) dueMs else now)
      lateMs += (if (dueMs >= 0) now - dueMs else 0L)
    }
  }

  private def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => { genThreadId = Thread.currentThread.getId; body }, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Live: file `first + i` is due at t0 + i/rate, whatever the consumer does. */
  private def generator(first: Int): Thread = daemon("graftbench-generator") {
    val t0 = System.currentTimeMillis() + 100
    var i = 0
    var due = t0
    while (due < stopAtMs) {
      val waitMs = due - System.currentTimeMillis()
      if (waitMs > 0) Thread.sleep(waitMs)
      release(first + i, due, due)
      i += 1
      due = t0 + (i * 1000.0 / c.rate).toLong
    }
  }

  /** Drain: chunk i+1 is released as soon as batch i has fixed its input
    * (its entry in the checkpoint's offset log appears), so every trigger
    * finds exactly one whole chunk waiting and no release races a listing. */
  private def feeder(base: Long): Thread = daemon("graftbench-feeder") {
    val offsets = ckpt.resolve("offsets")
    var batch = 0
    while (System.currentTimeMillis() < stopAtMs) {
      if (Files.exists(offsets.resolve(batch.toString))) {
        val from = released
        (from until from + c.chunkFiles).foreach(j => release(j, base + j))
        batch += 1
      } else Thread.sleep(2)
    }
  }

  /** Warm-up, then one timed window of `seconds`, then a drain of
    * everything released and the store check. With `traced`, a second
    * window follows the first with `engine` listening to it alone. */
  def run(seconds: Int, traced: Option[SparkListener]): ConsumerResult = {
    val windows = if (traced.isDefined) 2 else 1
    spark.streams.addListener(listener)
    // the first, cold batch takes a warm-up chunk; the live generator
    // starts once it has committed, so its schedule begins on a warm query
    val base = System.currentTimeMillis() - 86400000L
    (0 until c.warmupFiles).foreach(j => release(j, base + j))
    val query = ConsumerApp.start(spark, in.toString, store.toString, ckpt.toString,
      keepNewest = c.keepNewest, bucketMs = c.bucketMs)
    val source = tracer.span("setup.warmup") {
      val s = if (c.live) {
        await("the cold batch", 150000)(dataBatches >= 1)
        generator(released)
      } else feeder(base)
      await("warm-up batches", 150000)(dataBatches >= c.warmupBatches)
      s
    }
    val out = ArrayBuffer.empty[Window]
    var (startMs, cpu0) = synchronized {
      val b = batches.maxBy(_.id); (b.endMs, (b.cpuNs, b.genCpuNs))
    }
    for (w <- 0 until windows) {
      if (w == 1) traced.foreach(spark.sparkContext.addSparkListener)
      val endMs = startMs + seconds * 1000L
      if (w == windows - 1) stopAtMs = endMs
      val win = tracer.span(s"window.$w") {
        Thread.sleep(math.max(0L, endMs - System.currentTimeMillis()))
        // the window holds the files due inside it (live) or the batches
        // that started inside it (drain); wait for all of them to commit
        if (c.live) await("window batches", 60000)(committed >= releasedBefore(endMs))
        else if (w < windows - 1)
          await("window batches", 60000)(lastStartCommitted(endMs))
        else {
          // the feeder has stopped: the batch in flight takes the last chunk
          source.join(60000)
          await("window batches", 60000)(committed >= released)
        }
        val win = window(startMs, endMs, cpu0)
        win.batches.foreach { b =>
          tracer.record(s"micro_batch.${b.id}", b.startMs * 1000000L, b.endMs * 1000000L)
        }
        win
      }
      if (w == 1) traced.foreach(spark.sparkContext.removeSparkListener)
      out += win
      win.batches.lastOption.foreach { b => startMs = b.endMs; cpu0 = (b.cpuNs, b.genCpuNs) }
      if (c.live) startMs = endMs
    }
    source.join(60000)
    val total = released
    tracer.span("consumer.drain")(await("the drain of released files", 90000)(committed >= total))
    query.stop()
    spark.streams.removeListener(listener)
    val (attempted, failed, storeFailures) = tracer.span("consumer.check")(check(total))
    val (lateMax, backlog, genFailures) = generatorChecks(out.toSeq)
    ConsumerResult(out.toSeq, attempted, failed + genFailures.length,
      storeFailures ++ genFailures, lateMax, backlog,
      streamLayers(out.last) ++ storeLayers())
  }

  /** Batch id -> [first file, end file), in commit order. */
  private def ranges: Map[Long, (Int, Int)] = synchronized {
    var cum = 0
    batches.sortBy(_.id).map { b =>
      val r = b.id -> ((cum, cum + b.files.toInt)); cum += b.files.toInt; r
    }.toMap
  }

  private def window(startMs: Long, endMs: Long, cpu0: (Long, Long)): Window = synchronized {
    val rs = ranges
    val sorted = batches.sortBy(_.id)
    def batchOf(j: Int) = sorted.find(b => rs(b.id)._1 <= j && j < rs(b.id)._2)
    // latency covers the files that became visible inside the window, so
    // a drain window's first chunk, released while the last warm-up batch
    // ran, does not carry that batch's duration
    val timed = visibleMs.indices.filter(j => visibleMs(j) >= startMs && visibleMs(j) < endMs)
    val (files, ws) =
      if (c.live) (timed, timed.flatMap(batchOf).distinct)
      else {
        val bs = sorted.filter(b => b.endMs > startMs && b.startMs < endMs)
        (bs.flatMap(b => rs(b.id)._1 until rs(b.id)._2), bs)
      }
    val lat = timed.flatMap(j => batchOf(j).map(b => (b.endMs - visibleMs(j)).toDouble))
    Window(startMs, ws.lastOption.map(_.endMs).getOrElse(endMs), ws.toSeq, lat.toSeq,
      files.map(sizes(_)).sum, cpu0)
  }

  /** Live only: the generator's worst lateness over the timed files, the
    * backlog at the end, and a failure if it fell behind schedule or the
    * backlog (released minus committed files) grew over the run. */
  private def generatorChecks(ws: Seq[Window]): (Long, Long, Seq[String]) = synchronized {
    if (!c.live) return (0L, 0L, Nil)
    val rs = ranges
    def backlog(t: Long): Long = visibleMs.count(_ <= t) -
      batches.filter(_.endMs <= t).map(b => rs(b.id)._2 - rs(b.id)._1).sum
    val (t0, t1) = (ws.head.startMs, stopAtMs)
    val timed = visibleMs.indices.filter(j => visibleMs(j) >= t0 && visibleMs(j) < t1)
    val lateMax = if (timed.isEmpty) 0L else timed.map(lateMs(_)).max
    val perBatch = Stats.median(ws.flatMap(_.batches).map(_.files.toDouble))
    val (b0, b1) = (backlog(t0), backlog(t1))
    (lateMax, b1, Seq(
      if (lateMax > c.lateLimitMs) Some(s"generator fell behind schedule by $lateMax ms") else None,
      // plus one second of arrivals, so that one slow batch in flight at
      // the end of the window does not read as a growing backlog
      if (b1 > 2 * math.max(b0.toDouble, perBatch) + c.rate)
        Some(s"backlog grew from $b0 to $b1 files") else None).flatten)
  }

  /** Every released fragment in the newest `keepNewest` buckets is stored
    * exactly once despite the replays, no other fragment is stored, and
    * exactly those buckets remain. Returns (fragments released, failed
    * fragments, failure messages). */
  private def check(releasedFiles: Int): (Long, Long, Seq[String]) = {
    val expected = (0 until releasedFiles).flatMap(j => payloads.fresh(j))
      .map(n => n.toLong -> payloads.producerMs(n) / c.bucketMs)
    val keep = expected.map(_._2).distinct.sorted.takeRight(c.keepNewest).toSet
    val want = expected.filter(e => keep(e._2)).map(_._1).toSet
    val stored = spark.read.parquet(store.toString)
      .select(col("fragment_number"), col("bucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val counts = stored.groupBy(_._1).map { case (k, v) => k -> v.length }
    val missing = want.count(n => !counts.contains(n))
    val dups = counts.values.map(_ - 1).sum
    val unexpected = counts.keys.count(n => !want(n))
    val buckets = stored.map(_._2).toSet
    val bucketsWrong = buckets != keep
    (expected.length.toLong, missing + dups + unexpected + (if (bucketsWrong) 1 else 0), Seq(
      if (missing > 0) Some(s"$missing fragments missing from the store") else None,
      if (dups > 0) Some(s"$dups fragments stored more than once") else None,
      if (unexpected > 0) Some(s"$unexpected fragments stored outside the retained buckets") else None,
      if (bucketsWrong) Some(s"store holds ${buckets.size} buckets, expected the newest ${keep.size}")
      else None).flatten)
  }

  private def streamLayers(w: Window): Map[String, Double] = {
    val bs = w.batches
    def med(keys: String*) = Stats.median(bs.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble))
    Map(
      "streaming.batches" -> bs.length.toDouble,
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.commit_ms" -> med("walCommit", "commitOffsets"),
      "streaming.rows_per_batch" -> Stats.median(bs.map(_.files.toDouble)),
      "streaming.state_rows" -> bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mem_mb" -> bs.lastOption.map(_.stateBytes / 1048576.0).getOrElse(0.0),
      "streaming.late_rows_dropped" -> bs.map(_.droppedLate).sum.toDouble)
  }

  private def storeLayers(): Map[String, Double] = {
    val buckets = Option(store.toFile.listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    val files = Files.walk(store).filter(_.toString.endsWith(".parquet")).count()
    Map("sources.buckets_retained" -> buckets.toDouble, "sources.store_files" -> files.toDouble)
  }
}
