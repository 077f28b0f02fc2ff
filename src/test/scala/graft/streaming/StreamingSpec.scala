package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.streaming.EventStreams.{Event, Msg, QueueOut}

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("windowed rates aggregate a live stream like the batch form (B8)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.windowedRates(input.toDF())
      .writeStream.format("memory").queryName("rates")
      .outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 11, "click", 1.0),
        Event(3, ts(11), 10, "view", 1.0))
      query.processAllAvailable()
      val rows = spark.sql("select event_type, sum(n) from rates group by 1 order by 1")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSet == Set(("click", 2L), ("view", 1L)))
    } finally query.stop()
  }

  test("live codec-mix monitor dispatches per CodecID and windows the census (G24 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ebml.EbmlFunctions
    import graft.plans.{CodecPrivateKernels, HevcKernels, NalKernels}
    val input = MemoryStream[Array[Byte]]
    val query = EventStreams.codecMixStream(
        input.toDF().withColumnRenamed("value", "blob"))
      .writeStream.format("memory").queryName("codec_mix")
      .outputMode("update").start()
    def frag(id: Long, uid: Long, minute: Int): Array[Byte] = {
      val avc = uid % 2 == 0
      EbmlFunctions.buildFragmentTrack(id, ts(minute).getTime, uid, 0L,
        if (avc) "V_MPEG4/ISO/AVC" else "V_MPEGH/ISO/HEVC",
        if (avc) CodecPrivateKernels.avccEncode(id, uid)
        else CodecPrivateKernels.hvccEncode(id, uid),
        if (avc) NalKernels.h264Encode(id, uid)
        else HevcKernels.hevcEncode(id, uid))
    }
    try {
      // window [0,10): AVC ids 0 (IDR event: 1 slice kf) and 2
      // (3 slices, no IDR); HEVC id 4 (IRAP, 2 slices) — mixed batch
      input.addData(frag(0L, 2L, 1), frag(2L, 4L, 3), frag(4L, 1L, 5))
      query.processAllAvailable()
      // second batch opens window [10,20): HEVC id 1 (no IRAP, 2
      // slices) — a fresh window so the update-mode sink holds exactly
      // one version of every (window, codec) row
      input.addData(frag(1L, 3L, 17))
      query.processAllAvailable()
      val rows = spark.sql(
        """select codec_id, sum(n_fragments), sum(n_keyframes),
           sum(slice_rbsp_bytes) from codec_mix group by 1 order by 1""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // AVC: ids 0+2 -> 1+3 slices, kf only from id 0 (1 slice IDR),
      // rbsp 15/slice; HEVC: ids 4+1 -> 2+2 slices, kf from id 4 (IRAP
      // pair), rbsp 16/slice
      assert(rows.toSeq == Seq(
        ("V_MPEGH/ISO/HEVC", 2L, 2L, 16L * 4),
        ("V_MPEG4/ISO/AVC", 2L, 1L, 15L * 4)).sortBy(_._1))
    } finally query.stop()
  }

  test("live GOP-health monitor routes a MIXED fleet through per-codec slice-header censuses (G22/G25 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ebml.EbmlFunctions
    import graft.plans.{CodecPrivateKernels, GopKernels, HevcGopKernels}
    val input = MemoryStream[Array[Byte]]
    val query = EventStreams.gopHealthStream(
        input.toDF().withColumnRenamed("value", "blob"))
      .writeStream.format("memory").queryName("gop_health")
      .outputMode("update").start()
    // even uid → AVC ladder, odd uid → HEVC ladder (the G24 fleet rule)
    def frag(id: Long, uid: Long, minute: Int): Array[Byte] =
      if (uid % 2 == 0)
        EbmlFunctions.buildFragmentTrack(id, ts(minute).getTime, uid, 0L,
          "V_MPEG4/ISO/AVC", CodecPrivateKernels.avccEncode(id, uid),
          GopKernels.h264GopEncode(id, uid))
      else
        EbmlFunctions.buildFragmentTrack(id, ts(minute).getTime, uid, 0L,
          "V_MPEGH/ISO/HEVC", CodecPrivateKernels.hvccEncode(id, uid),
          HevcGopKernels.hevcGopEncode(id, uid))
    try {
      // window [0,10): AVC event (0, uid 4) + HEVC event (1, uid 5);
      // batch 2 opens window [10,20) with HEVC event (2, uid 5) and a
      // Tracks-less fragment — it must surface as a VISIBLE 'unknown'
      // bucket (counted, null census), never silently vanish
      input.addData(frag(0L, 4L, 1), frag(1L, 5L, 4))
      query.processAllAvailable()
      input.addData(frag(2L, 5L, 12),
        EbmlFunctions.buildFragmentFrame(9L, ts(13).getTime, 6L, 0L,
          Array[Byte](1, 2, 3)))
      query.processAllAvailable()
      val unknown = spark.sql(
        """select sum(n_fragments), count(n_slices) from gop_health
           where codec_id = 'unknown'""").collect()(0)
      assert(unknown.getLong(0) == 1L && unknown.getLong(1) == 0L,
        "Tracks-less fragments must land in a counted 'unknown' bucket")
      val got = spark.sql(
        """select codec_id, sum(n_fragments), sum(n_slices), sum(n_i),
           sum(n_p), sum(n_b) from gop_health
           where codec_id <> 'unknown' group by 1 order by 1""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      // replay the shared ladder: event e has m = 1 + e%4 post-anchor
      // frames, P where (i + uid) % 3 == 0 for i in 1..m
      def ladder(e: Long, uid: Long) = {
        val m = (1 + e % 4).toInt
        val nP = (1 to m).count(i => (i + uid) % 3 == 0)
        (1L + m, 1L, nP.toLong, (m - nP).toLong)
      }
      val avc = ladder(0L, 4L)
      val hevc = Seq(ladder(1L, 5L), ladder(2L, 5L))
      assert(got.toSeq == Seq(
        ("V_MPEG4/ISO/AVC", 1L, avc._1, avc._2, avc._3, avc._4),
        ("V_MPEGH/ISO/HEVC", 2L, hevc.map(_._1).sum, hevc.map(_._2).sum,
          hevc.map(_._3).sum, hevc.map(_._4).sum)).sortBy(_._1))
    } finally query.stop()
  }

  test("late-data accounting: the watermark drops stragglers, visibly in progress metrics (B8/B29)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.windowedRates(input.toDF())
      .writeStream.format("memory").queryName("rates_late")
      .outputMode("update").start()
    try {
      input.addData(Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(30), 10, "view", 1.0)) // watermark -> ~:29
      query.processAllAvailable()
      // a straggler an hour behind the watermark: silently EXCLUDED
      // from results, but ACCOUNTED in numRowsDroppedByWatermark — the
      // operational counter a pipeline alarms on before trusting the
      // aggregates (the reference's millis-behind-latest role)
      input.addData(Event(3, ts(2), 10, "click", 1.0))
      query.processAllAvailable()
      val dropped = query.lastProgress.stateOperators.head.numRowsDroppedByWatermark
      assert(dropped == 1L, s"expected the straggler accounted, got $dropped")
      val clicks = spark.sql(
        "select sum(n) from rates_late where event_type = 'click'")
        .collect()(0).getLong(0)
      assert(clicks == 1L, "the dropped straggler must not reach the aggregate")
    } finally query.stop()
  }

  test("session windows split on gaps and close on watermark (B7 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.sessionRates(input.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 10: two events 1 min apart (one session), then a 28-min
      // pause (second session); user 99 only advances the watermark
      input.addData(
        Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "click", 1.0),
        Event(3, ts(30), 10, "click", 1.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(59), 99, "click", 1.0))
      query.processAllAvailable()
      val rows = spark.sql(
        "select user_id, n from sessions where user_id = 10 order by session_start")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((10L, 2L), (10L, 1L)))
    } finally query.stop()
  }

  test("stream-stream interval join matches markers and null-extends after the watermark (B22)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = MemoryStream[Event]
    val mk = MemoryStream[Msg]
    val query = EventStreams.intervalJoin(ev.toDF(), mk.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      // user 10: marker at t=1; event at t=2 (inside the 10-min span →
      // matched) and event at t=30 (outside → must null-extend, but only
      // AFTER the watermark closes its join window)
      mk.addData(Msg(10, ts(1), "marker", 100))
      ev.addData(Event(1, ts(2), 10, "click", 1.0),
        Event(2, ts(30), 10, "click", 1.0))
      query.processAllAvailable()
      // push BOTH watermarks far past every open window (the join's
      // watermark is the min across inputs) — two steps so the
      // null-extension provably comes from eviction, not stream end
      mk.addData(Msg(99, ts(120), "marker", 999))
      ev.addData(Event(9, ts(120), 99, "click", 1.0))
      query.processAllAvailable()
      mk.addData(Msg(98, ts(180), "marker", 998))
      ev.addData(Event(8, ts(180), 98, "click", 1.0))
      query.processAllAvailable()
      val rows = spark.sql(
        "select event_id, marker_id from ssjoin where user_id = 10 order by event_id")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(rows.toSeq == Seq((1L, Some(100L)), (2L, None)))
    } finally query.stop()
  }

  test("frame thinning keeps the sequential-greedy set across micro-batches (G5b twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.{Frame, Kept}
    val input = MemoryStream[Frame]
    // span 120s: a kept frame resets the window from ITS time — frame at
    // :03 is dropped (only 60s past the kept :02), frame at :04 kept
    val query = EventStreams.thinFrames(input.toDS(), minSpanMs = 120000L)
      .writeStream.format("memory").queryName("thinned")
      .outputMode("append").start()
    try {
      input.addData(
        Frame(1L, ts(0), 100L), Frame(1L, ts(1), 101L), Frame(1L, ts(2), 102L),
        Frame(2L, ts(0), 200L))
      query.processAllAvailable()
      // second batch continues from the first batch's state (last kept :02)
      input.addData(Frame(1L, ts(3), 103L), Frame(1L, ts(4), 104L))
      query.processAllAvailable()
      val kept = spark.sql("select stream_id, frame_id from thinned order by 1, 2")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(kept.toSeq == Seq((1L, 100L), (1L, 102L), (1L, 104L), (2L, 200L)))
    } finally query.stop()
  }

  test("frame thinning evicts idle streams and revives them fresh") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.Frame
    def at(hhmmss: String) = Timestamp.valueOf(s"2024-01-01 $hhmmss")
    val input = MemoryStream[Frame]
    // minSpan 4h with retention 30min: if stream 1's state SURVIVED the
    // idle gap, its 02:00 frame (2h past the kept 00:00) would be
    // dropped; eviction at watermark > 00:00+30min means the revived
    // stream restarts fresh and the frame is kept
    val query = EventStreams.thinFrames(input.toDS(),
        minSpanMs = 4L * 3600 * 1000, idleRetentionMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("thin_evict")
      .outputMode("append").start()
    try {
      input.addData(Frame(1L, at("00:00:00"), 100L), Frame(2L, at("00:00:00"), 200L))
      query.processAllAvailable()
      // stream 2 advances the watermark to 02:00-1min, far past stream
      // 1's 00:30 timeout; the timeout itself fires in the NEXT batch
      input.addData(Frame(2L, at("02:00:00"), 201L))
      query.processAllAvailable()
      input.addData(Frame(2L, at("02:00:30"), 202L))
      query.processAllAvailable()
      val nStates = query.lastProgress.stateOperators.head.numRowsTotal
      assert(nStates == 1L, s"idle stream 1 not evicted: $nStates state rows")
      // revived stream 1: fresh state, so the first frame is kept even
      // though it is within minSpan of the pre-eviction kept frame
      input.addData(Frame(1L, at("02:00:00"), 101L))
      query.processAllAvailable()
      val kept = spark.sql("select stream_id, frame_id from thin_evict order by 1, 2")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(kept.toSeq == Seq((1L, 100L), (1L, 101L), (2L, 200L)))
    } finally query.stop()
  }

  test("transcript stream: watermark-closed sessions ≡ batch assembly, cross-batch stitching (B28 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.Event
    def at(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val input = MemoryStream[Event]
    val query = EventStreams.transcriptStream(input.toDS())
      .writeStream.format("memory").queryName("transcripts")
      .outputMode("append").start()
    try {
      // session A of user 1 spans two micro-batches (stitching);
      // user 2's clock is the watermark driver
      input.addData(
        Event(1L, at("00:00:00"), 1L, "a", 0),
        Event(2L, at("00:10:00"), 1L, "b", 0),
        Event(9L, at("00:10:00"), 2L, "x", 0))
      query.processAllAvailable()
      input.addData(Event(3L, at("00:20:00"), 1L, "c", 0))
      query.processAllAvailable()
      // nothing is closable yet: watermark ~ 00:19, session A open
      assert(spark.sql("select * from transcripts").count() == 0)
      // user 1's SECOND session starts 2h later: its first event pushes
      // the watermark past session A's end + gap, closing A (next batch)
      input.addData(Event(4L, at("02:30:00"), 1L, "d", 0))
      query.processAllAvailable()
      input.addData(Event(5L, at("02:40:00"), 1L, "e", 0))
      query.processAllAvailable()
      val afterA = spark.sql(
        "select user_id, transcript from transcripts order by 1")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      // session A closes exactly once; user 2's idle "x" session timed
      // out at the same watermark advance
      assert(afterA.toSet == Set((1L, "a>b>c"), (2L, "x")),
        s"unexpected closures: ${afterA.mkString(",")}")
      // idle flush: advance the watermark far past everything via the
      // driver user, then one more nudge batch fires the timeouts
      input.addData(Event(10L, at("09:00:00"), 2L, "y", 0))
      query.processAllAvailable()
      input.addData(Event(11L, at("09:00:01"), 2L, "z", 0))
      query.processAllAvailable()
      input.addData(Event(12L, at("23:00:00"), 3L, "w", 0))
      query.processAllAvailable()
      input.addData(Event(13L, at("23:00:02"), 3L, "w2", 0))
      query.processAllAvailable()
      val got = spark.sql(
        "select user_id, start_ms, n_turns, dur_ms, transcript from transcripts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      // batch twin over the union of every in-watermark event
      val all = Seq(
        (1L, 1L, at("00:00:00")), (1L, 2L, at("00:10:00")),
        (1L, 3L, at("00:20:00")), (1L, 4L, at("02:30:00")),
        (1L, 5L, at("02:40:00")), (2L, 9L, at("00:10:00")),
        (2L, 10L, at("09:00:00")), (2L, 11L, at("09:00:01")))
      val batchDf = all.map { case (u, id, ts) =>
        (u, id, ts.getTime, Seq("", "a", "b", "c", "d", "e", "", "", "",
          "x", "y", "z")(id.toInt)) }
        .toDF("user_id", "event_id", "ts_ms", "event_type")
      val expect = graft.operators.EventOps.sessionTranscriptsOf(batchDf)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      // streamed rows must be exactly the batch sessions of the flushed
      // users (user 3's session is still open -> absent from the stream)
      assert(got.map(x => (x._1, x._3, x._4, x._5)) == expect,
        s"stream=$got\nbatch=$expect")
    } finally query.stop()
  }

  test("rate-anomaly stream: buckets close once, silent gaps count as zero, z matches the trailing form (B25 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.Event
    def ev(id: Long, sec: Long, typ: String) =
      Event(id, new Timestamp(sec * 1000L), 1L, typ, 0)
    val input = MemoryStream[Event]
    val query = EventStreams.rateAnomalyStream(input.toDS(),
        widthMs = 60000L, trail = 3)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      // type-a counts per 1-min bucket: 0->2, 1->1, 2->3, then a 10x
      // spike in 3, 4->1, 5 SILENT, 6->2; type b drives the watermark
      var id = 0L
      def burst(bucket: Long, n: Int): Seq[Event] =
        (1 to n).map { i => id += 1; ev(id, bucket * 60 + i, "a") }
      input.addData(burst(0, 2) ++ burst(1, 1) ++ burst(2, 3) :+ ev(900L, 0, "b"))
      query.processAllAvailable()
      input.addData(burst(3, 10) ++ burst(4, 1) ++ burst(6, 2) :+ ev(901L, 1200, "b"))
      query.processAllAvailable()
      input.addData(burst(30, 1))
      query.processAllAvailable()
      val got = spark.sql(
        """select bucket, n, z4, is_spike from anomalies
           where event_type = 'a' order by bucket""")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      // reference: the batch trailing-window math over the closed series
      val series = Seq(2L, 1L, 3L, 10L, 1L, 0L, 2L)
      val expect = series.zipWithIndex.map { case (n, b) =>
        if (b < 3) (b.toLong, n, None, None)
        else {
          val ring = series.slice(b - 3, b)
          val tSum = ring.sum
          val varNum = 3 * ring.map(x => x * x).sum - tSum * tSum
          if (varNum > 0) {
            val z = (n * 3 - tSum).toDouble / 3 / math.sqrt(varNum.toDouble / 9)
            val z4 = BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            (b.toLong, n, Some(z4), Some(if (math.abs(z4) > 3.0) 1L else 0L))
          } else (b.toLong, n, None, None)
        }
      }
      assert(got.toSeq == expect,
        s"\nstream=${got.mkString(",")}\nbatch =${expect.mkString(",")}")
      // the planted 10x burst is the one flagged spike
      assert(got.count(_._4.contains(1L)) == 1 && got(3)._4.contains(1L))
      // straggler: an event far behind the watermark is filtered by
      // the event-time-timeout discipline — it neither re-opens the
      // closed bucket (no duplicate emission) nor grows state
      val nStates = query.lastProgress.stateOperators.head.numRowsTotal
      input.addData(ev(999L, 30, "a")) // bucket 0, long closed
      query.processAllAvailable()
      input.addData(ev(998L, 2000, "b"))
      query.processAllAvailable()
      val again = spark.sql(
        "select count(*) from anomalies where event_type = 'a' and bucket = 0")
        .collect()(0).getLong(0)
      assert(again == 1L, "closed bucket re-emitted after a straggler")
      assert(query.lastProgress.stateOperators.head.numRowsTotal <= nStates + 1,
        "straggler grew the keyed state") // +1 allows b's own key entry
    } finally query.stop()
  }

  test("scd2 stream: closed validity intervals ≡ batch tiling, out-of-order insertion and same-ms ties honored (B24 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.Event
    def ev(id: Long, sec: Long, u: Long) =
      Event(id, new Timestamp(sec * 1000L), u, "v", 0)
    val input = MemoryStream[Event]
    val query = EventStreams.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2")
      .outputMode("append").start()
    try {
      // user 1 versions at 100s and 200s; user 2 drives the watermark
      input.addData(ev(1L, 100, 1L), ev(2L, 200, 1L), ev(900L, 160, 2L))
      query.processAllAvailable()
      // out-of-order INSERTION: 150s lands between the two buffered
      // versions (watermark is 100s — still admissible), then the
      // watermark advances past everything
      input.addData(ev(3L, 150, 1L), ev(901L, 400, 2L))
      query.processAllAvailable()
      input.addData(ev(902L, 401, 2L))
      query.processAllAvailable()
      // same-ms tie: ids 4 and 5 at 500s order by event_id — a
      // zero-length [500,500) interval for id 4, id 5 stays open
      input.addData(ev(4L, 500, 1L), ev(5L, 500, 1L), ev(903L, 700, 2L))
      query.processAllAvailable()
      input.addData(ev(904L, 701, 2L))
      query.processAllAvailable()
      input.addData(ev(905L, 702, 2L)) // nudge: fire pending timeouts
      query.processAllAvailable()
      val got = spark.sql(
        "select user_id, event_id, valid_from_ms, valid_to_ms from scd2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // batch reference: adjacent (ts, id)-ordered pairs per user,
      // CLOSED (end strictly below the final watermark 642s) only
      val all = Map(
        1L -> Seq((100L, 1L), (150L, 3L), (200L, 2L), (500L, 4L), (500L, 5L)),
        2L -> Seq((160L, 900L), (400L, 901L), (401L, 902L), (700L, 903L),
          (701L, 904L), (702L, 905L)))
      val wmFinal = 702L - 60L
      val expect = all.flatMap { case (u, vs) =>
        vs.sorted.sliding(2).collect {
          case Seq((f, id), (to, _)) if to < wmFinal =>
            (u, id, f * 1000L, to * 1000L)
        }
      }.toSet
      assert(got == expect, s"\nstream=$got\nbatch =$expect")
      // the open interval per key is absent (ids 5 / 903+ never emit
      // as valid_from rows with the final versions)
      assert(!got.exists(_._2 == 5L))
    } finally query.stop()
  }

  test("cross-modal align stream: latest-keyframe association ≡ batch backward as-of across batches (G10 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.Event
    def ev(id: Long, sec: Long, u: Long) =
      Event(id, new Timestamp(sec * 1000L), u, "v", 0)
    val input = MemoryStream[Event]
    val query = EventStreams.crossAlignStream(input.toDS())
      .writeStream.format("memory").queryName("xalign")
      .outputMode("append").start()
    try {
      // ids % 3 == 0 are image keyframes; audio before any image is
      // unaligned; the image carries ACROSS micro-batches
      input.addData(ev(1L, 10, 1L), ev(3L, 20, 1L), ev(4L, 30, 1L))
      query.processAllAvailable()
      input.addData(ev(5L, 40, 1L), ev(6L, 50, 1L), ev(7L, 60, 1L))
      query.processAllAvailable()
      val got = spark.sql(
        "select event_id, img_id from xalign order by event_id")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))))
      // batch rule per the G10 window: audio takes the latest image at
      // (ts, id) <= its own — 1 unaligned; 4,5 -> img 3; 7 -> img 6
      assert(got.toSeq == Seq((1L, None), (4L, Some(3L)), (5L, Some(3L)),
        (7L, Some(6L))), got.mkString(","))
    } finally query.stop()
  }

  test("snapshot-diff stream: arrival statuses ≡ batch diff minus removed, stateless plan (D9 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val query = EventStreams.snapshotDiffStream(
        input.toDF().toDF("doc_id", "text"), v1)
      .writeStream.format("memory").queryName("snapdiff")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha"), (2L, "beta CHANGED"))
      query.processAllAvailable()
      input.addData((4L, "delta"))
      query.processAllAvailable()
      val got = spark.sql("select doc_id, status from snapdiff")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // batch reference over the full arrived v2, minus the
      // whole-snapshot 'removed' status the stream cannot decide
      val v2 = Seq((1L, "alpha"), (2L, "beta CHANGED"), (4L, "delta"))
        .toDF("doc_id", "text")
      val batch = graft.operators.Dedup.snapshotDiffOf(v1, v2)
        .collect().map(r => r.getLong(0) -> r.getString(1))
        .filter(_._2 != "removed").toMap
      assert(got == batch, s"stream=$got batch=$batch")
      // stateless: no state store operator in the streaming plan
      assert(query.lastProgress.stateOperators.isEmpty,
        "snapshot-diff stream must not carry a state store")
    } finally query.stop()
  }

  test("consumer changelog -> CDC snapshot e2e: streamed events materialize the batch latest-wins state (B23 ∘ H13b)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import EventStreams.Event
    val dir = tempDir("graft_cdc_e2e") + "/state"
    val input = MemoryStream[Event]
    // the H13b deployment loop: each micro-batch becomes a raw CDC
    // changelog (ver = (ts_ms, event_id), error = tombstone) and is
    // applied versioned — arrival order across batches is free
    val q = input.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val changes = batch.select(col("user_id"),
          struct(unix_millis(col("ts")).as("ts_ms"), col("event_id")).as("ver"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_type").as("typ"),
          graft.functions.cents(col("value")).as("value_c"))
        graft.sources.Snapshot.mergeCdc(spark, dir, changes, "user_id")
      }
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("cdc_e2e_ck"))
      .start()
    // out-of-version-order batches: user 10's final state lands first
    input.addData(Event(5, ts(50), 10, "purchase", 2.0),
      Event(6, ts(50), 11, "error", 0.0))
    q.processAllAvailable()
    input.addData(Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 11, "view", 3.0),
      Event(3, ts(3), 12, "signup", 4.0))
    q.processAllAvailable()
    q.stop()
    val live = graft.sources.Snapshot.readLive(spark, dir)
      .select(col("user_id"), col("ver.event_id"), col("typ"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // user 10: the ts(50) purchase wins over the late-arriving older
    // click; user 11: the error tombstone at ts(50) blocks the older
    // view from resurrecting; user 12: plain insert
    assert(live == Set((10L, 5L, "purchase"), (12L, 3L, "signup")),
      s"end state: $live")
  }

  test("streaming decontamination flags arriving docs statelessly (F6 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val grams = graft.operators.TextOps.benchmarkGrams(bench)
    assert(grams.length == 2) // two 3-grams in a 4-token benchmark
    val input = MemoryStream[(Long, String)]
    val query = EventStreams.decontaminateStream(
        input.toDF().toDF("doc_id", "text"), grams)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "intro alpha beta gamma delta outro"), // 2 shared grams
        (2L, "alpha intro beta outro gamma"),       // words, no gram
        (3L, "nothing shared at all"))
      query.processAllAvailable()
      input.addData((4L, "ends with alpha beta gamma")) // 1 shared gram
      query.processAllAvailable()
      val rows = spark.sql("select doc_id, n_hits from decon order by doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((1L, 2L), (4L, 1L)))
      // stateless: no state store operator at all — the gate scales to
      // any stream without watermarks or eviction concerns
      assert(query.lastProgress.stateOperators.isEmpty)
      // batch agreement: the broadcast-join form sees the same hits
      val batch = graft.operators.TextOps.decontaminateAgainst(
        Seq((1L, "intro alpha beta gamma delta outro"),
          (2L, "alpha intro beta outro gamma"),
          (3L, "nothing shared at all"),
          (4L, "ends with alpha beta gamma")).toDF("doc_id", "text"),
        bench).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(batch.toSeq == rows.toSeq)
    } finally query.stop()
  }

  test("streaming domain mixing keeps the same rows as batch, statelessly (F8 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val weights = Map("src0" -> 1.0, "src1" -> 0.5)
    val docs = (0L until 200L).map(d => (d, s"src${d % 3}"))
    val input = MemoryStream[(Long, String)]
    val query = EventStreams.mixSampleStream(
        input.toDF().toDF("doc_id", "source"), weights, defaultFrac = 0.1)
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(120): _*)
      query.processAllAvailable()
      input.addData(docs.drop(120): _*) // batch boundaries must not matter
      query.processAllAvailable()
      val streamed = spark.sql("select doc_id, source from mix_stream order by doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // stateless hygiene gate: no state store, like decontaminateStream
      assert(query.lastProgress.stateOperators.isEmpty)
      // agreement with the batch operator on the same rows — shared
      // predicate builder, so this pins the wiring, not luck
      val batch = graft.operators.TextOps.mixSample(
          docs.toDF("doc_id", "source"), weights, defaultFrac = 0.1)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.size < docs.size,
        "fixture must exercise both keep and drop")
      // all of src0 kept — the mixture semantics, not just determinism
      assert(docs.filter(_._2 == "src0").forall(d => streamed.contains(d)))
    } finally query.stop()
  }

  test("streaming temperature sampling keeps the same rows as batch, statelessly (F17 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // skewed fixture; rates pinned from the settled snapshot, as deployed
    val docs = (0L until 300L).map(d =>
      (d, if (d < 200) "big" else if (d < 290) "mid" else "tiny"))
    val batchDf = docs.toDF("doc_id", "source")
    val rates = graft.operators.TextOps.temperatureRates(batchDf, targetFrac = 0.5)
    val input = MemoryStream[(Long, String)]
    // the stream is the batch builder's keepByPpm filter on arriving rows
    val query = input.toDF().toDF("doc_id", "source")
      .filter(graft.operators.TextOps.keepByPpm(rates))
      .select("doc_id", "source")
      .writeStream.format("memory").queryName("temp_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(150): _*)
      query.processAllAvailable()
      input.addData(docs.drop(150): _*) // batch boundaries must not matter
      query.processAllAvailable()
      val streamed = spark.sql("select doc_id, source from temp_stream order by doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      // shared keepByPpm builder ⇒ row-for-row agreement with batch
      val batch = graft.operators.TextOps.sampleTemperature(batchDf, 0.5)
        .collect().map(r => (r.getLong(1), r.getString(0))).toSeq.sorted
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.size < docs.size,
        "fixture must exercise both keep and drop")
    } finally query.stop()
  }

  test("streaming split assignment equals batch and is stateless (F18 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = (0L until 400L).map(d => (d, s"src${d % 3}"))
    val input = MemoryStream[(Long, String)]
    val query = graft.operators.TextOps.splitAssignCore(
        input.toDF().toDF("doc_id", "source"))
      .writeStream.format("memory").queryName("split_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(250): _*)
      query.processAllAvailable()
      input.addData(docs.drop(250): _*) // arrival order must not matter
      query.processAllAvailable()
      val streamed = spark.sql(
          "select doc_id, split from split_stream order by doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      val batch = graft.operators.TextOps.splitAssignCore(
          docs.toDF("doc_id", "source"))
        .collect().map(r => (r.getLong(0), r.getString(2))).toSeq.sorted
      assert(streamed == batch)
      // the fixture is big enough to hit more than one split
      assert(streamed.map(_._2).distinct.length > 1)
    } finally query.stop()
  }

  test("streaming chunking equals batch and is stateless (F26 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 150).map(i => s"w$i").mkString(" ")), // 3 windows
      (2L, "short doc"),
      (3L, "")) // token-empty: no chunks
    val input = MemoryStream[(Long, String)]
    val query = graft.operators.TextOps.chunkCore(
        input.toDF().toDF("doc_id", "text"), 64, 48)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.sql(
          "select * from chunk_stream order by doc_id, chunk_id")
        .collect().map(_.toSeq).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      val batch = graft.operators.TextOps
        .chunkDocsOf(docs.toDF("doc_id", "text"), 64, 48)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed.count(_.head == 1L) == 4) // starts 0,48,96,144
    } finally query.stop()
  }

  test("streaming fuzzy decontamination equals batch and is stateless (F6b twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpusRows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight and always wins"),
      (2L, "a fox and a dog"),
      (3L, "the quick brown fox jumps over the lazy dog tonight and always"))
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight and always"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val query = graft.operators.TextOps.decontaminateFuzzyCore(
        input.toDF().toDF("doc_id", "text"), bench, 0.9)
      .writeStream.format("memory").queryName("fuzzy_decon")
      .outputMode("append").start()
    try {
      input.addData(corpusRows.take(2): _*)
      query.processAllAvailable()
      input.addData(corpusRows.drop(2): _*) // batch boundaries must not matter
      query.processAllAvailable()
      val streamed = spark.sql(
          "select doc_id, bench_id, jaccard4 from fuzzy_decon order by doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      val batch = graft.operators.TextOps.decontaminateFuzzyAgainst(
          corpusRows.toDF("doc_id", "text"), bench)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(streamed == batch)
      assert(streamed.map(_._1) == Seq(1L, 3L),
        "fixture must catch the paraphrase and the verbatim copy only")
    } finally query.stop()
  }

  test("streaming quality gate applies pinned thresholds like batch scoring (F16 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // thresholds come from a batch pass over the settled corpus — here
    // the real qualityGate run at sf0.001 supplies them
    val t = graft.sources.Tables(spark, sfDir)
    val thr = graft.operators.TextOps.qualityGateOf(t.documents).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val docs = t.documents.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text"))).toSeq
    val input = MemoryStream[(Long, String, String)]
    val query = EventStreams.qualityGateStream(
        input.toDF().toDF("doc_id", "source", "text"), thr)
      .writeStream.format("memory").queryName("qgate_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(200): _*)
      query.processAllAvailable()
      input.addData(docs.drop(200): _*)
      query.processAllAvailable()
      val streamed = spark.sql(
          "select source, doc_id from qgate_stream order by source, doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      // same thresholds + same shared score builder = the batch kept set
      val batch = graft.operators.TextOps.qualityGateOf(t.documents).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(streamed == batch)
    } finally query.stop()
  }

  test("streaming boilerplate gate strips the pinned blocks like batch (D8b twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = graft.sources.Tables(spark, sfDir)
    // the pinned list: the batch election over the settled corpus
    val hashes = graft.operators.Dedup.boilerplateHashes(
      t.documents, graft.operators.Dedup.wordBlockParas(
        org.apache.spark.sql.functions.col("text"), 8), minDocs = 3)
    assert(hashes.nonEmpty, "corpus must elect some boilerplate blocks")
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val query = graft.operators.Dedup.removeBoilerplateWith(
        input.toDF().toDF("doc_id", "text"),
        graft.operators.Dedup.wordBlockParas(
          org.apache.spark.sql.functions.col("text"), 8), " ", hashes)
      .writeStream.format("memory").queryName("boiler_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(10): _*)
      query.processAllAvailable()
      input.addData(docs.drop(10): _*)
      query.processAllAvailable()
      val streamed = spark.sql(
          "select doc_id, n_kept, n_dropped, text from boiler_stream order by doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      // the pinned-list batch form on the same rows — shared builder
      val batch = graft.operators.Dedup.removeBoilerplateWith(
          docs.toDF("doc_id", "text"),
          graft.operators.Dedup.wordBlockParas(
            org.apache.spark.sql.functions.col("text"), 8), " ", hashes)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(streamed == batch)
      // and the pinned-list form strips exactly what the full D8b
      // election strips (same corpus, same threshold -> same drops)
      val full = graft.operators.Dedup.removeBoilerplate(t.documents,
        graft.operators.Dedup.wordBlockParas(col("text"), 8), " ", 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(streamed == full)
      assert(streamed.exists(_._3 > 0), "fixture must drop some blocks")
    } finally query.stop()
  }

  test("streaming token budget admits greedily per source and stops at the cap (F15 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Doc]
    val query = EventStreams.tokenBudgetStream(
        input.toDS(), Map("sA" -> 5L), defaultBudget = 3L)
      .writeStream.format("memory").queryName("budget_stream")
      .outputMode("append").start()
    try {
      // batch 1: sA spends 3 of 5; sB spends 2 of 3
      input.addData(
        EventStreams.Doc(1L, "sA", "a b c"),
        EventStreams.Doc(2L, "sB", "x y"))
      query.processAllAvailable()
      // batch 2: sA's 4-token doc straddles (3+4>5) -> dropped; the
      // 2-token doc admits exactly at the cap; sB's 2-token doc
      // straddles (2+2>3) -> dropped
      input.addData(
        EventStreams.Doc(3L, "sA", "d e f g"),
        EventStreams.Doc(4L, "sA", "h i"),
        EventStreams.Doc(5L, "sB", "z w"))
      query.processAllAvailable()
      // batch 3: budgets exhausted -> nothing admits
      input.addData(EventStreams.Doc(6L, "sA", "j"))
      query.processAllAvailable()
      val rows = spark.sql(
          "select source, doc_id, n_tokens, cum_tokens from budget_stream " +
          "order by source, doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(
        ("sA", 1L, 3L, 3L), ("sA", 4L, 2L, 5L), ("sB", 2L, 2L, 2L)),
        s"got ${rows.toSeq}")
      // the counter lives in keyed state — exactly one state operator,
      // rows bounded by the number of SOURCES, not documents
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 1 && ops(0).numRowsTotal <= 2,
        s"state must be one row per source: ${ops.toSeq}")
    } finally query.stop()
  }

  test("streaming pii redaction equals batch and is stateless (F11 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jane@mail.example.org thanks"),
      (2L, "call +1-555-0100 or visit 10.0.0.7 now"),
      (3L, "no pii in this one"))
    val input = MemoryStream[(Long, String)]
    val query = graft.operators.TextOps.redactPiiOf(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.sql(
          "select doc_id, n_emails, n_phones, n_ips, redacted from pii_stream order by doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      val batch = graft.operators.TextOps.redactPiiOf(docs.toDF("doc_id", "text"))
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
      assert(streamed == batch)
      assert(streamed(0)._5.contains("<EMAIL>") && streamed(1)._5.contains("<PHONE>")
        && streamed(1)._5.contains("<IP>"))
    } finally query.stop()
  }

  test("streaming normalization equals batch and is stateless (F12 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "cafe\u0301 with   runs\tand\u0007controls"),
      (2L, "zero\u200bwidth"),
      (3L, "plain ascii"))
    val input = MemoryStream[(Long, String)]
    val query = graft.operators.TextOps.normalizeTextOf(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("norm_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.sql(
          "select doc_id, n_chars_raw, n_chars_clean, text from norm_stream order by doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(query.lastProgress.stateOperators.isEmpty)
      val batch = graft.operators.TextOps.normalizeTextOf(docs.toDF("doc_id", "text"))
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(streamed == batch)
      assert(streamed(0)._4 == "caf\u00e9 with runs and\u0007controls" ||
        streamed(0)._4 == "caf\u00e9 with runs andcontrols")
      assert(streamed(1)._4 == "zerowidth")
    } finally query.stop()
  }

  test("streaming repetition gate rejects the same docs as batch thresholds (F10 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      // one 8-word block repeated -> dup_block_frac 1/3 > 0.3: reject
      (1L, "a b c d e f g h a b c d e f g h tail words"),
      // dominant 2-gram -> top2_frac > 0.2: reject
      (2L, "one two one two one two one two one two"),
      (3L, "these words are all quite distinct today friend"))
    val input = MemoryStream[(Long, String)]
    val query = EventStreams.repetitionGateStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("rep_gate")
      .outputMode("append").start()
    try {
      input.addData(docs.take(1): _*)
      query.processAllAvailable()
      input.addData(docs.drop(1): _*)
      query.processAllAvailable()
      val rejected = spark.sql("select doc_id from rep_gate order by doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(rejected == Seq(1L, 2L), s"gate rejected $rejected")
      assert(query.lastProgress.stateOperators.isEmpty)
      // shared kernel: the batch scorer agrees on who crosses a threshold
      val batch = graft.operators.TextOps
        .repetitionSignalsOf(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          ((r.getDouble(4) > 0.3) || (r.getDouble(6) > 0.2))).toMap
      assert(rejected.forall(batch(_)) && batch.count(_._2) == rejected.size)
    } finally query.stop()
  }

  test("streaming index maintenance: arriving vectors join the prefit index replay-safely") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{Similarity, VectorIndex}
    val t = graft.sources.Tables(spark, "/root/testdata/sf0.001")
    val dir = tempDir("graft_idx_stream")
    val ckpt = tempDir("graft_idx_ckpt")
    VectorIndex.fit(t.embeddings, dir)
    val baseCount = spark.read.parquet(s"$dir/codes").count()
    // stream in copies of corpus vectors 0-2 under fresh ids
    val newRows = t.embeddings.filter(col("vec_id") < 3).collect()
      .map(r => (r.getLong(0) + 20000L, r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val query = VectorIndex.appendStream(
      input.toDF().toDF("vec_id", "embedding"), dir, ckpt)
    try {
      input.addData(newRows.toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.read.parquet(s"$dir/codes").count() == baseCount + 3)
    // an external copy of a STREAMED vector ties at cos 1.0 with its
    // corpus original AND its streamed twin; the n_id tie-break must
    // rank the original first, the streamed row second — proving the
    // streamed codes route and rank exactly like fitted ones
    val queries = Similarity.withNorm(t.embeddings)
      .filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 3000000L)
    val corpusNow = t.embeddings.select("vec_id", "embedding").unionByName(
      newRows.toSeq.toDF("vec_id", "embedding"))
    val got = VectorIndex.searchTopK(corpusNow, queries, dir).collect()
      .map(r => (r.getLong(0) - 3000000L, r.getLong(1), r.getLong(2), r.getDouble(3)))
    (0L until 3L).foreach { i =>
      assert(got.contains((i, 1L, i, 1.0)), s"query $i: original not rank 1")
      assert(got.contains((i, 2L, i + 20000L, 1.0)), s"query $i: streamed twin not rank 2")
    }
    // replay safety: re-running a batch id must not double-index. A
    // foreachBatch retry re-delivers the same micro-batch id under the
    // same checkpoint, which the stream namespaces — replay with the
    // identical namespaced id
    VectorIndex.appendBatch(newRows.toSeq.toDF("vec_id", "embedding"),
      VectorIndex.streamRunId(ckpt) | 0L, dir)
    assert(spark.read.parquet(s"$dir/codes").count() == baseCount + 3,
      "replayed micro-batch double-indexed its vectors")
    // while a DIFFERENT stream (new checkpoint) appending the same rows
    // lands in its own namespace instead of silently overwriting this
    // one's batch 0 (round-5 advice)
    val ckpt2 = tempDir("graft_idx_ckpt2")
    assert(VectorIndex.streamRunId(ckpt2) != VectorIndex.streamRunId(ckpt))
  }

  test("live keyframe index: IDR fragments numbered per stream across batches, non-IDR dropped (G17b twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ebml.EbmlFunctions
    import org.apache.spark.sql.functions.{col, lit}
    val input = MemoryStream[Array[Byte]]
    val query = EventStreams.keyframeIndexStream(
        input.toDF().withColumnRenamed("value", "blob"))
      .writeStream.format("memory").queryName("kf_idx")
      .outputMode("append").start()
    def frag(id: Long, uid: Long, ts: Long): Array[Byte] =
      EbmlFunctions.buildFragmentFrame(id, ts, uid, 0L,
        graft.plans.NalKernels.h264Encode(id, uid))
    try {
      // event_id % 4 == 0 plants the IDR (the G17 generator rule)
      input.addData(frag(0L, 10L, 1000L), frag(1L, 10L, 2000L),
        frag(4L, 10L, 3000L))
      query.processAllAvailable()
      // cross-batch: the count survives in state; a non-IDR fragment
      // for a fresh stream must not open state for it. Fragment 16
      // carries a ts_ms BELOW fragment 12's — the batch twin windows by
      // event_id ALONE, so the stream must too (r18 ADVICE fix): under
      // a (ts_ms, event_id) sort 16 would steal kf_seq 1
      input.addData(frag(8L, 10L, 4000L), frag(2L, 11L, 5000L),
        frag(12L, 11L, 6000L), frag(16L, 11L, 5500L))
      query.processAllAvailable()
      val rows = spark.sql(
        "select user_id, event_id, kf_seq from kf_idx order by user_id, kf_seq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq ==
        Seq((10L, 0L, 1L), (10L, 4L, 2L), (10L, 8L, 3L),
          (11L, 12L, 1L), (11L, 16L, 2L)))
      // batch agreement: the batch operator over the union numbers
      // identically (stream ≡ batch on an in-order split); ts rides the
      // events epoch-long-NANOS contract
      val eventsDf = Seq((0L, 1000L, 10L), (1L, 2000L, 10L),
          (4L, 3000L, 10L), (8L, 4000L, 10L), (2L, 5000L, 11L),
          (12L, 6000L, 11L), (16L, 5500L, 11L))
        .toDF("event_id", "ms", "user_id")
        .select(col("event_id"), (col("ms") * 1000000L).as("ts"),
          col("user_id"), lit("e").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      val t = graft.sources.Tables.fromLoader(_ => eventsDf)
      val batch = graft.operators.Multimodal.mmKeyframeIndex(t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(batch.toSeq == rows.toSeq)
    } finally query.stop()
  }

  test("fragment pipeline: raw MKV blobs stream through tag extraction to windowed rates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ebml.EbmlFunctions
    // raw binary fragments, as a Kinesis-like stream would deliver them
    val input = MemoryStream[Array[Byte]]
    val query = EventStreams.fragmentPipeline(input.toDF().withColumnRenamed("value", "blob"))
      .writeStream.format("memory").queryName("frag_rates")
      .outputMode("update").start()
    try {
      val t0 = 1704067200000L // 2024-01-01 00:00 UTC
      input.addData(
        EbmlFunctions.buildFragment(1L, t0 + 60000L, 10L, 100L, "f1"),
        EbmlFunctions.buildFragment(2L, t0 + 120000L, 10L, 100L, "f2"),
        EbmlFunctions.buildFragment(3L, t0 + 660000L, 11L, 100L, "f3"))
      query.processAllAvailable()
      val rows = spark.sql(
        "select producer_id, sum(n_fragments), max(max_fragment) from frag_rates group by 1 order by 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((10L, 2L, 2L), (11L, 1L, 3L)))
    } finally query.stop()
  }

  test("stream-static enrichment joins the live stream to a dimension (C12b twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val customer = Seq((10L, "BUILDING"), (11L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[Event]
    val query = EventStreams.enrichedRates(input.toDF(), customer)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.5),
        Event(2, ts(2), 10, "view", 2.5),
        Event(3, ts(3), 11, "click", 4.0),
        Event(4, ts(4), 99, "click", 9.9)) // no such customer: dropped by the join
      query.processAllAvailable()
      val rows = spark.sql(
        "select c_mktsegment, sum(n), sum(sum_value) from enriched group by 1 order by 1")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(("BUILDING", 2L, 4.0), ("MACHINERY", 1L, 4.0)))
    } finally query.stop()
  }

  test("streaming tag association carries the latest marker across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.Msg
    val input = MemoryStream[Msg]
    val query = EventStreams.taggedAssociation(input.toDS())
      .writeStream.format("memory").queryName("tagged")
      .outputMode("append").start()
    try {
      // batch 1: event before any marker, then marker 100, then event
      input.addData(
        Msg(7, ts(1), "event", 1), Msg(7, ts(2), "marker", 100), Msg(7, ts(3), "event", 2))
      query.processAllAvailable()
      // batch 2: state must remember marker 100; then marker 200 takes over
      input.addData(
        Msg(7, ts(4), "event", 3), Msg(7, ts(5), "marker", 200), Msg(7, ts(6), "event", 4))
      query.processAllAvailable()
      val rows = spark.sql("select event_id, marker_id from tagged order by event_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      assert(rows.toSeq == Seq((1L, -1L), (2L, 100L), (3L, 100L), (4L, 200L)))
    } finally query.stop()
  }

  test("streaming dedup drops replayed events inside the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.replayDedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "click", 1.0))
      query.processAllAvailable()
      // replay event 1 (at-least-once delivery) + one new event
      input.addData(Event(1, ts(1), 10, "click", 1.0), Event(3, ts(3), 10, "view", 1.0))
      query.processAllAvailable()
      val ids = spark.sql("select event_id from dedup_stream order by event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("directory fragment source resumes from checkpoint like a continuation token") {
    import java.nio.file.{Files, Paths}
    import graft.ebml.EbmlFunctions
    val inDir = tempDir("graft_frags")
    val chkDir = tempDir("graft_chk")
    val outDir = tempDir("graft_out") + "/rates"
    val t0 = 1704067200000L // 2024-01-01 00:00 UTC
    def blob(i: Int, producer: Long): Array[Byte] =
      EbmlFunctions.buildFragment(i.toLong, t0 + i * 60000L, producer, 100L, s"f$i")
    def writeFrag(i: Int, producer: Long): Unit =
      Files.write(Paths.get(inDir, f"frag$i%05d.mkv"), blob(i, producer))
    def runOnce(): Unit = {
      val q = FragmentSource.fragmentRates(spark, inDir)
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", chkDir)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // act 1: three fragments from producer 10 land, query commits them
    (1 to 3).foreach(writeFrag(_, 10L))
    runOnce()
    // the stream dies (reconnect). Already-consumed fragments vanish, like
    // the reference's drained pipe — only the checkpoint knows about them.
    (1 to 3).foreach(i => Files.delete(Paths.get(inDir, f"frag$i%05d.mkv")))
    // fragments 4-6 arrive as ONE GetMedia-style payload: three fragments
    // concatenated back to back in a single file, split by the source
    Files.write(Paths.get(inDir, "frag1_payload.mkv"),
      graft.ebml.Ebml.concat(blob(4, 11L), blob(5, 11L), blob(6, 11L)))
    runOnce() // CONTINUATION_TOKEN analog: same checkpoint → resume, not replay
    val got = spark.read.parquet(outDir)
      .groupBy("producer_id").sum("n_fragments")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // all six fragments counted exactly once: 1-3 survive via recovered
    // state, 4-6 arrive in the resumed run
    assert(got == Map(10L -> 3L, 11L -> 3L))
    // batch twin over the same six blobs gives identical windowed rates
    import spark.implicits._
    val batch = EventStreams.fragmentPipeline(
      (1 to 3).map(blob(_, 10L)).toDF("blob")
        .union((4 to 6).map(blob(_, 11L)).toDF("blob")))
      .groupBy("producer_id").sum("n_fragments")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch == got)
  }

  test("error fragments surface on the monitoring side-channel (parser.py:357-360)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ebml.{Ebml, EbmlFunctions}
    import Ebml._
    // a faulted fragment: AWS error tags instead of media payload
    val errorFragment = concat(
      element(0x1a45dfa3L, concat(
        element(0x4282L, utf8("matroska")), element(0x4285L, uintBytes(2L, 1)))),
      element(0x18538067L, element(0x1254c367L, element(0x7373L, concat(
        element(0x63c0L, Array.emptyByteArray),
        simpleTag(EbmlFunctions.FragmentNumber, "77"),
        simpleTag(EbmlFunctions.ContinuationToken, "tok-77"),
        simpleTag(EbmlFunctions.ErrorCode, "STREAM_DELETED"),
        simpleTag(EbmlFunctions.ErrorId, "4003"))))))
    val ok = EbmlFunctions.buildFragment(1L, 1000L, 10L, 100L, "f1")
    val input = MemoryStream[Array[Byte]]
    val query = EventStreams.fragmentErrors(
        input.toDF().withColumnRenamed("value", "blob"))
      .writeStream.format("memory").queryName("frag_errors")
      .outputMode("append").start()
    try {
      input.addData(ok, errorFragment)
      query.processAllAvailable()
      val rows = spark.sql(
        "select fragment_number, error_code, error_id, token from frag_errors")
        .collect()
      assert(rows.length == 1, "healthy fragments must not surface")
      assert(rows.head.getLong(0) == 77L)
      assert(rows.head.getString(1) == "STREAM_DELETED")
      assert(rows.head.getLong(2) == 4003L)
      assert(rows.head.getString(3) == "tok-77")
    } finally query.stop()
  }

  test("consumer app e2e: split, dedup replays, persist with retention, resume") {
    import java.nio.file.{Files, Paths}
    import graft.ebml.{Ebml, EbmlFunctions}
    val inDir = tempDir("graft_app_in")
    val chkDir = tempDir("graft_app_chk")
    val storeDir = tempDir("graft_app_store") + "/frames"
    val t0 = 1704067200000L // 2024-01-01 00:00 UTC
    def blob(i: Int): Array[Byte] =
      EbmlFunctions.buildFragment(i.toLong, t0 + i * 60000L, 10L, 100L, s"f$i")
    def runOnce(): Unit = {
      val q = ConsumerApp.start(spark, inDir, storeDir, chkDir,
        keepNewest = 2, bucketMs = 600000L) // 10-min buckets, keep 2
      try q.processAllAvailable() finally q.stop()
    }
    // payload 1: fragments 1-3 (minutes 1-3 → bucket 0)
    Files.write(Paths.get(inDir, "p1.mkv"), Ebml.concat(blob(1), blob(2), blob(3)))
    runOnce()
    // payload 2 after a reconnect: fragment 3 REPLAYED (at-least-once),
    // plus 11-12 (minutes 11-12 → bucket 1) and 21 (bucket 2)
    Files.write(Paths.get(inDir, "p2.mkv"),
      Ebml.concat(blob(3), blob(11), blob(12), blob(21)))
    runOnce() // same checkpoint: resume, not reprocess
    val store = spark.read.parquet(storeDir)
    val frags = store.select("fragment_number").collect().map(_.getLong(0)).sorted.toSeq
    // fragment 3 appears ONCE (dedup state survived the restart); bucket 0
    // (fragments 1-3) was evicted when bucket 2 arrived
    assert(frags == Seq(11L, 12L, 21L), s"store holds $frags")
    assert(store.select("bucket").distinct().count() == 2)
  }

  test("consumer app compiles its micro-batch stages once per query, not per batch") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.ebml.{Ebml, EbmlFunctions}
    val inDir = tempDir("graft_codegen_in")
    val chkDir = tempDir("graft_codegen_chk")
    val storeDir = tempDir("graft_codegen_store") + "/frames"
    val t0 = 1704067200000L // 2024-01-01 00:00 UTC
    def blob(i: Int): Array[Byte] =
      EbmlFunctions.buildFragment(i.toLong, t0 + i * 60000L, 10L, 100L, s"f$i")
    // one data batch per file and nothing in between: a no-data batch
    // would run while the next file is written
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = try ConsumerApp.start(spark, inDir, storeDir, chkDir, keepNewest = 4)
      finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    val compiled = try (1 to 7).map { i =>
      // each file moves producer time, and so the watermark, forward
      Files.write(Paths.get(inDir, f"p$i%02d.mkv"), Ebml.concat(blob(2 * i), blob(2 * i + 1)))
      q.processAllAvailable()
      assert(q.lastProgress.batchId == i - 1, "one micro-batch per file")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    } finally q.stop()
    // after batch 2 only the watermark predicate, whose threshold Spark
    // writes into the generated code, may compile again
    val perBatch = compiled.sliding(2).map(p => p(1) - p(0)).toSeq.drop(1)
    assert(perBatch.forall(_ <= 1), s"compiles per batch after batch 2: $perBatch")
    assert(spark.read.parquet(storeDir).count() == 14L)
  }

  test("a retried micro-batch persists idempotently (foreachBatch replay)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val storeDir = tempDir("graft_idem") + "/frames"
    val batch = Seq((1L, "00001"), (2L, "00001"), (3L, "00002"))
      .toDF("fragment_number", "bucket")
    ConsumerApp.persistBatch(batch, batchId = 7L, storeDir, keepNewest = 10)
    // failure between commit and checkpoint: the engine re-runs batch 7
    ConsumerApp.persistBatch(batch, batchId = 7L, storeDir, keepNewest = 10)
    val rows = spark.read.parquet(storeDir)
      .select("fragment_number").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L), s"replayed batch duplicated rows: $rows")
  }

  test("stateful ops run on the RocksDB state store (the at-scale backend)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val query = EventStreams.replayDedup(input.toDF())
        .writeStream.format("memory").queryName("rocksdb_dedup")
        .outputMode("append").start()
      try {
        input.addData(Event(1, ts(1), 10, "click", 1.0))
        query.processAllAvailable()
        input.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 1.0))
        query.processAllAvailable()
        val ids = spark.sql("select event_id from rocksdb_dedup order by event_id")
          .collect().map(_.getLong(0)).toSeq
        assert(ids == Seq(1L, 2L), "replay must dedup on RocksDB state too")
      } finally query.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("latestStateStream compacts a change stream in Update mode and ends at the batch latestState (B23 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val b1 = Seq(
      Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 2.5),
      Event(3, ts(1), 11, "click", 3.0),
      Event(5, ts(4), 12, "buy", 7.0))
    // batch 2: user 10 advances, user 11 gets an OLDER (losing) version
    // — its last_* stay put but n_versions moves — user 12 is untouched
    val b2 = Seq(
      Event(6, ts(9), 10, "buy", 4.0),
      Event(0, ts(0), 11, "view", 9.0))
    val input = MemoryStream[Event]
    // starting in Update mode without a watermark is itself an assertion:
    // an aggregation that required Append-mode legality would throw here
    val query = EventStreams.latestStateStream(input.toDF())
      .writeStream.format("memory").queryName("latest_state")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      val rowsAfter1 = spark.sql("select * from latest_state").count()
      assert(rowsAfter1 == 3, "batch 1 emits one compacted row per key")
      input.addData(b2: _*)
      query.processAllAvailable()
      val emitted2 = spark.table("latest_state").collect().length - rowsAfter1
      assert(emitted2 == 2,
        "batch 2 re-emits only the two keys whose state changed (12 is silent)")
      // final state per key = the emission with the largest n_versions
      // (monotone per key); must equal the batch election over the union
      val finalState = spark.sql(
        """select user_id, last_event_id, last_ms, last_type, last_value_c, n_versions
           from latest_state a where n_versions =
             (select max(n_versions) from latest_state b where b.user_id = a.user_id)""")
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.EventOps.latestStateCore(
        (b1 ++ b2).toDF().withColumn("ts_ms",
          org.apache.spark.sql.functions.unix_millis($"ts")))
        .collect().map(_.toSeq).toSet
      assert(finalState == batch,
        "stream end state must equal EventOps.latestState on the union")
    } finally query.stop()
  }

  test("stateful bounded queue caps per-key state (B9, parser.py:470-481)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.boundedQueue(input.toDS(), maxLen = 3)
      .writeStream.format("memory").queryName("queue")
      .outputMode("append").start()
    try {
      input.addData((1 to 5).map(i => Event(i.toLong, ts(i), 42, "click", 1.0)): _*)
      query.processAllAvailable()
      val rows = spark.sql("select event_id, queue_len from queue order by event_id")
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(rows.map(_._1).toSeq == (1L to 5L))
      assert(rows.map(_._2).toSeq == Seq(1, 2, 3, 3, 3)) // capped at 3
    } finally query.stop()
  }

  test("funnelStream: keyed stage state ends at the batch funnel on the union (B26 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stages = Seq("view", "click", "purchase")
    // batch 1: u1 same-ms view→click chain; u2's pre-view click is
    // gated; u3 has only a non-stage event (stage-0 row)
    val b1 = Seq(
      EventStreams.StageEvent(1, "view", 10), EventStreams.StageEvent(1, "click", 10),
      EventStreams.StageEvent(2, "click", 5), EventStreams.StageEvent(2, "view", 8),
      EventStreams.StageEvent(3, "signup", 1))
    // batch 2 (later event times): u1 completes, u2 advances, u3 silent
    val b2 = Seq(
      EventStreams.StageEvent(1, "purchase", 20),
      EventStreams.StageEvent(2, "click", 12))
    val input = MemoryStream[EventStreams.StageEvent]
    val query = EventStreams.funnelStream(input.toDS(), stages)
      .writeStream.format("memory").queryName("funnel_live")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      val after1 = spark.table("funnel_live").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      assert(after1.toSet == Set(
        (1L, Seq(10L, 10L), 2L), (2L, Seq(8L), 1L), (3L, Seq(), 0L)))
      input.addData(b2: _*)
      query.processAllAvailable()
      val all = spark.table("funnel_live").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      assert(all.length == after1.length + 2,
        "batch 2 re-emits only the two users whose stage state changed")
      // end state per user = the emission with the deepest stage
      val endState = all.groupBy(_._1).map { case (u, rs) =>
        u -> rs.maxBy(_._3) }
      // must equal the batch N-stage funnel over the union
      val union = (b1 ++ b2).toDF()
      val batch = graft.operators.EventOps.funnelStagesOf(union, stages)
        .collect().map { r =>
          val times = stages.indices
            .map(i => Option(r.get(i + 1)).map(_.asInstanceOf[Long]))
            .takeWhile(_.nonEmpty).flatten
          r.getLong(0) -> (r.getLong(0), times, r.getLong(stages.length + 1))
        }.toMap
      assert(endState == batch,
        "stream end state must equal funnelStagesOf on the union")
    } finally query.stop()
  }

  test("cohortStateStream: day-set agg is arrival-order independent and ends at batch (B27 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // deliberately OUT-OF-ORDER across batches: batch 2 carries the
    // EARLIER days — min/set-union state absorbs it exactly
    val b1 = Seq(
      Event(1, ts(30), 10, "view", 1.0), Event(2, ts(40), 11, "view", 1.0))
    val b2 = Seq(
      Event(3, ts(1), 10, "click", 1.0), Event(4, ts(2), 11, "click", 1.0),
      Event(5, ts(3), 12, "view", 1.0))
    val input = MemoryStream[Event]
    val query = EventStreams.cohortStateStream(input.toDF())
      .writeStream.format("memory").queryName("cohort_live")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      // end state per user = the emission with the largest day set
      // (monotone under union)
      val endState = spark.table("cohort_live").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSet))
        .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._3.size) }
      val unionDf = (b1 ++ b2).toDF()
      val batchSets = graft.operators.EventOps.cohortDaySets(
        unionDf.select($"user_id",
          graft.functions.intDiv(org.apache.spark.sql.functions
            .unix_millis($"ts"), 86400000L).as("day")))
      val batch = batchSets.collect()
        .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1),
          r.getSeq[Long](2).toSet))).toMap
      assert(endState == batch,
        "stream end state must equal cohortDaySets on the union")
      // and the model-sized cell tail over the end state reproduces the
      // full batch retention table
      val endDf = endState.values.toSeq
        .map { case (u, cd, ds) => (u, cd, ds.toSeq) }
        .toDF("user_id", "cohort_day", "days")
      val cells = graft.operators.EventOps.cohortCellsOf(endDf)
        .collect().map(_.toSeq).toSet
      val batchCells = graft.operators.EventOps.cohortRetentionOf(
        unionDf.select($"user_id",
          graft.functions.intDiv(org.apache.spark.sql.functions
            .unix_millis($"ts"), 86400000L).as("day")))
        .collect().map(_.toSeq).toSet
      assert(cells == batchCells,
        "cohortCellsOf over the stream end state ≡ batch cohortRetention")
    } finally query.stop()
  }

  test("live dedup-savings deltas roll up to the batch census, keeper flips retracted (D12 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val b1 = Seq((5L, "srcA", "dup one text"), (7L, "srcB", "dup one text"),
      (10L, "srcA", "unique alpha beta"))
    // doc 2 arrives AFTER doc 5 but wins the min-doc_id election: the
    // kept-attribution must move srcA -> srcB retroactively
    val b2 = Seq((2L, "srcB", "dup one text"), (3L, "srcC", "solo gamma"))
    val b3 = Seq((8L, "srcC", "dup one text")) // late copy, no flip
    val input = MemoryStream[(Long, String, String)]
    val query = EventStreams.savingsDeltaStream(
        input.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("savings_deltas")
      .outputMode("update").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      input.addData(b3: _*); query.processAllAvailable()
      val deltas = spark.table("savings_deltas")
      // the flip emitted a real retraction against srcA
      assert(deltas.filter(col("d_kept") === -1L && col("source") === "srcA")
        .count() == 1L, "expected exactly one retraction delta for srcA")
      val got = EventStreams.savingsFromDeltas(deltas)
        .collect().map(_.toSeq).toSeq
      val batch = graft.operators.Dedup.dedupSavingsOf(
        (b1 ++ b2 ++ b3).toDF("doc_id", "source", "text"))
        .collect().map(_.toSeq).toSeq
      assert(got == batch, s"\nstream=$got\nbatch =$batch")
    } finally query.stop()
  }

  test("fMP4 clip ingestion: segment files split at ftyp boundaries, typed fields stream out statelessly (B13b)") {
    import java.nio.file.{Files, Paths}
    val inDir = tempDir("graft_clips_in")
    val outDir = tempDir("graft_clips_out") + "/p"
    val chkDir = tempDir("graft_clips_chk")
    def clipOf(id: Long, uid: Long) =
      graft.bmff.Bmff.buildClip(id, id * 1000L, uid, id * 7L,
        s"p$id".getBytes("UTF-8"))
    // one file = one clip; another file = an HLS-style segment holding
    // TWO clips back to back — the splitter must cut it
    Files.write(Paths.get(inDir, "seg1.mp4"), clipOf(1L, 10L))
    Files.write(Paths.get(inDir, "seg2.mp4"),
      graft.bmff.Bmff.concat(clipOf(2L, 10L), clipOf(3L, 11L)))
    val q = FragmentSource.clipStream(spark, inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", chkDir)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir)
      .select("event_id", "producer_ms", "user_id", "value_c", "position")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val c2len = clipOf(2L, 10L).length.toLong
    assert(got == Set(
      (1L, 1000L, 10L, 7L, 0L),
      (2L, 2000L, 10L, 14L, 0L),
      (3L, 3000L, 11L, 21L, c2len)), got.toString)
  }
}
