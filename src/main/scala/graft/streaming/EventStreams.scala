package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the consumer's live behaviors (SURVEY
  * §2B8/§2B9).
  *
  * The reference runs one reader thread per stream and mutates shared
  * queues under locks (parser.py:313-386, 452-486). The Spark-native form
  * is a streaming DataFrame keyed by stream/user id: watermarked windowed
  * aggregation replaces the rate logger, and flatMapGroupsWithState's
  * per-key state replaces the lock-guarded bounded frame queue — the same
  * code distributes to 1000 executors because state lives per key, not
  * per process.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class QueueOut(user_id: Long, event_id: Long, queue_len: Int)

  /** B8 — frame-rate monitoring as a watermarked tumbling-window count
    * (the streaming twin of EventOps.rateTumbling). Late data beyond 1
    * minute is dropped exactly like the reference's fire-and-forget
    * logging. */
  def windowedRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  final case class Msg(user_id: Long, ts: java.sql.Timestamp, kind: String, id: Long)
  final case class Tagged(user_id: Long, event_id: Long, marker_id: Option[Long])

  /** Streaming tag↔packet association (parser.py:421-432 in steady state):
    * in the live stream a fragment's tag-set arrives BEFORE its packets,
    * so the association is "latest marker seen so far" per key — held as
    * one tiny value of per-key state, exactly like the reference's pruned
    * tags_line. Within a micro-batch rows are ordered by (ts, markers
    * first) so a marker tags the packets that follow it at equal time. */
  def taggedAssociation(msgs: Dataset[Msg]): Dataset[Tagged] = {
    import msgs.sparkSession.implicits._
    msgs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[Long], Tagged](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Msg], state: GroupState[Option[Long]]) =>
          var last: Option[Long] = state.getOption.flatten
          val out = rows.toSeq
            .sortBy(m => (m.ts.getTime, if (m.kind == "marker") 0 else 1, m.id))
            .flatMap { m =>
              if (m.kind == "marker") { last = Some(m.id); None }
              else Some(Tagged(userId, m.id, last))
            }
          state.update(last)
          out.iterator
      }
  }

  /** B22 — NATIVE stream-stream LEFT OUTER interval join: each live
    * event picks up every marker from the same user within the
    * preceding span; an event with none null-extends once the watermark
    * passes its join window. [[taggedAssociation]] (B10) holds one
    * "latest marker" per key in hand-rolled state — the as-of form;
    * this is the engine-native association of TWO live streams: both
    * sides buffer only watermark-deep state (the interval condition is
    * what lets the engine evict it), so memory is bounded at any input
    * rate and the join distributes by key — the shape that survives
    * 1000 executors, where the reference's in-process tags_line
    * (parser.py:421-432) cannot. */
  def intervalJoin(events: DataFrame, markers: DataFrame,
      span: String = "10 minutes"): DataFrame = {
    val l = events
      .select(col("user_id"), col("event_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 minute")
    val r = markers
      .select(col("user_id").as("m_user"), col("id").as("marker_id"),
        col("ts").as("m_ts"))
      .withWatermark("m_ts", "1 minute")
    l.join(r,
        col("user_id") === col("m_user") &&
          col("m_ts") >= col("e_ts") - expr(s"INTERVAL $span") &&
          col("m_ts") <= col("e_ts"),
        "leftOuter")
      .select(col("user_id"), col("event_id"), col("e_ts"),
        col("marker_id"), col("m_ts"))
  }

  /** The full consumer pipeline as one streaming query (SURVEY §1): a
    * stream of raw MKV fragment blobs → EBML tag extraction → typed
    * fragment metadata → watermarked per-stream rate/lag aggregation.
    * This is the end-to-end Spark analog of parser.py: what GetMedia+
    * EbmlReader+tags_line do per-thread happens here per-row, keyed by
    * fragment producer, at any parallelism. */
  def fragmentPipeline(fragments: DataFrame): DataFrame = {
    import graft.ebml.EbmlFunctions
    fragments
      .withColumn("tg", EbmlFunctions.parseTags(col("blob")))
      .select(
        col("tg.fragment_number").cast("long").as("fragment_number"),
        col("tg.user_id").cast("long").as("producer_id"),
        timestamp_millis(col("tg.producer_ts").cast("long")).as("producer_time"),
        col("tg.millis_behind").cast("long").as("millis_behind"),
        col("tg.continuation_token").as("token"))
      .withWatermark("producer_time", "1 minute")
      .groupBy(window(col("producer_time"), "10 minutes"), col("producer_id"))
      .agg(
        count(lit(1)).as("n_fragments"),
        max(col("fragment_number")).as("max_fragment"),
        max(col("millis_behind")).as("max_behind_ms"))
      .select(col("window.start").as("window_start"), col("producer_id"),
        col("n_fragments"), col("max_fragment"), col("max_behind_ms"))
  }

  /** B12 — streaming replay dedup: a reconnect resumes from the last
    * continuation token, so fragments after it can be delivered AGAIN
    * (at-least-once). Spark form: event-time watermark +
    * dropDuplicatesWithinWatermark — replays inside the horizon are
    * dropped exactly once AND state for ids older than the watermark is
    * evicted. (Plain dropDuplicates(id) only evicts state when the
    * event-time column is part of the key — with an id-only key its
    * state grows one row per fragment ever seen, unbounded on an
    * endless stream.) */
  def replayDedup(events: DataFrame, horizon: String = "10 minutes",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame =
    events
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(idCol)

  /** C12b streaming twin — stream-static enrichment: the live event
    * stream joined to the customer dimension, then watermarked windowed
    * per-segment rates. The static side is re-scanned per micro-batch,
    * so dimension updates flow in without restarting the query; Catalyst
    * size-gates the broadcast exactly like the batch form. */
  def enrichedRates(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(customer, col("user_id") === col("c_custkey"))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("c_mktsegment"), col("n"), col("sum_value"))

  /** Error side-channel (parser.py:357-360): fragments carrying
    * AWS_KINESISVIDEO_ERROR_CODE/_ID are surfaced as a monitoring stream
    * with the continuation token to resume from — the reference logs
    * them and reconnects; here the same rows drive alerting or a
    * dead-letter sink. Works on batch and streaming frames alike. */
  def fragmentErrors(fragments: DataFrame): DataFrame = {
    import graft.ebml.EbmlFunctions
    fragments
      .withColumn("tg", EbmlFunctions.parseTags(col("blob")))
      .filter(col("tg.error_code").isNotNull || col("tg.error_id").isNotNull)
      .select(
        col("tg.fragment_number").cast("long").as("fragment_number"),
        col("tg.error_code").as("error_code"),
        col("tg.error_id").cast("long").as("error_id"),
        col("tg.continuation_token").as("token"))
  }

  /** B7 streaming twin — native session windows: a session ends when a
    * producer pauses longer than `gap` (the reference's reconnect
    * epoch, EventOps.sessionize in batch). The watermark both admits
    * bounded lateness and CLOSES sessions — state for a session ends
    * when the watermark passes its gap, so an endless stream holds
    * only open sessions. */
  def sessionRates(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"))

  /** F6 streaming twin — decontamination as documents ARRIVE: each doc
    * row computes its word n-gram hashes (codegen kernel) and merges
    * them against the SORTED benchmark gram array baked into the plan —
    * a pure stateless projection + filter, so it runs in append mode
    * with NO state store and no shuffle: the ideal streaming hygiene
    * gate. The benchmark set is model-sized (TextOps.benchmarkGrams
    * collects it once, like IVF centroids); a benchmark update means
    * restarting the query with a fresh array, exactly like deploying a
    * new model. Output: one (doc_id, n_hits) row per contaminated doc. */
  def decontaminateStream(docs: DataFrame, benchGrams: Array[Long],
      n: Int = 3): DataFrame = {
    docs
      .withColumn("n_hits", call_function("graft_intersect_long_size",
        call_function("graft_word_ngrams",
          graft.functions.words(col("text")), lit(n)),
        typedlit(benchGrams.toSeq)))
      .filter(col("n_hits") > 0L)
      .select(col("doc_id"), col("n_hits"))
  }

  /** F8 streaming twin — deterministic domain mixing as docs ARRIVE:
    * the keep decision is the SAME pure per-row predicate as the batch
    * operator (TextOps.mixKeep — a Knuth hash of doc_id against a
    * per-source threshold), so this is the second stateless streaming
    * hygiene gate next to [[decontaminateStream]]: a projection +
    * filter, append mode, NO state store, no watermark, no shuffle.
    * Batch and stream provably agree row for row because they share
    * the predicate builder. */
  def mixSampleStream(docs: DataFrame, weights: Map[String, Double],
      defaultFrac: Double = 0.0): DataFrame =
    docs.filter(graft.operators.TextOps.mixKeep(weights, defaultFrac))
      .select(col("doc_id"), col("source"))

  /** F10 streaming twin — the Gopher repetition-quality gate as
    * documents ARRIVE: the shared per-row kernel
    * ([[graft.operators.TextOps.repetitionSignalsOf]]) scores each doc,
    * the published thresholds filter (Rae et al. 2021 Table A1 uses
    * dup-line > 0.3 and top-2-gram > 0.2 as reject rules). Emits the
    * REJECTED docs with their offending fractions — the reject-queue
    * side of the gate; keepers are the complement. Stateless: one
    * kernel call + filter per row, append mode, no state store. */
  def repetitionGateStream(docs: DataFrame,
      maxDupBlockFrac: Double = 0.3,
      maxTop2Frac: Double = 0.2): DataFrame =
    graft.operators.TextOps.repetitionSignalsOf(docs)
      .filter(col("dup_block_frac") > maxDupBlockFrac ||
        col("top2_frac") > maxTop2Frac)
      .select(col("doc_id"), col("dup_block_frac"), col("top2_frac"))

  /** F16 streaming twin — quality gating as documents ARRIVE: the SAME
    * score as the batch gate (shared builder
    * [[graft.operators.TextOps.stopRatioCol]]) against PINNED
    * per-source thresholds — a stream cannot rank the corpus, so the
    * deploy shape is exactly the CCNet one: thresholds come from a
    * periodic batch pass over the settled corpus (the [[qualityGateOf]]
    * p50_thr column, model-sized driver state like IVF centroids) and
    * the live gate is a stateless projection + filter. Append mode, no
    * state store, no shuffle. */
  def qualityGateStream(docs: DataFrame,
      thresholds: Map[String, Double],
      defaultThr: Double = 0.0): DataFrame = {
    val thr = thresholds.toSeq.sortBy(_._1).foldLeft(lit(defaultThr)) {
      case (acc, (src, v)) => when(col("source") === src, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("stop_ratio", graft.operators.TextOps.stopRatioCol)
      .withColumn("p50_thr", thr)
      .filter(col("stop_ratio") >= col("p50_thr"))
      .select(col("source"), col("doc_id"), col("stop_ratio"), col("p50_thr"))
  }

  /** B23 streaming twin — LIVE changelog compaction: the identical
    * max-struct election as [[graft.operators.EventOps.latestState]]
    * (shared core), run as a streaming aggregation in Update mode. The
    * per-key state IS the compacted row — one struct per key, never the
    * change history — and each micro-batch emits only the keys whose
    * current state changed: exactly the maintenance pattern of a
    * serving-layer upsert sink (foreachBatch MERGE). No watermark: the
    * compacted table is keyed by a bounded entity id, so state size is
    * #keys, not time. */
  def latestStateStream(events: DataFrame): DataFrame =
    graft.operators.EventOps.latestStateCore(
      events.withColumn("ts_ms", unix_millis(col("ts"))))

  final case class BucketState(open: Map[Long, Long], ring: List[(Long, Long)])
  final case class Anomaly(event_type: String, bucket: Long, n: Long,
      z4: Option[Double], is_spike: Option[Long])

  /** B25 streaming twin — LIVE rate-anomaly detection per event type:
    * the batch z-score ([[graft.operators.EventOps.rateAnomaly]]'s
    * trailing-window discipline) evaluated as buckets CLOSE in event
    * time. Keyed state per type = the still-open buckets (bounded by
    * lateness/width + 1) plus a ring of the last `trail` closed bucket
    * counts — a few dozen longs however long the stream runs. A bucket
    * closes when the watermark passes its end; its z is computed
    * against the ring (exactly the batch form's trailing stats, with
    * the same decimal-free small-scale arithmetic guarded by the same
    * t_cnt == trail completeness rule), emitted ONCE (Append-legal),
    * and the ring advances. Gaps are real: an empty bucket between
    * closings enters the ring as n = 0, matching a monitoring system's
    * view that silence is a rate of zero — this is where the live form
    * deliberately extends the batch query, which only sees buckets that
    * contain events.
    *
    * Two deliberate guards (both bug classes this file has seen):
    * EventTimeTimeout — NOT NoTimeout — because Spark applies its
    * late-row filter to flatMapGroupsWithState ONLY under event-time
    * timeout (verified against the 4.1.2 jars): with NoTimeout a
    * straggler behind the watermark would re-open an already-closed
    * bucket and sit in the state map forever. And the trailing-variance
    * products run in BigInt, because trail·Σn² − (Σn)² wraps int64 at
    * the same ~1.3e8 events/bucket where the BATCH form switched to
    * decimal(38,0) — the twin must not silently diverge exactly at
    * deploy-scale rates. The timeout also FLUSHES an idle key: closable
    * buckets emit without waiting for the key's next arrival. */
  def rateAnomalyStream(events: Dataset[Event], widthMs: Long = 600000L,
      trail: Int = 24, zThreshold: Double = 3.0,
      lateness: String = "1 minute"): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BucketState, Anomaly](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (typ: String, rows: Iterator[Event], state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Map.empty, Nil))
          var open = st.open
          rows.foreach { e =>
            val b = e.ts.getTime / widthMs
            open = open.updated(b, open.getOrElse(b, 0L) + 1L)
          }
          val wm = state.getCurrentWatermarkMs()
          // buckets whose extension horizon has passed close now, in
          // order, with interior silent buckets closed as n = 0
          val closable = open.keys.filter(b => (b + 1) * widthMs <= wm)
          var ring = st.ring
          val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
          if (closable.nonEmpty) {
            val contiguous = ring.lastOption.map(_._1 + 1).getOrElse(closable.min)
            // a silent span longer than 4 trails restarts the baseline
            // instead of emitting unbounded zero-buckets (the standard
            // monitoring "too stale, re-learn" rule); the ring resets
            // because it is no longer contiguous with what follows
            val lo =
              if (closable.max - contiguous > 4L * trail) {
                ring = Nil
                closable.max - 4L * trail
              } else contiguous
            (lo to closable.max).foreach { b =>
              val n = open.getOrElse(b, 0L)
              val z4 =
                if (ring.length == trail) {
                  // exact products (the batch decimal(38,0) guard):
                  // int64 wraps at deploy-plausible per-bucket counts
                  val tSum = ring.map(x => BigInt(x._2)).sum
                  val tSumSq = ring.map(x => BigInt(x._2) * BigInt(x._2)).sum
                  val varNum = BigInt(trail) * tSumSq - tSum * tSum
                  if (varNum > 0) {
                    val z = (BigInt(n) * trail - tSum).toDouble / trail /
                      math.sqrt(varNum.toDouble / (trail.toLong * trail))
                    // same HALF_UP rounding as the batch round(z, 4)
                    Some(BigDecimal(z)
                      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
                  } else None
                } else None
              out += Anomaly(typ, b, n, z4,
                z4.map(z => if (math.abs(z) > zThreshold) 1L else 0L))
              ring = (ring :+ (b, n)).takeRight(trail)
              open = open - b
            }
            // in the baseline-restart branch the loop starts at lo >
            // some closable buckets; those predate the re-learn horizon
            // and are dropped, not emitted — leaving them in `open`
            // would pin open.keys.min and re-arm an always-past timeout
            // every trigger forever (a permanent state + CPU leak)
            open = open -- closable
          }
          // state stays BOUNDED either way: open is emptied by closes
          // (lateness/width + 1 entries at most between them) and the
          // ring holds <= trail counts — an eternal key costs a few
          // dozen longs, never its history. Timeout re-arms only while
          // something is open, so a fully-flushed key parks with just
          // its ring until the next arrival.
          state.update(BucketState(open, ring))
          if (open.nonEmpty) {
            val next = (open.keys.min + 1) * widthMs
            state.setTimeoutTimestamp(math.max(next, wm + 1))
          }
          out.iterator
      }
  }

  final case class CrossAligned(user_id: Long, event_id: Long, ts_ms: Long,
      img_id: Option[Long], img_ts: Option[Long])

  /** G10 streaming twin (round 14) — LIVE cross-modal association: in
    * the live A/V mux an image keyframe arrives BEFORE the audio
    * fragments it contextualizes, so the association is "latest
    * keyframe seen so far" per user stream — ONE (ts, id) pair of
    * keyed state, exactly [[taggedAssociation]]'s steady-state
    * discipline applied across modalities (same in-order-arrival
    * caveat: within a micro-batch rows process in the batch form's
    * (ts_ms, event_id) order, so batch and stream agree wherever
    * arrival respects event time — the B10 contract). Emits the
    * association only; the census and the VAD gate are pure column
    * projections a consumer applies downstream of the sink (the
    * batch/stream shared-builder rule — nothing stateful remains). */
  def crossAlignStream(events: Dataset[Event]): Dataset[CrossAligned] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[(Long, Long)], CrossAligned](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Event],
            state: GroupState[Option[(Long, Long)]]) =>
          var img: Option[(Long, Long)] = state.getOption.flatten
          val out = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.event_id))
            .flatMap { e =>
              if (e.event_id % 3 == 0) { img = Some((e.ts.getTime, e.event_id)); None }
              else Some(CrossAligned(uid, e.event_id, e.ts.getTime,
                img.map(_._2), img.map(_._1)))
            }
          state.update(img)
          out.iterator
      }
  }

  final case class KeyframeIndexed(user_id: Long, event_id: Long,
      ts_ms: Long, kf_seq: Long)

  /** G17b streaming twin — LIVE keyframe index: the reference types
    * frames to catch keyframes AS THEY ARRIVE (parser.py:437-487 —
    * decode, keyframe-gate, append to the serving queue); here each
    * live fragment's SimpleBlock payload is NAL-parsed in plan
    * (`graft_nal_stats`, the G17 kernel) and only IDR-carrying
    * fragments reach the keyed state, which is ONE long per stream —
    * the running keyframe count. Emission order inside a micro-batch
    * follows the batch form's event_id order (mmKeyframeIndex windows
    * by event_id ALONE — fragment numbers are the stream's total
    * order), so stream ≡ batch numbering on any batch split of an
    * in-order stream even where ts_ms is not monotone with event_id. The non-IDR
    * majority is dropped BEFORE the shuffle — the same
    * keyframes-only-cross-the-exchange shape as the batch query. */
  def keyframeIndexStream(fragments: DataFrame): Dataset[KeyframeIndexed] = {
    import fragments.sparkSession.implicits._
    import graft.ebml.EbmlFunctions
    val frame = EbmlFunctions.firstBlock(col("blob"))
    val tg = EbmlFunctions.parseTags(col("blob"))
    fragments
      .filter(call_function("graft_nal_stats", frame)
        .getField("n_idr") > lit(0L))
      .select(
        tg.getField("user_id").cast("long").as("user_id"),
        tg.getField("fragment_number").cast("long").as("event_id"),
        tg.getField("producer_ts").cast("long").as("ts_ms"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, KeyframeIndexed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { r =>
            n += 1
            KeyframeIndexed(uid, r._2, r._3, n)
          }
          state.update(n)
          out.iterator
      }
  }

  /** G24 streaming twin — LIVE codec-mix monitor over a heterogeneous
    * fragment stream: each arriving MKV fragment is CASE-dispatched
    * through the census kernel its walked CodecID names (the shared
    * [[graft.operators.Multimodal.codecCensus]] — AVC and HEVC parse
    * through their own kernels, each payload exactly once), then rolled
    * into watermarked tumbling windows per codec: fragment counts,
    * keyframe-bearing NAL totals, slice RBSP volume — the fleet-health
    * dashboard a transcode/ingest operator watches live. Event time is
    * the producer timestamp from the fragment's own tag set (the
    * reference's AWS_KINESISVIDEO_PRODUCER_TIMESTAMP); non-media bytes
    * never cross the window exchange — only (codec_id, 3 longs). */
  def codecMixStream(fragments: DataFrame,
      windowLen: String = "10 minutes",
      lateness: String = "1 minute"): DataFrame = {
    import graft.ebml.EbmlFunctions
    val tg = EbmlFunctions.parseTags(col("blob"))
    fragments
      // Tracks-less / unknown-codec fragments land in a visible
      // 'unknown' bucket (counted, null census) — the gopHealthStream
      // rule; the census CASE falls through to null for the label
      .withColumn("codec_id", coalesce(
        EbmlFunctions.trackInfo(col("blob")).getField("codec_id"),
        lit("unknown")))
      .withColumn("st",
        graft.operators.Multimodal.codecCensus(col("codec_id"), col("blob")))
      .withColumn("ts",
        (tg.getField("producer_ts").cast("long") / 1000.0).cast("timestamp"))
      .select(col("ts"), col("codec_id"),
        col("st.n_keyframes").as("kf"),
        col("st.slice_rbsp_bytes").as("sb"))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("codec_id"))
      .agg(count(lit(1)).as("n_fragments"),
        sum(col("kf")).as("n_keyframes"),
        sum(col("sb")).as("slice_rbsp_bytes"))
      .select(col("window.start").as("window_start"), col("codec_id"),
        col("n_fragments"), col("n_keyframes"), col("slice_rbsp_bytes"))
  }

  /** G22/G25 streaming twin — LIVE GOP-health monitor over a MIXED
    * fleet: each arriving Tracks-bearing fragment is CASE-dispatched
    * through the slice-header parser its walked CodecID names
    * (`graft_gop_census` for AVC, `graft_hevc_gop_census` for HEVC —
    * the shared [[graft.operators.Multimodal.gopCensusDispatch]];
    * unknown codecs count as fragments but contribute null censuses,
    * never a misparse) and the P/B/I mix rolls into watermarked
    * tumbling windows PER CODEC — the live dashboard a transcode
    * operator reads to catch a producer that stopped emitting I frames
    * or drifted B-heavy, on either half of a heterogeneous fleet. Only
    * (codec_id, four longs) per fragment cross the window exchange;
    * media bytes never do. */
  def gopHealthStream(fragments: DataFrame,
      windowLen: String = "10 minutes",
      lateness: String = "1 minute"): DataFrame = {
    import graft.ebml.EbmlFunctions
    val tg = EbmlFunctions.parseTags(col("blob"))
    fragments
      // a fragment without a Tracks element (or with an unknown codec)
      // is NOT silently dropped: it lands in a visible 'unknown' bucket
      // with a fragment count and null censuses — unparsed fleet
      // traffic is itself a health signal the dashboard must show
      .withColumn("codec_id", coalesce(
        EbmlFunctions.trackInfo(col("blob")).getField("codec_id"),
        lit("unknown")))
      .withColumn("g", graft.operators.Multimodal.gopCensusDispatch(
        col("codec_id"), col("blob")))
      .withColumn("ts",
        (tg.getField("producer_ts").cast("long") / 1000.0).cast("timestamp"))
      .select(col("ts"), col("codec_id"),
        col("g.n_slices").as("ns"), col("g.n_i").as("ni"),
        col("g.n_p").as("np"), col("g.n_b").as("nb"))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("codec_id"))
      .agg(count(lit(1)).as("n_fragments"),
        sum(col("ns")).as("n_slices"), sum(col("ni")).as("n_i"),
        sum(col("np")).as("n_p"), sum(col("nb")).as("n_b"))
      .select(col("window.start").as("window_start"), col("codec_id"),
        col("n_fragments"),
        col("n_slices"), col("n_i"), col("n_p"), col("n_b"))
  }

  final case class Scd2Closed(user_id: Long, event_id: Long,
      valid_from_ms: Long, valid_to_ms: Long)

  /** B24 streaming twin (round 14) — LIVE SCD-2 interval assembly: each
    * key's version becomes a validity interval [own ts, next version's
    * ts), emitted exactly ONCE when it is provably closed — the
    * event-time watermark has passed its END strictly, so no arrival
    * can still land inside it (arrivals are watermark-filtered under
    * EventTimeTimeout, the B25b discipline) or tie into its boundary
    * (same-ms arrivals at exactly the watermark are why the close is
    * strict). The OPEN interval per key — batch's valid_to NULL row —
    * never emits: a stream cannot know a version is final, which is
    * precisely the Append-mode reading of "is_current".
    *
    * State per key = the versions whose intervals are not yet closed:
    * the open head plus anything inside the lateness horizon — bounded
    * by change rate × lateness + 1, never by history (closed versions
    * leave state the batch they emit). Same (ts_ms, event_id) total
    * order as the batch window, so stream ≡ batch on the union for
    * every closed interval (StreamingSpec pins it, incl. a same-ms tie
    * and an out-of-order insertion between two buffered versions).
    * Timeout re-arms at the exact next finalization horizon, so idle
    * keys flush without waiting for their own next event. */
  def scd2Stream(events: Dataset[Event],
      lateness: String = "1 minute"): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long)], Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event],
            state: GroupState[List[(Long, Long)]]) =>
          // merged version buffer in the batch form's (ts, id) order;
          // distinct folds replayed duplicates
          var buf = (state.getOption.getOrElse(Nil) ++
            rows.map(e => (e.ts.getTime, e.event_id))).distinct.sorted
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          // head interval [v0, v1) is final iff v1.ts < wm: a row could
          // only break it by carrying ts < v1.ts <= wm — filtered
          while (buf.lengthCompare(2) >= 0 && buf(1)._1 < wm) {
            out += Scd2Closed(uid, buf.head._2, buf.head._1, buf(1)._1)
            buf = buf.tail
          }
          state.update(buf)
          // a pending close exists whenever >= 2 versions are buffered;
          // its horizon is exactly the successor's ts (+1 past the wm
          // guard) — idle keys finalize on watermark advance alone
          if (buf.lengthCompare(2) >= 0)
            state.setTimeoutTimestamp(math.max(buf(1)._1 + 1, wm + 1))
          out.iterator
      }
  }

  /** D9 streaming twin (round 14) — LIVE snapshot diff: classify the
    * NEW corpus version's documents as added / changed / unchanged AS
    * THEY ARRIVE, against the settled version reduced to its
    * (doc_id, 128-bit hash) table — the D1 exchange discipline makes
    * the static side ~24 B/row, never text, so it hash-joins (or
    * broadcasts) like B18's dimension and is re-scanned per
    * micro-batch. STATELESS: one projection + one stream-static left
    * join, append mode, no state store, no watermark.
    *
    * 'removed' is deliberately absent: a key is removed only when the
    * new snapshot ENDS without it — a whole-snapshot property no
    * arrival can decide — so the live gate emits the three
    * arrival-decidable statuses and the batch complement
    * ([[graft.operators.Dedup.snapshotDiffOf]]'s removed rows) runs at
    * snapshot close. StreamingSpec pins stream ≡ batch minus removed
    * on the union, and that the plan carries no state operator. */
  def snapshotDiffStream(neu: DataFrame, oldSnap: DataFrame): DataFrame = {
    def hashed(df: DataFrame, p: String) = df.select(col("doc_id"),
      xxhash64(col("text")).as(s"${p}h1"),
      xxhash64(lit(1L), col("text")).as(s"${p}h2"))
    hashed(neu, "n_")
      .join(hashed(oldSnap, "o_"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("o_h1").isNull, "added")
          .when(col("o_h1") === col("n_h1") && col("o_h2") === col("n_h2"),
            "unchanged")
          .otherwise("changed").as("status"))
  }

  final case class DocArrival(doc_id: Long, source: String,
      h1: Long, h2: Long, n_tok: Long)
  final case class SavingsKeeper(doc_id: Long, source: String, n_tok: Long)
  final case class SavingsDelta(source: String, d_docs: Long, d_kept: Long,
      d_tok_total: Long, d_tok_kept: Long)

  /** D12 streaming twin — LIVE dedup-savings telemetry: the per-source
    * kept/dropped document-and-token census
    * ([[graft.operators.Dedup.dedupSavingsOf]]) maintained as documents
    * ARRIVE. The exchange is the D1 discipline verbatim: each doc is
    * reduced to (doc_id, source, 128-bit content hash, token count)
    * BEFORE the shuffle — ~40 B/row, never text — and the state store
    * is keyed by the hash pair, holding exactly one
    * (keeper doc_id, source, n_tok) per distinct content ever seen.
    *
    * The twin emits DELTAS, not the census: every arrival charges its
    * source (+1 doc, +n_tok total); the first copy of a content is
    * provisionally kept; a LATER-arriving copy with a SMALLER doc_id —
    * the batch election is global min, which a stream cannot know in
    * advance — RETRACTS the old keeper's kept-attribution from its
    * source and awards the new one (same n_tok, the texts are
    * identical; the sources need not be). Summing all deltas per source
    * therefore reproduces the batch census on the union EXACTLY,
    * retroactive keeper flips included — [[savingsFromDeltas]] is that
    * rollup with the shared saved_permille formula, and at deploy it
    * runs inside a foreachBatch MERGE onto the serving table (the B23
    * sink pattern; batch-id stamping makes retried micro-batches
    * no-ops, the H16c rule). Update-mode keyed state, no watermark:
    * content identity never expires, so state size is #distinct
    * contents — the same ledger the D7 incremental band index persists,
    * and the thing a 100 TB deployment fronts with that index. */
  def savingsDeltaStream(docs: DataFrame): Dataset[SavingsDelta] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("source"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit(1L), col("text")).as("h2"),
        size(call_function("regexp_extract_all",
          col("text"), lit("\\S+"), lit(0))).cast("long").as("n_tok"))
      .as[DocArrival]
      .groupByKey(d => (d.h1, d.h2))
      .flatMapGroupsWithState[SavingsKeeper, SavingsDelta](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, Long), rows: Iterator[DocArrival],
            state: GroupState[SavingsKeeper]) =>
          var keeper = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SavingsDelta]
          // within a micro-batch, apply in doc_id order: the keeper
          // lands directly instead of via an intra-batch retract pair
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            out += SavingsDelta(d.source, 1L, 0L, d.n_tok, 0L)
            keeper match {
              case None =>
                keeper = Some(SavingsKeeper(d.doc_id, d.source, d.n_tok))
                out += SavingsDelta(d.source, 0L, 1L, 0L, d.n_tok)
              case Some(k) if d.doc_id < k.doc_id =>
                out += SavingsDelta(k.source, 0L, -1L, 0L, -k.n_tok)
                out += SavingsDelta(d.source, 0L, 1L, 0L, d.n_tok)
                keeper = Some(SavingsKeeper(d.doc_id, d.source, d.n_tok))
              case _ => () // a later copy: charged to its source, not kept
            }
          }
          keeper.foreach(state.update)
          out.iterator
      }
  }

  /** The delta→census rollup: summing every emitted [[SavingsDelta]]
    * per source yields the batch census on the union, bit for bit
    * (shared saved_permille formula). Batch-context — run it over the
    * maintained delta ledger or inside the foreachBatch MERGE. */
  def savingsFromDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy("source")
      .agg(sum(col("d_docs")).as("n_docs"),
        sum(col("d_kept")).as("n_kept"),
        sum(col("d_tok_total")).as("tokens_total"),
        sum(col("d_tok_kept")).as("tokens_kept"))
      .withColumn("saved_permille", graft.operators.Dedup.savedPermille)
      .orderBy("source")

  final case class Turn(ts_ms: Long, event_id: Long, event_type: String)
  final case class Transcript(user_id: Long, start_ms: Long, n_turns: Long,
      dur_ms: Long, transcript: String)

  /** B28 streaming twin — LIVE session-transcript assembly: per user,
    * buffer the session's turns as keyed state and EMIT the assembled
    * transcript once the session is provably over — a gap-segment
    * closes only when the event-time watermark passes its end by the
    * session gap (no event that could extend it can still arrive), and
    * an idle user's final session flushes via event-time timeout at
    * exactly that horizon. Append-mode-legal by construction: each
    * transcript is emitted once, finished, immutable — the property
    * batch recomputation gets by rereading, the stream gets from the
    * watermark.
    *
    * State per user = the OPEN sessions' turns (types + timestamps,
    * session-bounded — the B28/G5c metadata-payload rule); closed
    * segments leave state immediately, so an eternal user costs one
    * active session, not their history. Stream ≡ batch
    * ([[graft.operators.EventOps.sessionTranscriptsOf]]) on the union
    * of all micro-batches for in-watermark arrivals, any batch split —
    * StreamingSpec pins it including cross-batch session stitching. */
  def transcriptStream(events: Dataset[Event], gapMs: Long = 3600000L,
      lateness: String = "1 minute"): Dataset[Transcript] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Turn], Transcript](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[List[Turn]]) =>
          val buf = state.getOption.getOrElse(Nil) ++ rows.map(e =>
            Turn(e.ts.getTime, e.event_id, e.event_type))
          val ordered = buf.sortBy(t => (t.ts_ms, t.event_id))
          // split the buffer into gap-segments (same rule as batch)
          val segments = ordered.foldLeft(List.empty[List[Turn]]) {
            case (acc, t) => acc match {
              case cur :: rest if t.ts_ms - cur.last.ts_ms <= gapMs =>
                (cur :+ t) :: rest
              case _ => List(t) :: acc
            }
          }.reverse
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) =
            if (state.hasTimedOut) (segments, Nil) // wm passed last+gap
            else segments.partition(s => s.last.ts_ms + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open.flatten)
            val lastTs = open.last.last.ts_ms
            state.setTimeoutTimestamp(math.max(lastTs + gapMs, wm + 1))
          }
          closed.iterator.map { s =>
            Transcript(uid, s.head.ts_ms, s.length.toLong,
              s.last.ts_ms - s.head.ts_ms,
              s.map(_.event_type).mkString(">"))
          }
      }
  }

  final case class StageEvent(user_id: Long, event_type: String, ts_ms: Long)
  final case class FunnelOut(user_id: Long, stage_times: Seq[Long], stage: Long)

  /** B26 streaming twin — LIVE funnel stage-state (round 13): per user,
    * the sequential-min stage times maintained as keyed state — the
    * dashboard form of [[graft.operators.EventOps.funnelStagesOf]] for
    * any N-stage list. State is exactly N longs per user (Long.MaxValue
    * = stage not reached), bounded by the funnel definition, never by
    * event count.
    *
    * Within a micro-batch, rows replay in (ts_ms, stage-index) order —
    * the ascending scan computes the batch operator's sequential minima
    * exactly (a gate time is always set by an event no later than any
    * event it gates, and the stage-index tiebreak lets same-ms chains
    * fire in one pass). Across batches the greedy state carries
    * forward, so the stream ≡ batch equivalence holds when arrival is
    * event-time-ordered across batches (the thinFrames contract): a
    * late event that would lower an already-used gate is applied to
    * FUTURE minima only. Emits in Update mode, and only for users whose
    * stage state actually changed (the latestStateStream discipline —
    * a serving-layer upsert sees one row per changed funnel). */
  def funnelStream(events: Dataset[StageEvent],
      stages: Seq[String]): Dataset[FunnelOut] = {
    require(stages.length >= 2, "a funnel needs at least two stages")
    require(stages.distinct.length == stages.length,
      "funnel stages must be distinct event types")
    import events.sparkSession.implicits._
    val idx = stages.zipWithIndex.toMap
    val n = stages.length
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[StageEvent], state: GroupState[Seq[Long]]) =>
          val t = state.getOption.getOrElse(Seq.fill(n)(Long.MaxValue)).toArray
          val before = t.toSeq
          rows.toSeq
            .flatMap(e => idx.get(e.event_type).map(i => (e.ts_ms, i)))
            .sorted
            .foreach { case (u, i) =>
              val gateOpen = i == 0 ||
                (t(i - 1) != Long.MaxValue && u >= t(i - 1))
              if (gateOpen && u < t(i)) t(i) = u
            }
          val now = t.toSeq
          if (now == before && state.exists) Iterator.empty
          else {
            state.update(now)
            Iterator.single(FunnelOut(uid,
              now.takeWhile(_ != Long.MaxValue),
              now.count(_ != Long.MaxValue).toLong))
          }
      }
  }

  /** B27 streaming twin — LIVE cohort day-sets as a native Update-mode
    * streaming aggregation (round 13): the per-user (first-active day,
    * distinct-day set) reduction of
    * [[graft.operators.EventOps.cohortDaySets]], run over the live
    * event stream. Every aggregate is ORDER-INDEPENDENT (min,
    * set-union), so the end state equals the batch frame under ANY
    * arrival order — no watermark needed, state is one day-set per
    * user, bounded by calendar days. The model-sized cohort-cell tail
    * ([[graft.operators.EventOps.cohortCellsOf]]) runs downstream of
    * the sink (a foreachBatch MERGE view at deploy), which is what
    * keeps the stateful operator single and Update-mode legal. */
  def cohortStateStream(events: DataFrame): DataFrame =
    graft.operators.EventOps.cohortDaySets(
      events.select(col("user_id"),
        graft.functions.intDiv(unix_millis(col("ts")), 86400000L).as("day")))

  final case class Doc(doc_id: Long, source: String, text: String)
  final case class Admitted(source: String, doc_id: Long, n_tokens: Long,
      cum_tokens: Long)

  /** F15 streaming twin — per-source TOKEN-BUDGET enforcement as
    * documents ARRIVE: a running per-source token counter lives in
    * keyed state; a doc is admitted iff the counter INCLUDING it stays
    * within the source's budget, and the counter advances only on
    * admission (the batch operator's greedy rule in arrival order — a
    * stream cannot replay the mix64 priority order, so admission order
    * is ingest order; within one micro-batch rows admit in doc_id
    * order to keep replay deterministic). Once a source's budget is
    * exhausted every later doc drops in the filter — state is one long
    * per source, bounded by the mixture config size, never by the
    * corpus. */
  def tokenBudgetStream(docs: Dataset[Doc], budgets: Map[String, Long],
      defaultBudget: Long): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    val nTok = (s: String) => s.split("\\s+").count(_.nonEmpty).toLong
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[Doc], state: GroupState[Long]) =>
          val budget = budgets.getOrElse(source, defaultBudget)
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            val n = nTok(d.text)
            if (cum + n <= budget) {
              cum += n
              Some(Admitted(source, d.doc_id, n, cum))
            } else None
          }
          state.update(cum)
          out.iterator
      }
  }

  final case class Frame(stream_id: Long, ts: java.sql.Timestamp, frame_id: Long)
  final case class Kept(stream_id: Long, frame_id: Long, ts: java.sql.Timestamp)

  /** G5b streaming twin — frame thinning as frames ARRIVE
    * (parser.py:460-463 TimeSpanBetweenFramesInSecs): keep a frame iff
    * its producer timestamp is at least `minSpanMs` past the last KEPT
    * frame of its stream. This is the reference's exact sequential-greedy
    * rule — a kept frame resets the span from ITS OWN time, which the
    * batch time-bucket form (Multimodal.mmFrameSampleByTime) only
    * approximates at bucket edges. Per-key state is one long, and it is
    * BOUNDED: a stream idle past `idleRetentionMs` of event time is
    * evicted when the watermark passes it (round-3 NoTimeout grew state
    * forever on churning stream-id populations); a revived stream
    * restarts thinning fresh, like a new reader thread in the reference.
    *
    * Ordering contract: rows are re-sorted by event time WITHIN each
    * micro-batch; across batches the greedy rule follows arrival order,
    * so a frame arriving more than `lateness` behind the stream's max
    * event time is dropped by the watermark rather than applied out of
    * order — the same bounded-disorder assumption the batch twin
    * documents as its pack-order dependency. */
  def thinFrames(frames: Dataset[Frame], minSpanMs: Long,
      idleRetentionMs: Long = 30 * 60 * 1000L,
      lateness: String = "1 minute"): Dataset[Kept] = {
    import frames.sparkSession.implicits._
    frames
      .withWatermark("ts", lateness)
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState[Option[Long], Kept](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (sid: Long, rows: Iterator[Frame], state: GroupState[Option[Long]]) =>
          if (state.hasTimedOut) {
            // stream idle past the retention horizon: drop its one long
            state.remove()
            Iterator.empty
          } else {
            var lastKept: Option[Long] = state.getOption.flatten
            var maxSeen = Long.MinValue
            val out = rows.toSeq.sortBy(f => (f.ts.getTime, f.frame_id))
              .flatMap { f =>
                val t = f.ts.getTime
                if (t > maxSeen) maxSeen = t
                if (lastKept.forall(lk => t >= lk + minSpanMs)) {
                  lastKept = Some(t)
                  Some(Kept(sid, f.frame_id, f.ts))
                } else None
              }
            state.update(lastKept)
            // evict on EVENT time: when the watermark passes the last
            // frame by the retention horizon the key times out (max with
            // the current watermark keeps the timestamp legal for a
            // batch of purely-late rows)
            val basis = math.max(maxSeen, state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(basis + idleRetentionMs)
            out.iterator
          }
      }
  }

  /** B9 — the bounded newest-N frame queue (parser.py:470-481) as per-key
    * streaming state: each update emits the event with its position in the
    * queue; the state never exceeds `maxLen`. */
  def boundedQueue(events: Dataset[Event], maxLen: Int = 3): Dataset[QueueOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], QueueOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[List[Long]]) =>
          var q = state.getOption.getOrElse(Nil)
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            q = (e.event_id :: q).take(maxLen) // newest-first, drop oldest
            QueueOut(userId, e.event_id, q.length)
          }
          state.update(q)
          out.iterator
      }
  }
}
