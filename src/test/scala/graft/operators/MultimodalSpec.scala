package graft.operators

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("mm_frame_dedup banded pairs are COMPLETE vs brute-force Hamming (G6 pigeonhole)") {
    // brute force over the decoded dHashes of the sampled frame
    // library (the operator's every=10 domain)
    val sigs = Multimodal.mmFeaturesBmp(t)
      .filter("event_id % 10 = 0")
      .select("event_id", "dhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 6
    } yield {
      val (a, b) = if (sigs(i)._1 < sigs(j)._1) (sigs(i)._1, sigs(j)._1)
        else (sigs(j)._1, sigs(i)._1)
      (a, b, h.toLong)
    }).toSet
    val banded = Multimodal.mmFrameDedup(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute,
      s"banded ${banded.size} pairs != brute ${brute.size}: " +
        s"missing ${(brute -- banded).take(5)}, extra ${(banded -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture must plant near-duplicate frames")
    // the planted structure: every 4th event of a user is a <=2-bit
    // perturbation of the user's base frame; within the sampled domain
    // (% 10) that is ids % 20 == 0, and all such same-user pairs must
    // be found (the sampled set also carries non-family noise frames)
    val users = t.events.select("event_id", "user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = (for {
      (a, ua) <- users.iterator if a % 20 == 0
      (b, ub) <- users if ub == ua && b > a && b % 20 == 0
    } yield (a, b)).toSet
    assert(planted.nonEmpty)
    assert(planted.forall(p => banded.exists(x => (x._1, x._2) == p)),
      "every planted same-user family pair must be detected")
  }

  test("mm_scene_cuts equals the lag rule over decoded means; one user exchange (G9)") {
    import org.apache.spark.sql.functions._
    // independent recompute: decoded means from the G2 feature path,
    // lagged in the driver
    val means = Multimodal.mmFeaturesBmp(t)
      .join(t.events.select(col("event_id"), col("user_id")), "event_id")
      .select("user_id", "event_id", "mean_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = means.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(_._2)
      s.zip(s.drop(1)).collect {
        case ((u, _, p), (_, e, m)) if math.abs(m - p) >= 2000L =>
          (u, e, m, p, m - p)
      }
    }.toSet
    val got = Multimodal.mmSceneCuts(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expect, s"got ${got.size} cuts, expected ${expect.size}")
    assert(got.nonEmpty, "fixture must produce cuts")
    // plan: the lag window rides ONE user_id exchange (plus the
    // presentation range sort)
    val plan = Multimodal.mmSceneCuts(t).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("mm_audio_vad gate separates the planted silent population EXACTLY (G8b)") {
    import org.apache.spark.sql.functions._
    // per-frame gate verdicts, recomputed independently of the rollup
    val f = call_function("graft_wav_features",
      call_function("graft_wav_encode", col("event_id"), col("event_id") % 5 === 0))
    val verdicts = t.events
      .select(col("event_id"),
        (f.getField("sum_abs") >= f.getField("n_samples") * 4096L).as("voiced"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    assert(verdicts.nonEmpty)
    // the gate must equal the plant: voiced iff event_id % 5 != 0 —
    // silent frames are bounded at sum|s| <= 64*128, voiced ones sit
    // ~2000x above the threshold, so NO frame may straddle it
    verdicts.foreach { case (id, voiced) =>
      assert(voiced == (id % 5 != 0), s"gate misclassified event $id")
    }
    // and the rollup conserves counts: sum over users == total frames
    val rolled = Multimodal.mmAudioVad(t).collect()
    assert(rolled.map(_.getLong(1)).sum == verdicts.length)
    assert(rolled.map(_.getLong(2)).sum == verdicts.count(_._2))
  }

  test("mm_audio_features rides the EBML transport: decode(firstBlock(encode)) == direct decode (G8)") {
    import org.apache.spark.sql.functions._
    val direct = call_function("graft_wav_features",
      call_function("graft_wav_encode", col("event_id"), col("event_id") % 5 === 0))
    val expect = t.events
      .select(col("event_id"), direct.getField("env_sig").as("sig"),
        direct.getField("zero_crossings").as("zc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Multimodal.mmAudioFeatures(t)
      .select("event_id", "env_sig", "zero_crossings")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, "EBML block transport must be byte-lossless for audio frames")
  }

  test("cross-modal alignment: driver recompute per user, (ts,id) tie rule, one user_id exchange (G10)") {
    import org.apache.spark.sql.functions._
    // driver-side reference: per user, sort all events by (ts_ms,
    // event_id); each audio row (id % 3 != 0) takes the latest image
    // row (id % 3 == 0) at or before it in that order
    val evs = t.events
      .selectExpr("event_id", "user_id", "ts div 1000000 as ts_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = evs.groupBy(_._2).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._1))
      var img: Option[(Long, Long)] = None // (ts, id)
      var nA = 0L; var nAl = 0L; var nVA = 0L
      var sumG = 0L; var maxG = Option.empty[Long]
      ordered.foreach { case (id, _, ts) =>
        if (id % 3 == 0) img = Some((ts, id))
        else {
          nA += 1
          img.foreach { case (its, _) =>
            nAl += 1
            val g = ts - its
            sumG += g
            maxG = Some(maxG.fold(g)(math.max(g, _)))
            if (id % 5 != 0) nVA += 1 // voiced iff not planted silent
          }
        }
      }
      u -> (nA, nAl, nVA, if (nAl > 0) Some(sumG) else None, maxG)
    }
    val got = Multimodal.mmCrossAlign(t).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(got.size == expect.size)
    expect.foreach { case (u, e) => assert(got(u) == e, s"user $u") }
    // scale pin: the B1b window and the census share ONE user_id
    // exchange (the funnel exchange-elimination rule)
    val plan = Multimodal.mmCrossAlign(t).queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected 1 hash exchange, saw $n:\n${plan.take(1500)}")
  }

  test("codecCensus: unknown codec ids come back UNPARSED (null), never routed to a census kernel (G24)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{cents, nanosToMs}
    import graft.ebml.EbmlFunctions
    // an HEVC-parseable payload under an AUDIO codec id: the old
    // otherwise-branch would happily census it as HEVC
    val blob = EbmlFunctions.encodeFragmentTrack(
      col("event_id"), nanosToMs(col("ts")), col("user_id"),
      cents(col("value")), lit("A_AAC"),
      call_function("graft_aac_asc_encode", col("event_id"), col("user_id")),
      call_function("graft_hevc_encode", col("event_id"), col("user_id")))
    val base = t.events.limit(8).withColumn("blob", blob)
    val unknown = base
      .select(Multimodal.codecCensus(lit("A_AAC"), col("blob")).as("st"))
      .collect()
    assert(unknown.nonEmpty && unknown.forall(_.isNullAt(0)),
      "A_AAC must not fall through to the HEVC census")
    // sanity: the SAME payload parses when the id names HEVC
    val hevc = base
      .select(Multimodal.codecCensus(lit("V_MPEGH/ISO/HEVC"), col("blob"))
        .as("st"))
      .collect()
    assert(hevc.forall(!_.isNullAt(0)))
  }
}
