package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.operators._

/** Plan-shape guards: the physical plans the 100 TB design depends on.
  * A regression here (lost pushdown, lost broadcast, surprise shuffle)
  * is a performance bug even while results stay correct. */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString
  }

  test("q1: filter and projection reach the parquet scan") {
    val plan = planOf(Analytics.q1PricingSummary(t))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter in:\n$plan")
    // column pruning: untouched wide columns must not be read
    assert(!plan.contains("l_comment") && !plan.contains("l_partkey"))
  }

  test("q3/q5: dimension joins broadcast, no shuffle join on dims") {
    val p3 = planOf(Analytics.q3ShippingPriority(t))
    assert(p3.contains("BroadcastHashJoin"), s"q3 lost its broadcast:\n$p3")
    val p5 = planOf(Analytics.q5RegionRevenue(t))
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("sf-proportional joins broadcast ONLY under the size threshold") {
    // small regime (test SF): customer fits under the threshold → Catalyst
    // chooses broadcast without any hint in the operator
    val small = planOf(Analytics.enrichEvents(t))
    assert(small.contains("BroadcastHashJoin"), s"size-gate lost the small-case broadcast:\n$small")
    // big regime (simulated by disabling the threshold): the same operator
    // must NOT broadcast — an unconditional hint would OOM at 100x scale
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((name, df) <- Seq(
          "enrich_events" -> Analytics.enrichEvents(t),
          "q3" -> Analytics.q3ShippingPriority(t))) {
        val big = planOf(df)
        assert(!big.contains("BroadcastHashJoin"),
          s"$name still broadcasts with the threshold off — unconditional hint present:\n$big")
      }
      // q5 legitimately keeps hints on the FIXED dims (region 5 rows,
      // nation 25); the sf-proportional customer/supplier sides must have
      // fallen back to shuffle joins
      val q5 = planOf(Analytics.q5RegionRevenue(t))
      assert(q5.contains("SortMergeJoin") || q5.contains("ShuffledHashJoin"),
        s"q5's big sides still broadcast with the threshold off:\n$q5")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("topk runs as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Analytics.topkOrders(t))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("asof uses one window pass — no join, at most one wide shuffle") {
    val plan = planOf(EventOps.asofNextMarker(t))
    assert(!plan.contains("Join"), s"asof must not join:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"))
  }

  test("jaccard pair join spreads across partitions (AQE must not collapse it)") {
    val df = Dedup.jaccardPairsOf(t.documents)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the explicit-count repartition has to survive optimization
    assert(plan.contains("REPARTITION_BY_NUM"), s"explicit repartition lost:\n$plan")
  }

  test("semi/anti joins plan as semi/anti, not outer+filter") {
    val plan = planOf(Analytics.semiAntiJoin(t))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("IntersectRewrite swaps array_intersect counting for the merge kernel") {
    import org.apache.spark.sql.functions._
    // no manual install: the spec session is the shipped one
    val df = t.documents.limit(50)
      .select(col("doc_id"), split(col("text"), " ").as("w1"),
        split(lower(col("text")), " ").as("w2"))
      .select(col("doc_id"), size(array_intersect(col("w1"), col("w2"))).as("c"))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_intersect_size"),
      df.queryExecution.optimizedPlan.toString)
    // rewritten results must equal the un-rewritten semantics
    val expected = t.documents.limit(50)
      .select(col("doc_id"), split(col("text"), " ").as("w1"),
        split(lower(col("text")), " ").as("w2"))
      .collect().map { r =>
        val w1 = r.getSeq[String](1).distinct.toSet
        val w2 = r.getSeq[String](2).distinct.toSet
        r.getLong(0) -> w1.intersect(w2).size
      }.toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
  }

  test("text operators prune the documents scan to the columns they use") {
    for ((name, df) <- Seq(
        "fingerprint" -> TextOps.fingerprint(t),
        "curation_pipeline" -> TextOps.curationPipeline(t))) {
      val plan = planOf(df)
      // untouched wide columns must not reach the read schema
      assert(!plan.contains("lang") && !plan.contains("source"),
        s"$name reads columns it never uses:\n$plan")
    }
  }

  test("greedy frame thinning reuses the pack partitioning — no lambda-key shuffle") {
    // exactly two exchanges: the pack groupBy(grp) and the output-order
    // range partition; the greedy scan rides the pack partitioning with
    // a local sort (a third exchange means the groupByKey(lambda)
    // shuffle crept back — or a barrier repartition, measured slower
    // than the sampling re-run it would prevent)
    val plan = planOf(Multimodal.mmFrameSampleGreedy(t))
    val exchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
  }

  test("lsh/ivf scale paths plan without quadratic join operators") {
    // the scale claim is mechanical: candidate generation must be a
    // bucketed equi-join, never a nested-loop/cartesian pair space
    // (the brute oracle tiers are ALLOWED to — see the jaccard test
    // above asserting the opposite for them)
    for ((name, df) <- Seq(
        "dedup_ngram_lsh" -> Dedup.ngramLshPairs(t),
        "dedup_minhash" -> Dedup.minhashCandidates(t),
        "dedup_simhash" -> Dedup.simhashPairs(t),
        "dedup_embed_lsh" -> Dedup.embeddingPairsLsh(t),
        "ann_lsh_topk" -> Similarity.annLshTopK(t),
        "ivf_topk" -> Similarity.ivfTopK(t))) {
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name plans a quadratic join:\n$plan")
    }
  }

  test("embedding LSH paths run on native expressions — no ScalaUDF") {
    // round-6 verdict #2: lshBuckets/lshProbeBuckets were live ScalaUDFs
    // on corpus-sized inputs, paying Seq[Double] boxing per row; the
    // graft_lsh_* expressions replace them (Sketches keeps the UDFs as
    // the reference implementations KernelPropertySpec pins against)
    for ((name, df) <- Seq(
        "dedup_embed_lsh" -> Dedup.embeddingPairsLsh(t),
        "ann_lsh_topk" -> Similarity.annLshTopK(t))) {
      val plan = planOf(df)
      assert(!plan.contains("UDF("), s"$name still plans a ScalaUDF:\n$plan")
      assert(plan.contains("graft_lsh_buckets"),
        s"$name lost the native bucket expression:\n$plan")
    }
  }

  test("embedding LSH bucket exchange carries no vector columns") {
    // the 16× bucket explode must ship (id, bucket) only — NO arrays at
    // all: carrying the 64-dim vectors through it multiplies the corpus's
    // vector volume 16× on BOTH join sides (round-6 verdict #1), and even
    // the 16-long bucket arrays (round-9's firstAgree payload) are 16× of
    // 128 B/row across the exchange where a candidate-sized DISTINCT after
    // the join costs almost nothing. Vectors join back by id AFTER the
    // candidate filter, candidate-sized.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType
    // force the at-scale plan: at 100 TB neither explode side fits a
    // broadcast, so the bucket join IS a shuffle join — that exchange is
    // the one whose width matters
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val roots: Seq[(String, SparkPlan)] =
      try Seq(
        "dedup_embed_lsh" -> Dedup.embeddingPairsLsh(t),
        "ann_lsh_topk" -> Similarity.annLshTopK(t)).map { case (n, df) =>
        n -> (df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        })
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    for ((name, root) <- roots) {
      val bucketExchanges = root.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "bucket"))
          case _ => false
        }) => e
      }
      assert(bucketExchanges.nonEmpty, s"$name: no bucket exchange in:\n$root")
      for (e <- bucketExchanges; f <- e.child.schema.fields)
        assert(!f.dataType.isInstanceOf[ArrayType],
          s"$name: bucket exchange still carries array column ${f.name}:\n$root")
    }
  }

  test("exact dedup shuffles content hashes, never document text") {
    for ((name, df) <- Seq(
        "dedup_exact" -> Dedup.dedupExact(t),
        "curation_pipeline" -> TextOps.curationPipeline(t))) {
      val plan = planOf(df)
      val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
      assert(exchanges.nonEmpty && exchanges.exists(_.contains("h1#")),
        s"$name dedup stage not keyed on the content hash:\n$plan")
      assert(exchanges.forall(!_.contains("text#")),
        s"$name still shuffles raw text:\n$plan")
    }
  }

  test("reconnect accounting runs on one user_id shuffle") {
    val plan = planOf(EventOps.reconnectAccounting(t))
    // one exchange for the window+agg keyed by user_id, one for the
    // final sort — no join, no extra repartition
    assert(!plan.contains("Join"), plan)
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected one hash exchange, plan:\n$plan")
  }

  test("round-11 additions keep their scale shapes (F6c, C10e, F17, F18)") {
    // F6c: the benchmark probes as a broadcast; exactly two hash
    // exchanges exist — the bench-side gram distinct (benchmark-sized)
    // and the corpus doc_id agg whose partials carry counts, not grams
    val ratio = planOf(TextOps.decontaminateRatioAgainst(
      t.documents.filter(col("doc_id") % 100L =!= 0L),
      t.documents.filter(col("doc_id") % 100L === 0L), 3, 50))
    assert(ratio.contains("BroadcastHashJoin"), ratio)
    val rEx = ratio.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(rEx.length == 2 && rEx.exists(_.contains("doc_id#")),
      s"decontaminate_ratio exchanges drifted:\n$ratio")
    // C10e: the corpus-side exchange is keyed (row_i, bucket) — the
    // bounded d×w sketch key space — and the sketch broadcasts into the
    // probe join; the only other hash exchange is the probe-sized
    // per-term final agg
    val cms = planOf(TextOps.approxCountsCmsOf(t.documents))
    val cEx = cms.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(cEx.exists(l => l.contains("row_i#") && l.contains("bucket#")),
      s"cms sketch agg not keyed on (row_i, bucket):\n$cms")
    assert(cEx.length == 2, s"cms exchanges drifted:\n$cms")
    assert(cms.contains("BroadcastExchange"), s"sketch not broadcast:\n$cms")
    // F17: rates are driver state — the sample pass is scan + codegen'd
    // filter + presentation sort only: no join, no hash exchange
    val temp = planOf(TextOps.sampleTemperature(t.documents))
    assert(!temp.contains("Join"), temp)
    assert(!temp.contains("Exchange hashpartitioning"), temp)
    // F18: a pure whole-stage-codegen projection — no exchange at all
    val split = planOf(TextOps.splitAssignCore(t.documents))
    assert(!split.contains("Exchange") && !split.contains("Join"), split)
    assert(split.contains("*(1)"), s"split fell out of codegen:\n$split")
  }

  test("sketch kernels stay in whole-stage codegen") {
    val fp = TextOps.fingerprint(t)
    fp.collect()
    val fpPlan = planOf(fp)
    assert(fpPlan.contains("graft_fingerprint"), s"native fingerprint missing:\n$fpPlan")
    assert(fpPlan.contains("*("), s"no codegen stage markers in:\n$fpPlan")
    val mh = Dedup.minhashCandidates(t)
    val mhPlan = planOf(mh)
    assert(mhPlan.contains("graft_minhash_bands"), s"native minhash missing:\n$mhPlan")
  }

  test("vector kernels stay in whole-stage codegen") {
    val df = Similarity.annBruteTopK(t)
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val plan = planOf(df)
    assert(plan.contains("*("), s"no codegen stage markers in:\n$plan")
    assert(plan.contains("graft_dot"), s"native dot missing:\n$plan")
    // Spark's rank-limit pushdown must stay active for top-k windows
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("pq and ivf+pq candidate windows keep rank-limit pushdown") {
    // the `crnk <= rerank` window over the full compressed scan is
    // exactly where a silent optimizer change would reintroduce a
    // global sort at scale — pin WindowGroupLimit for BOTH windows
    // (candidate generation + exact re-rank), like the E1/tf-idf pins
    for ((name, df) <- Seq(
        "pq_topk" -> Similarity.pqTopK(t),
        "ivfpq_topk" -> Similarity.ivfPqTopK(t))) {
      df.collect() // finalize the adaptive plan
      val plan = planOf(df)
      val limits = plan.split("WindowGroupLimit").length - 1
      assert(limits >= 2,
        s"$name: expected rank-limit pushdown on candidate AND re-rank windows, saw $limits:\n$plan")
    }
  }

  test("lag_monitor plans exactly one events scan") {
    // the global stream head must come from the per-user aggregates (a
    // global-frame window), never from a second pass over the fact
    // table: at 100 TB a second scan doubles the whole query
    val df = EventOps.lagMonitor(t)
    df.collect()
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // string-count over the FINAL tree (query stages print their whole
    // subtree; collectLeaves would stop at stage boundaries)
    val scans = root.toString.split("\n").count(_.contains("events.parquet"))
    assert(scans == 1, s"lag_monitor scans events $scans times:\n$root")
  }

  test("a custom FrameDecoder slots into mm_features with an unchanged plan shape") {
    // the G2 codec seam (round-9 verdict #4): swapping the codec swaps
    // only feature EXPRESSIONS inside the projection — the operator
    // tree around the seam (scan → sort → encode/extract projection)
    // must be identical, so a real JavaCV/jcodec decoder inherits the
    // stub's plan. The custom decoder below derives different features
    // from the same frame bytes (crc32 instead of JSON parse).
    object Crc32Decoder extends graft.operators.FrameDecoder {
      val name = "crc32-test"
      def features(frame: org.apache.spark.sql.Column)
          : Seq[org.apache.spark.sql.Column] = Seq(
        org.apache.spark.sql.functions.crc32(frame).as("k"),
        org.apache.spark.sql.functions.lit(1L).as("n_distinct_chars"),
        org.apache.spark.sql.functions.length(frame).cast("long").as("height"))
    }
    val dflt = graft.operators.Multimodal.mmFeatures(t)
    val custom = graft.operators.Multimodal.mmFeatures(t, Crc32Decoder)
    assert(custom.schema.fieldNames.sameElements(dflt.schema.fieldNames),
      "the decoder seam must not change the output schema contract")
    def shape(df: DataFrame): Seq[String] = {
      df.collect() // finalize the adaptive plan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collect { case n => n.nodeName }
    }
    assert(shape(custom) == shape(dflt),
      s"custom decoder changed the plan shape:\n${shape(custom)}\nvs\n${shape(dflt)}")
    // and the custom features actually computed (not constant-folded away)
    val row = custom.orderBy("event_id").limit(1).collect()(0)
    assert(row.getLong(row.fieldIndex("height")) ==
      row.getLong(row.fieldIndex("frame_bytes")),
      "crc32 decoder's height must equal the frame byte length")
  }

  test("ebml byte-walk runs as native expressions, not ScalaUDFs") {
    // the round-6 upgrade SURVEY §5 named: the multimodal path's
    // hottest per-row loops (encode, tag walk, element walk, stream
    // split) must appear in the plan as the graft expressions — no
    // ScalaUDF/CatalystTypeConverters wrapper on the binary path
    for ((name, df) <- Seq(
        "mm_elements" -> graft.operators.Multimodal.mmElements(t),
        "mm_split_stream" -> graft.operators.Multimodal.mmSplitStream(t),
        "mm_features_bmp" -> graft.operators.Multimodal.mmFeaturesBmp(t),
        "mm_frame_dedup" -> graft.operators.Multimodal.mmFrameDedup(t),
        "mm_patches" -> graft.operators.Multimodal.mmPatches(t),
        "mm_flip" -> graft.operators.Multimodal.mmFlip(t),
        "mm_audio_gain" -> graft.operators.Multimodal.mmAudioGain(t),
        "mm_nal_census" -> graft.operators.Multimodal.mmNalCensus(t),
        "mm_sps_dims" -> graft.operators.Multimodal.mmSpsDims(t),
        "mm_hevc_census" -> graft.operators.Multimodal.mmHevcCensus(t),
        "mm_hevc_sps" -> graft.operators.Multimodal.mmHevcSps(t),
        "mm_avcc_sps" -> graft.operators.Multimodal.mmAvccSps(t),
        "mm_aac_asc" -> graft.operators.Multimodal.mmAacAsc(t),
        "mm_hvcc_sps" -> graft.operators.Multimodal.mmHvccSps(t),
        "mm_avcc_to_annexb" -> graft.operators.Multimodal.mmAvccToAnnexb(t),
        "mm_gop_census" -> graft.operators.Multimodal.mmGopCensus(t),
        "mm_hevc_gop_census" ->
          graft.operators.Multimodal.mmHevcGopCensus(t),
        "mm_gop_dispatch" -> graft.operators.Multimodal.mmGopDispatch(t),
        "mm_hvcc_to_annexb" ->
          graft.operators.Multimodal.mmHvccToAnnexb(t),
        "mm_asc_to_adts" -> graft.operators.Multimodal.mmAscToAdts(t),
        "mm_sei_census" -> graft.operators.Multimodal.mmSeiCensus(t),
        "mm_random_access_index" ->
          graft.operators.Multimodal.mmRandomAccessIndex(t),
        "mp4_to_mkv_transmux" ->
          graft.operators.Multimodal.mp4ToMkvTransmux(t),
        "unigram_tokenizer" ->
          graft.operators.TextOps.unigramTokenizerOf(t.documents, 24, 1),
        "mm_codec_dispatch" ->
          graft.operators.Multimodal.mmCodecDispatch(t))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("UDF"), s"$name still plans a ScalaUDF:\n$plan")
    }
    val analyzed = graft.operators.Multimodal.mmElements(t)
      .queryExecution.analyzed.toString
    assert(analyzed.contains("ebml_elements") &&
      analyzed.contains("ebml_encode_fragment"),
      s"mm_elements not on the native expressions:\n$analyzed")
  }

  test("tf-idf keeps rank-limit pushdown and no nested-loop joins") {
    val df = graft.operators.TextOps.tfIdfTopTerms(t)
    df.collect()
    val plan = planOf(df)
    // top-3-per-doc must prune inside the window, not post-filter the
    // full scored set
    assert(plan.contains("WindowGroupLimit"), plan)
    // the only nested-loop is the 1-row n_docs scalar broadcast; the
    // tf⋈df join itself must be hash-based
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"tf-df join not hash-based:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
