package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkSpec

class TextOpsSpec extends SparkSpec {

  // the decontamination split: every 100th document plays the benchmark
  private def corpusDocs: DataFrame =
    t.documents.filter(col("doc_id") % 100L =!= 0L)
  private def benchDocs: DataFrame =
    t.documents.filter(col("doc_id") % 100L === 0L)

  test("fingerprint equals the driver-side polynomial hash") {
    val texts = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.fingerprint(t).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, txt) =>
      val expected = txt.foldLeft(0L)((h, c) => (h * 31L + c.toLong) % 1000000007L)
      assert(got(id) == expected, s"doc $id")
    }
  }

  test("token counts: bpe tokens never exceed characters, ws tokens never exceed bpe") {
    val rows = TextOps.tokenCounts(t).collect()
    rows.foreach { r =>
      val (ws, bpe) = (r.getLong(1), r.getLong(2))
      assert(ws <= bpe, s"doc ${r.getLong(0)}")
    }
  }

  test("quality ratios are in [0,1] and counts are consistent") {
    val rows = TextOps.textQuality(t).collect()
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2)) // n_stop <= n_words
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
      assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
    }
  }

  test("quality melt is the lossless long form of the wide quality row") {
    val wide = TextOps.textQuality(t).collect()
      .map(r => r.getLong(0) -> r).toMap
    val long = TextOps.qualityMelt(t).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(long.size == wide.size * 7, "melt must emit one row per metric")
    wide.foreach { case (id, r) =>
      assert(long((id, "n_words")) == r.getLong(2).toDouble)
      assert(long((id, "stop_ratio")) == r.getDouble(6))
    }
    // unpivot is a per-row Expand, not a shuffle: the melt plan carries
    // exactly ONE exchange more than the wide plan (its own
    // presentation orderBy) — the 7× row expansion itself moves nothing
    def exchanges(p: String): Int = p.linesIterator.count(_.contains("Exchange"))
    val meltPlan = TextOps.qualityMelt(t).queryExecution.executedPlan.toString
    val widePlan = TextOps.textQuality(t).queryExecution.executedPlan.toString
    assert(meltPlan.contains("Expand"), "unpivot not planned as Expand:\n" + meltPlan)
    assert(exchanges(meltPlan) == exchanges(widePlan) + 1,
      s"unpivot added a shuffle: melt=${exchanges(meltPlan)} wide=${exchanges(widePlan)}")
  }

  test("full curation composite equals an independent driver-side recompute") {
    // independent implementation: plain Scala regex/set/union-find, no
    // Spark, no shared kernels — exercises filter thresholds, exact
    // dedup, LSH edge generation + verification, and clustering at once
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val filtered = docs.filter { case (_, txt) =>
      val nWords = "[a-z]+".r.findAllIn(txt.toLowerCase).length
      val nAlpha = txt.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
      nWords >= 40 && nAlpha * 5L >= txt.length * 4L
    }
    val uniq = filtered.groupBy(_._2).map { case (_, g) => g.minBy(_._1) }.toSeq
    val toks = uniq.map { case (id, txt) =>
      id -> "[a-z]+".r.findAllIn(txt.toLowerCase).toSet }.toMap
    val ids = uniq.map(_._1).sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val inter = toks(a).intersect(toks(b)).size
      val jac = inter.toDouble / (toks(a).size + toks(b).size - inter)
      if (jac >= 0.95) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val expected = ids.groupBy(find).map(_._2.min).toSeq.sorted
    val got = TextOps.curationFull(t).collect().map(_.getLong(0)).toSeq
    assert(expected.nonEmpty && expected.size < ids.size,
      "fixture must exercise both dedup stages")
    assert(got == expected)
  }

  test("full curation frees its text-carrying checkpoint blocks") {
    // only the tiny id list and the final labels round may stay
    // persisted after a run — the text-carrying survivor corpus must be
    // released as soon as the clustering stages have consumed it
    // (r3 verdict #2: it used to pin the corpus until driver GC)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    TextOps.curationFull(t).write.format("noop").mode("overwrite").save()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"curation left ${leaked.size} persisted RDDs (expect ids + final labels): $leaked")
  }

  test("decontamination flags exactly the docs sharing a word n-gram") {
    import spark.implicits._
    // doc 1 contains the benchmark's "alpha beta gamma" 3-gram verbatim
    // (2 distinct shared grams once "beta gamma delta" also matches);
    // doc 2 has the same words NON-consecutively — no shared gram
    val corpus = Seq(
      (1L, "intro alpha beta gamma delta outro"),
      (2L, "alpha intro beta outro gamma"),
      (3L, "nothing in common here at all")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = TextOps.decontaminateAgainst(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)), s"got ${got.toSeq}")
    // scale guard: the benchmark side must probe as a broadcast — the
    // corpus never shuffles before the join
    val plan = TextOps.decontaminateAgainst(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$plan")
  }

  test("contamination ratio: total verdict column with planted leak (F6c)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1: every 3-gram shared with the benchmark → contaminated
    // doc 2: 1 of 8 grams shared (12.5%) → below the 50% bar
    // doc 3: zero hits → retained with a FALSE verdict (unlike F6)
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma completely different tail words here now ok"),
      (3L, "nothing in common at all today")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = TextOps.decontaminateRatioAgainst(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1.0, true),
      (2L, 8L, 1L, 0.125, false),
      (3L, 4L, 0L, 0.0, false)), s"got $got")
    // exactly-50% boundary: 1 hit of 2 grams → contaminated (≥, not >)
    val edge = Seq((9L, "alpha beta gamma tail")).toDF("doc_id", "text")
    val e = TextOps.decontaminateRatioAgainst(edge, bench).collect().head
    assert(e.getLong(2) == 1L && e.getBoolean(4), s"boundary: $e")
    // scale guard: the benchmark probes as a broadcast
    val plan = TextOps.decontaminateRatioAgainst(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$plan")
  }

  test("quality gate: per-source rank-selected median, ties kept, one exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // sX scores: doc1 0.0, doc2 0.5 ('the' of 'the fox'), doc3 0.5,
    // doc4 1.0 -> n=4, target rank floor(3*0.5)+1 = 2 -> thr = 0.5;
    // BOTH 0.5 docs stay (value filter), doc1 drops
    val docs = Seq(
      (1L, "sX", "fox wolf"),
      (2L, "sX", "the fox"),
      (3L, "sX", "the wolf"),
      (4L, "sX", "the it"),
      (5L, "sY", "badger")).toDF("doc_id", "source", "text")
    val out = TextOps.qualityGateOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.filter(_._1 == "sX").map(_._2).sorted.toSeq == Seq(2L, 3L, 4L),
      s"got ${out.toSeq}")
    assert(out.filter(_._1 == "sX").forall(_._4 == 0.5))
    // a 1-doc source: target rank 1, the doc IS the median -> kept
    assert(out.filter(_._1 == "sY").map(_._2).toSeq == Seq(5L))
    // real corpus: each source keeps ceil(n/2) <= kept <= n docs and
    // every kept score clears its source's threshold
    val full = TextOps.qualityGateOf(t.documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val srcN = t.documents.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.length >= (srcN(src) + 1) / 2 && rs.length <= srcN(src),
        s"$src kept ${rs.length} of ${srcN(src)}")
      assert(rs.forall(r => r._3 >= r._4), s"$src kept a sub-threshold doc")
    }
    // scale shape: both window passes share ONE hash exchange on source
    val plan = TextOps.qualityGateOf(t.documents).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "gate must not use a single-partition window:\n" + plan)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange, got $hashExchanges:\n" + plan)
  }

  test("approx quality gate: sketch threshold agrees with exact off the cut, no per-source sort") {
    import org.apache.spark.sql.functions._
    val exact = TextOps.qualityGateOf(t.documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val approx = TextOps.qualityGateApproxOf(t.documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // disagreements can only be docs whose score lies between the two
    // thresholds of their source — never a clear keep or clear drop
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val approxSet = approx.map(r => (r._1, r._2)).toSet
    val exThr = exact.groupBy(_._1).map { case (s, rs) => s -> rs.head._4 }
    val apThr = approx.groupBy(_._1).map { case (s, rs) => s -> rs.head._4 }
    val scores = (exact ++ approx).map(r => (r._1, r._2) -> r._3).toMap
    (exactSet.diff(approxSet) ++ approxSet.diff(exactSet)).foreach { k =>
      val (lo, hi) = (math.min(exThr(k._1), apThr(k._1)),
        math.max(exThr(k._1), apThr(k._1)))
      assert(scores(k) >= lo && scores(k) <= hi,
        s"doc $k disagrees off the cut: score ${scores(k)} not in [$lo,$hi]")
    }
    // the checked form: every within_bound is TRUE on the real corpus
    val checked = TextOps.qualityGateApproxChecked(t).collect()
    assert(checked.nonEmpty && checked.forall(_.getBoolean(4)))
    // scale shape: the deploy form never sorts the corpus per source —
    // the sketch is a hash aggregate, not a window
    val plan = TextOps.qualityGateApproxOf(t.documents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "approx gate must not use a window/sort pass:\n" + plan)
    assert(!plan.contains("SinglePartition"))
  }

  test("fuzzy decontamination: finds paraphrased leakage, corpus never shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1 is a light paraphrase of the benchmark (high word-set
    // overlap, j = 10/11); doc 2 shares topic words only; identical
    // signatures ALWAYS band-agree, so doc 3 (verbatim copy) must hit
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight and always wins"),
      (2L, "a fox and a dog"),
      (3L, "the quick brown fox jumps over the lazy dog tonight and always")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight and always")).toDF("doc_id", "text")
    val got = TextOps.decontaminateFuzzyAgainst(corpus, bench, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == Set(1L, 3L), s"got ${got.toSeq}")
    val j3 = got.find(_._1 == 3L).get._3
    assert(j3 == 1.0, s"verbatim copy must verify at j=1.0, got $j3")
    // verification is exact: every reported jaccard re-checks driver-side
    val tokset = (s: String) => "[a-z]+".r.findAllIn(s.toLowerCase).toSet
    got.foreach { case (id, bid, j4) =>
      val (a, b) = (tokset(corpus.collect().find(_.getLong(0) == id).get.getString(1)),
        tokset(bench.collect().find(_.getLong(0) == bid).get.getString(1)))
      val jExact = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(j4 - jExact) < 5e-5, s"pair ($id,$bid): $j4 vs $jExact")
      assert(jExact >= 0.9)
    }
    // scale guard: the benchmark side broadcasts — the corpus reaches
    // the band join with NO exchange (the only shuffle is the final
    // sort of the surviving pairs)
    val plan = TextOps.decontaminateFuzzyAgainst(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$plan")
    // output on the real corpus is a subset of the D2-style exact
    // cross-split truth (banding may drop sub-0.95 pairs; it must never
    // invent one)
    val full = TextOps.decontaminateFuzzyAgainst(corpusDocs, benchDocs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.jaccardPairsOf(t.documents, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (c, bench) => c % 100 != 0 && bench % 100 == 0 }.toSet
    assert(full.subsetOf(truth), s"invented pairs: ${full -- truth}")
    assert(full.nonEmpty, "real corpus must surface cross-split near-dups")
  }

  test("tf-idf top terms are rank-consistent and integer-grounded") {
    val rows = TextOps.tfIdfTopTerms(t, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val nDocs = t.documents.count()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, tf, df, _) =>
      assert(tf >= 1L && df >= 1L && df <= nDocs)
    }
    rows.groupBy(_._1).values.foreach { perDoc =>
      val byRank = perDoc.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq)
      // scores weakly decrease with rank; equal scores break ties on
      // the term string ascending
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._6 > b._6 || (a._6 == b._6 && a._3 < b._3),
            s"rank order violated: $a then $b")
        case _ =>
      }
    }
    // spot-check one score against a driver-side recompute
    val (docId, _, term, tf, df, score) = rows.head
    val text = t.documents.filter(org.apache.spark.sql.functions.col("doc_id") === docId)
      .collect().head.getString(1)
    val tfRe = "[a-z]+".r.findAllIn(text.toLowerCase).count(_ == term)
    assert(tfRe.toLong == tf)
    // the score is the raw IEEE division of exact integers — bit-equal
    // to a driver-side recompute with the same operands
    assert(score == (tf * nDocs).toDouble / df)
  }

  test("bottom-k stratified sample is size-exact, partition-independent, and hash-ordered") {
    import org.apache.spark.sql.functions.col
    val sample = TextOps.sampleKPerSource(t, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly min(k, |stratum|) per source
    val sizes = t.documents.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySrc = sample.groupBy(_._1).view.mapValues(_.length).toMap
    sizes.foreach { case (src, n) =>
      assert(bySrc.getOrElse(src, 0) == math.min(10L, n), s"stratum $src")
    }
    // driver-side recompute: the k smallest SIGNED mix64(doc_id)
    val all = t.documents.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = all.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      rows.map(r => (graft.functions.Hashing.mix64(r._1), r._1))
        .sortBy(identity).take(10).zipWithIndex
        .map { case ((_, id), i) => (src, i.toLong + 1, id) }
    }.sortBy(x => (x._1, x._2))
    assert(sample.toSeq == expected)
    // partitioning must not change the sample (no RNG state)
    val reshuffled = TextOps.sampleKPerGroup(
        t.documents.select(col("doc_id"), col("source")).repartition(7), 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    assert(reshuffled.toSeq == sample.toSeq)
    // the rank filter must prune inside the window at scale
    val plan = TextOps.sampleKPerSource(t, 10).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown in:\n$plan")
  }

  test("mix sample is a deterministic pure function of doc_id and source") {
    val weights = Map("src0" -> 1.0, "src1" -> 0.5)
    val kept = TextOps.mixSample(t.documents, weights, defaultFrac = 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // driver-side recompute of the identical keep decision
    val all = t.documents.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = all.filter { case (id, src) =>
      val thr = (weights.getOrElse(src, 0.1) * 1e6).toLong
      val p = 1000000007L
      ((id % p) * 2654435761L) % p % 1000000L < thr
    }.sortBy(_._1)
    assert(kept.toSeq == expected.toSeq)
    // src0 keeps everything; the mixture is reproducible run to run
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val total = all.count(_._2 == "src0")
    assert(bySrc.getOrElse("src0", 0) == total, "src0 must keep all docs")
    val again = TextOps.mixSample(t.documents, weights, defaultFrac = 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSeq == kept.toSeq)
  }

  test("temperature sampling: inverse-size rate ordering, cap, determinism (F17)") {
    import spark.implicits._
    // skewed fixture so the temperature effect is visible
    val docs = ((0L until 1000L).map(d => (d, "src_big")) ++
      (1000L until 1100L).map(d => (d, "src_mid")) ++
      (1100L until 1104L).map(d => (d, "src_tiny"))).toDF("doc_id", "source")
    val rates = TextOps.temperatureRates(docs, targetFrac = 0.3).toMap
    // hand replay of the exact formula (same fold order: sorted sources)
    val z = 0.0 + math.sqrt(1000.0) + math.sqrt(100.0) + math.sqrt(4.0)
    val budget = math.floor(0.3 * 1104L)
    Map("src_big" -> 1000L, "src_mid" -> 100L, "src_tiny" -> 4L).foreach {
      case (s, n) =>
        val r = (budget * (math.sqrt(n.toDouble) / z)) / n.toDouble
        assert(rates(s) == math.min(1000000L, math.floor(r * 1e6).toLong), s)
    }
    // α = 1/2 up-weights small sources: keep RATE orders inverse to size
    assert(rates("src_tiny") > rates("src_mid"))
    assert(rates("src_mid") > rates("src_big"))
    // the tiny source's T·q/n exceeds 1 → capped, so it keeps ALL rows
    assert(rates("src_tiny") == 1000000L)
    val kept = TextOps.sampleTemperature(docs, 0.3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(kept.count(_._1 == "src_tiny") == 4)
    // ppm column matches the rates; sample is partition-independent
    kept.foreach { case (src, _, ppm) => assert(ppm == rates(src)) }
    val again = TextOps.sampleTemperature(docs.repartition(7), 0.3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == kept.toSeq)
    assert(kept.nonEmpty && kept.length < 1104,
      "fixture must exercise both keep and drop")
  }

  test("split assignment: total, growth-stable, partition-independent (F18)") {
    import graft.functions.Hashing
    val got = TextOps.splitAssign(t).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val n = t.documents.count()
    // total: every document gets exactly one split
    assert(got.length == n && got.map(_._1).distinct.length == n)
    // the split is the documented pure function of doc_id
    got.foreach { case (id, split) =>
      val bucket = java.lang.Math.floorMod(Hashing.mix64(id), 1L << 20)
      val expect = if (bucket < 1027604L) "train"
        else if (bucket < 1038090L) "valid" else "test"
      assert(split == expect, s"doc $id")
    }
    // proportions land near 98/1/1 (loose: hash uniformity at small n)
    val frac = got.count(_._2 == "train").toDouble / n
    assert(frac > 0.9 && frac < 1.0, s"train fraction $frac")
    // growth stability: assignments on a PREFIX corpus are unchanged
    // when the rest arrives — the property row_number splits lack
    val prefix = TextOps.splitAssignCore(
        t.documents.filter(org.apache.spark.sql.functions.col("doc_id") < 100))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val full = got.toMap
    prefix.foreach { case (id, s) => assert(full(id) == s, s"doc $id reassigned") }
    // partition invariance
    val again = TextOps.splitAssignCore(t.documents.repartition(7))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(again == full)
  }

  test("count-min estimates match an independent replay and dominate exact counts (C10e)") {
    import graft.functions.Hashing
    val (d, w) = (4, 64)
    val est = TextOps.approxCountsCmsOf(t.documents, d, w).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est.keySet == TextOps.StopWords.toSet)
    // independent driver-side CMS over the collected token stream
    val toks = t.documents.select("text").collect().flatMap(r =>
      "[a-z]+".r.findAllIn(r.getString(0).toLowerCase).toSeq)
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    toks.foreach { tok =>
      val h = Hashing.hashString(tok)
      (0 until d).foreach { i =>
        cells((i, java.lang.Math.floorMod(Hashing.mix64(h ^ i.toLong), w.toLong))) += 1L
      }
    }
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    TextOps.StopWords.foreach { term =>
      val h = Hashing.hashString(term)
      val replay = (0 until d).map { i =>
        cells((i, java.lang.Math.floorMod(Hashing.mix64(h ^ i.toLong), w.toLong)))
      }.min
      assert(est(term) == replay, s"$term: operator vs driver replay")
      // the CMS guarantee: never an underestimate
      assert(est(term) >= exact.getOrElse(term, 0L), s"$term: est < true")
    }
    // the sketch is capacity-bounded: at most d×w cells exist at ANY scale
    assert(cells.size <= d * w)
  }

  test("lang id reaches 0.9 accuracy on real multilingual snippets") {
    // the corpus `lang` labels are synthetic noise, so the corpus query
    // can't validate the heuristic — this fixture of real sentences can
    import spark.implicits._
    val samples = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and the cat is of no concern to it"),
      ("en", "it is the best of times and the worst of times"),
      ("es", "el perro de la casa es grande y los gatos de que hablas son pequenos"),
      ("es", "la vida es bella y el amor que sentimos los une de verdad"),
      ("fr", "le chien et les chats des voisins mangent une pomme dans le jardin"),
      ("fr", "les enfants et le professeur regardent une carte des villes et une riviere"),
      ("de", "der Hund und die Katze sind nicht in das Haus gegangen"),
      ("de", "die Kinder und der Lehrer haben das Buch nicht gelesen und die Frau lacht"),
      ("zh", "今天天气很好我们一起去公园散步吧"),
      ("zh", "机器学习模型需要大量的训练数据"))
    val df = samples.zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, text, lang) }
      .toDF("doc_id", "text", "lang")
    val rows = TextOps.langIdOf(df).collect()
    val correct = rows.count(r => r.getString(1) == r.getString(2))
    info(s"fixture accuracy = $correct/${rows.length}")
    assert(correct.toDouble / rows.length >= 0.9)
  }

  test("lang id is deterministic and total") {
    val a = TextOps.langId(t).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = TextOps.langId(t).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b))
    assert(a.forall(x => Set("en", "es", "fr", "de", "zh", "und").contains(x._2)))
  }

  test("text normalization: NFC folds forms, strips controls/zero-width, collapses runs") {
    import spark.implicits._
    val composed = "caf\u00e9" // e-acute as one codepoint
    val decomposed = "cafe\u0301" // e + combining acute
    val docs = Seq(
      (1L, composed),
      (2L, decomposed),
      (3L, "tab\there\nand\u0007runs   of spaces"),
      (4L, "zero\u200bwidth\u200dgone\ufeff"),
      (5L, "  padded  "),
      (6L, "already clean ascii")).toDF("doc_id", "text")
    val got = TextOps.normalizeTextOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the whole point: both Unicode forms normalize to the SAME string
    assert(got(1L)._3 == got(2L)._3 && got(1L)._3 == composed)
    assert(got(2L)._1 == 5L && got(2L)._2 == 4L, "decomposed form folds to 4 chars")
    assert(got(3L)._3 == "tab here and\u0007runs of spaces" ||
      got(3L)._3 == "tab here andruns of spaces", s"got: $${got(3L)._3}")
    assert(got(4L)._3 == "zerowidthgone")
    assert(got(5L)._3 == "padded")
    assert(got(6L)._3 == "already clean ascii" && got(6L)._1 == got(6L)._2)
  }

  test("text normalization is an identity on the ascii corpus; one exchange") {
    import org.apache.spark.sql.functions._
    val out = TextOps.normalizeText(t)
    val changed = out.as("o").join(t.documents.as("d"), Seq("doc_id"))
      .filter(col("o.text") =!= col("d.text")).count()
    assert(changed == 0, "ascii corpus must pass through unchanged")
    assert(out.filter(col("n_chars_raw") =!= col("n_chars_clean")).count() == 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
      "normalization must not shuffle beyond the output sort:\n" + plan)
  }

  test("sequence packing: greedy concat-order bins, per-source, partitioning-independent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      // src A, budget 10: tokens 4,4,4 -> cum-before 0,4,8: bins 0,0,0
      // (the straddling third doc closes bin 0 past the budget)
      (1L, "a b c d", "A"), (2L, "e f g h", "A"), (3L, "i j k l", "A"),
      // then 4 tokens at cum-before 12 -> bin 1
      (4L, "m n o p", "A"),
      // src B packs independently from zero
      (5L, "q r", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.packSequencesOf(docs, budget = 10L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("A", 0L, 3L, 1L, 3L, 12L),
      ("A", 1L, 1L, 4L, 4L, 4L),
      ("B", 0L, 1L, 5L, 5L, 2L)))
    // partitioning must not change the packing (the order key is total)
    val repart = TextOps.packSequencesOf(docs.repartition(7), budget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(5)))
    assert(repart.toSeq == out.map(r => (r._1, r._2, r._6)).toSeq)
  }

  test("sequence packing fills bins to budget and never sorts globally") {
    import org.apache.spark.sql.functions._
    val budget = 512L
    val out = TextOps.packSequencesOf(t.documents, budget)
    // the greedy invariant: for every non-last bin b of a source, the
    // tokens in bins 0..b have crossed the (b+1)*budget boundary —
    // that is exactly why the next doc opened a later bin (per-bin
    // >= budget is NOT guaranteed: a doc overshooting a boundary can
    // leave the following bin short)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(5)))
    val lastBin = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byBin = rs.sortBy(_._2)
      var prefix = 0L
      byBin.foreach { case (_, bin, toks) =>
        prefix += toks
        if (bin != lastBin(src))
          assert(prefix >= (bin + 1) * budget,
            s"$src bins 0..$bin hold $prefix < ${(bin + 1) * budget}")
      }
    }
    // token conservation: bins sum to the corpus token total
    val total = t.documents.select(
      sum(size(call_function("regexp_extract_all", col("text"),
        lit("\\S+"), lit(0))).cast("long"))).collect()(0).getLong(0)
    assert(rows.map(_._3).sum == total)
    // scale shape: the window partitions by source — no single-partition
    // global sort anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "packing must not use a single-partition window:\n" + plan)
  }

  test("shuffle shards: total permutation, driver-recomputed, partition-independent") {
    import org.apache.spark.sql.functions._
    val out = TextOps.shuffleShardsOf(t.documents, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val nDocs = t.documents.count()
    // conservation: every document exactly once, shard in [0, 8)
    assert(out.length.toLong == nDocs)
    assert(out.map(_._3).distinct.length.toLong == nDocs)
    assert(out.forall(r => r._1 >= 0 && r._1 < 8))
    // per-shard sequences are contiguous 1..n
    out.groupBy(_._1).foreach { case (shard, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"shard $shard seq not contiguous")
    }
    // the permutation IS the signed mix64 order: recompute driver-side
    val expected = t.documents.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .map { case (id, src) =>
        val h = graft.functions.Hashing.mix64(id)
        (java.lang.Math.floorMod(h, 8L), h, id, src)
      }
      .groupBy(_._1).toSeq.flatMap { case (shard, rs) =>
        rs.sortBy(r => (r._2, r._3)).zipWithIndex
          .map { case ((_, _, id, src), i) => (shard, i + 1L, id, src) }
      }.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expected, "shard/seq diverges from driver recompute")
    // reproducible at any input partitioning (no RNG state)
    val repart = TextOps.shuffleShardsOf(
      t.documents.select("doc_id", "source").repartition(7), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(repart.toSeq == out.toSeq, "repartitioning changed the permutation")
    // scale shape: the window partitions by shard — never a
    // single-partition global sort
    val plan = TextOps.shuffleShardsOf(t.documents, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "sharding must not use a single-partition window:\n" + plan)
  }

  test("token-budget mixing: greedy prefix semantics, driver-recomputed, partition-independent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted fixture: priority order is mix64 order, NOT doc_id order,
    // and the straddling doc is dropped while later smaller docs that
    // still fit are NOT back-filled (strict prefix-of-priority rule)
    val docs = Seq(
      (1L, "sA", "a b c"),          // 3 tokens
      (2L, "sA", "d e f g"),        // 4 tokens
      (3L, "sA", "h i"),            // 2 tokens
      (4L, "sB", "x y z w q r s t") // 8 tokens
    ).toDF("doc_id", "source", "text")
    val out = TextOps.mixTokenBudgetOf(docs, Map("sB" -> 4L), defaultBudget = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val h = (id: Long) => graft.functions.Hashing.mix64(id)
    val order = Seq(1L, 2L, 3L).sortBy(id => (h(id), id))
    // replay the greedy rule driver-side on sA's 5-token budget
    var cum = 0L
    val tok = Map(1L -> 3L, 2L -> 4L, 3L -> 2L)
    val expectA = order.flatMap { id =>
      cum += tok(id)
      if (cum <= 5L) Some((("sA"), id, tok(id), cum)) else None
    }
    assert(out.filter(_._1 == "sA").sortBy(_._2).toSeq == expectA.sortBy(_._2),
      s"sA prefix diverges (priority order was $order)")
    // sB: 8 > 4, the lone doc straddles -> source contributes nothing
    assert(!out.exists(_._1 == "sB"), "straddling doc must be dropped")
    // real-corpus regimes: src0 take-all, src1/default binding
    val full = TextOps.mixTokenBudgetOf(t.documents,
      Map("src0" -> 100000L, "src1" -> 800L), defaultBudget = 400L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val src0All = t.documents.filter($"source" === "src0").count()
    assert(full.count(_._1 == "src0").toLong == src0All,
      "non-binding budget must keep the whole source")
    full.groupBy(_._1).foreach { case (src, rs) =>
      val cap = if (src == "src0") 100000L else if (src == "src1") 800L else 400L
      assert(rs.map(_._3).sum <= cap, s"$src exceeds its budget")
    }
    // reproducible at any input partitioning (no RNG state)
    val repart = TextOps.mixTokenBudgetOf(
      t.documents.repartition(7), Map("src0" -> 100000L, "src1" -> 800L), 400L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(repart.sortBy(r => (r._1, r._2)).toSeq == full.sortBy(r => (r._1, r._2)).toSeq,
      "repartitioning changed the mix")
    // scale shape: the window partitions by source — never a
    // single-partition pass
    val plan = TextOps.mixTokenBudgetOf(t.documents,
      Map("src0" -> 100000L, "src1" -> 800L), defaultBudget = 400L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "budget capping must not use a single-partition window:\n" + plan)
  }

  test("approx top terms: exact regime equals the groupBy counts, partition-independent") {
    import org.apache.spark.sql.functions._
    val exact = t.documents
      .select(explode(graft.functions.words(col("text"))).as("term"))
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.size <= 1024, "fixture must stay in the unsaturated regime")
    val got = TextOps.approxTopTerms(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // unsaturated Misra-Gries IS the exact count table
    got.foreach { case (_, term, cnt) =>
      assert(exact(term) == cnt, s"term $term: sketch $cnt != exact ${exact(term)}")
    }
    // ranks are (count desc, term asc) over the exact counts
    val expOrder = exact.toSeq.sortBy { case (tm, c) => (-c, tm) }
      .take(got.length).map(_._1)
    assert(got.map(_._2).toSeq == expOrder, "rank order diverges from exact")
    // partition count must not change the unsaturated summary
    val repart = t.documents.repartition(7)
      .select(explode(graft.functions.words(col("text"))).as("term"))
      .agg(call_function("graft_topk_freq", col("term"), lit(1024)).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.term"), col("e.cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(repart == exact, "repartitioning changed the unsaturated summary")
  }

  test("misra-gries saturated regime: heavy hitter survives, counts lower-bound truth") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1000 x hot + 50 cold terms x 10 = N 1500; capacity 8 ->
    // error <= N/capacity = 187.5; hot (freq 1000) must survive
    val rows = Seq.fill(1000)("hot") ++
      (0 until 50).flatMap(i => Seq.fill(10)(f"cold$i%02d"))
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = rows.toDF("term").repartition(5)
      .agg(call_function("graft_topk_freq", col("term"), lit(8)).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.term"), col("e.cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= 8, s"summary exceeded capacity: ${got.size}")
    assert(got.contains("hot"), s"heavy hitter evicted: $got")
    got.foreach { case (term, cnt) =>
      assert(cnt <= truth(term), s"$term: reported $cnt above true ${truth(term)}")
    }
    assert(got("hot") >= 1000L - 1500L / 8L,
      s"hot count ${got("hot")} violates the N/capacity bound")
  }

  test("pii redaction masks planted emails, phones, and ips; clean text is untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org thanks"),
      (2L, "call +1-555-0100 or +44-201-9999 now"),
      (3L, "server at 192.168.0.1 and 10.0.0.255"),
      (4L, "all three: a@b.co +1-555-0042 127.0.0.1"),
      (5L, "no pii in this document at all"),
      // versions like 1.2.3 (three octets) must NOT match the ipv4 rule
      (6L, "upgrade to release 1.2.3 today")).toDF("doc_id", "text")
    val got = TextOps.redactPiiOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((1L, 0L, 0L, "reach me at <EMAIL> thanks")))
    assert(got(2L) == ((0L, 2L, 0L, "call <PHONE> or <PHONE> now")))
    assert(got(3L) == ((0L, 0L, 2L, "server at <IP> and <IP>")))
    assert(got(4L) == ((1L, 1L, 1L, "all three: <EMAIL> <PHONE> <IP>")))
    assert(got(5L) == ((0L, 0L, 0L, "no pii in this document at all")))
    assert(got(6L) == ((0L, 0L, 0L, "upgrade to release 1.2.3 today")))
  }

  test("pii redact driver query plants one of each pii type per document") {
    val rows = TextOps.piiRedact(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L,
        s"doc ${r.getLong(0)}: expected exactly one planted pii of each type")
      val red = r.getString(4)
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>") && red.contains("<IP>"))
      assert(!red.contains("@example.com") && !red.contains("+1-555-"))
    }
    // per-row projection: only the presentation sort may shuffle
    val plan = TextOps.piiRedact(t).queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
      "pii redaction must not shuffle beyond the output sort:\n" + plan)
  }

  /** Independent plain-Scala recompute of the F10 definitions (no Spark,
    * no shared kernel code) — same 8-word blocks, raw-space word split
    * (limit -1, like Spark's split Column), top-2-gram tie by
    * (count desc, gram asc), HALF_UP 4-decimal rounding. */
  private def repRecompute(text: String, blockN: Int = 8)
      : (Long, Long, Long, Double, Double, Double, Double) = {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ws = text.split(" ", -1)
    val m = ws.length
    val nChars = text.length
    val blocks = ws.grouped(blockN).map(_.mkString(" ")).toSeq
    val bcnt = blocks.groupBy(identity).map { case (b, o) => (b, o.size) }
    val nDup = blocks.size - bcnt.size
    val dupChars = bcnt.collect { case (b, c) if c > 1 => (c - 1).toLong * b.length }.sum
    val totChars = blocks.map(_.length.toLong).sum
    val g2 = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val (topC, topL) =
      if (g2.isEmpty) (0L, 0L)
      else {
        val c = g2.groupBy(identity).map { case (g, o) => (g, o.size) }
        val mx = c.values.max
        val g = c.collect { case (gr, n) if n == mx => gr }.min
        (mx.toLong, g.length.toLong)
      }
    val g5 = ws.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
    val dup5 = g5.groupBy(identity)
      .collect { case (g, o) if o.size > 1 => o.size.toLong * g.length }.sum
    def frac(n: Long, d: Long): Double = if (d == 0) 0.0 else r4(n.toDouble / d)
    (m.toLong, blocks.size.toLong, nDup.toLong,
      frac(nDup, blocks.size), frac(dupChars, totChars),
      frac(topC * topL, nChars), frac(dup5, nChars))
  }

  test("repetition signals match an independent recompute on planted fixtures") {
    import spark.implicits._
    val docs = Seq(
      // one 8-word block repeated verbatim -> dup block + dup 5-grams
      (1L, "a b c d e f g h a b c d e f g h tail words"),
      // heavy 2-gram repetition (the top-2-gram filter's target shape)
      (2L, "one two one two one two one two one two"),
      (3L, "all words are distinct here today friend ok"),
      (4L, "pair only"), // single 2-gram, no 5-gram
      (5L, "solo"), // no 2-gram at all
      // tie on 2-gram count: "b a" vs "a b" both twice -> "a b" wins (asc)
      (6L, "b a b a b"),
      (7L, "")).toDF("doc_id", "text")
    val got = TextOps.repetitionSignalsOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.collect().foreach { d =>
      val (id, text) = (d.getLong(0), d.getString(1))
      val exp = repRecompute(text)
      val g = got(id)
      assert((g.getLong(1), g.getLong(2), g.getLong(3)) ==
        ((exp._1, exp._2, exp._3)), s"counts, doc $id")
      assert((g.getDouble(4), g.getDouble(5), g.getDouble(6), g.getDouble(7)) ==
        ((exp._4, exp._5, exp._6, exp._7)), s"fracs, doc $id")
    }
    // planted expectations, independently of the recompute helper
    assert(got(1L).getLong(3) == 1L, "doc 1 must have exactly one dup block")
    assert(got(2L).getDouble(6) > 0.5, "doc 2 top-2-gram frac must dominate")
    assert(got(3L).getDouble(4) == 0.0 && got(3L).getDouble(7) == 0.0)
    assert(got(5L).getDouble(6) == 0.0, "no 2-grams -> top2_frac 0")
    assert(got(7L).getDouble(4) == 0.0 && got(7L).getDouble(5) == 0.0)
  }

  test("repetition signals: whole corpus matches the recompute; one exchange total") {
    val texts = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextOps.repetitionSignals(t).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val exp = repRecompute(texts(r.getLong(0)))
      assert(r.getLong(1) == exp._1 && r.getLong(2) == exp._2 &&
        r.getLong(3) == exp._3, s"counts, doc ${r.getLong(0)}")
      assert(r.getDouble(4) == exp._4 && r.getDouble(5) == exp._5 &&
        r.getDouble(6) == exp._6 && r.getDouble(7) == exp._7,
        s"fracs, doc ${r.getLong(0)}")
    }
    // per-row kernel projection: the ONLY exchange is the presentation
    // sort — the signals themselves shuffle nothing
    val plan = TextOps.repetitionSignals(t).queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
      "repetition signals must not shuffle beyond the output sort:\n" + plan)
  }

  test("lm quality: micro-nat scores match a driver-side unigram recompute; fluent < garbled") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),         // common words
      (2L, "the the the the the the"),        // most common word only
      (3L, "zyx qwv jkq zyx phl brr")         // rare words
    ).toDF("doc_id", "text")
    val got = TextOps.lmQualityOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // driver-side recompute of the exact pipeline
    val words = Seq(1L -> "the cat sat on the mat", 2L -> "the the the the the the",
      3L -> "zyx qwv jkq zyx phl brr")
      .flatMap { case (id, s) => s.split(" ").map(id -> _) }
    val counts = words.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    val total = counts.values.sum
    val cost = counts.map { case (w, n) =>
      w -> math.round(-math.log(n.toDouble / total.toDouble) * 1e6)
    }
    val expected = words.groupBy(_._1).map { case (id, ws) =>
      val nll = ws.map(w => cost(w._2)).sum
      val avg = BigDecimal(nll.toDouble / ws.length.toDouble / 1e6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, ws.length.toLong, nll, avg)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    // fluency ordering: all-stopword doc < mixed doc < rare-word doc
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(2L) < byId(1L) && byId(1L) < byId(3L))
  }

  test("lm quality 2: bigram scores match driver recompute; backoff penalizes unseen bigrams from seen words") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "the dog sat on the rug")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat on the mat"), // every bigram seen in training
      (11L, "mat the on cat sat the"), // all words seen, bigrams unseen
      (12L, "the zyxq cat")            // OOV token
    ).toDF("doc_id", "text")
    val got = TextOps.lmQuality2Of(train, score).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // driver-side recompute of the exact arithmetic
    val trainDocs = Seq("the cat sat on the mat", "the cat ate the fish",
      "the dog sat on the rug").map(_.split(" ").toSeq)
    val uni = trainDocs.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val nTotal = uni.values.sum
    val big = trainDocs.flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val ctx = big.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val micro = (p: Double) => math.round(-math.log(p) * 1e6)
    def tokCost(prev: Option[String], w: String): Long = prev match {
      case None =>
        uni.get(w).map(n => micro(n.toDouble / nTotal.toDouble))
          .getOrElse(micro(1.0 / nTotal.toDouble))
      case Some(p) =>
        big.get((p, w)).map(n => micro(n.toDouble / ctx(p).toDouble))
          .orElse(uni.get(w).map(n => micro(0.4 * n.toDouble / nTotal.toDouble)))
          .getOrElse(micro(0.4 / nTotal.toDouble))
    }
    val expected = Seq(10L -> "the cat sat on the mat",
      11L -> "mat the on cat sat the", 12L -> "the zyxq cat").map { case (id, s) =>
      val ws = s.split(" ").toSeq
      val costs = tokCost(None, ws.head) +:
        ws.zip(ws.tail).map { case (a, b) => tokCost(Some(a), b) }
      val nll = costs.sum
      val avg = BigDecimal(nll.toDouble / ws.size.toDouble / 1e6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, ws.size.toLong, nll, avg)
    }
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexp $expected")
    // fluency ordering: seen bigrams < backed-off word salad < OOV-laden
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(10L) < byId(11L) && byId(11L) < byId(12L))
  }

  test("lm quality 3: trigram scores match driver recompute across all four price tiers (F19d)") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "the dog sat on the rug")).toDF("doc_id", "text")
    val score = Seq(
      (20L, "the cat sat on the mat"), // every trigram seen
      (21L, "the cat ate the mat"),    // (ate,the,mat) unseen → bigram backoff
      (22L, "the cat mat"),            // (cat,mat) bigram unseen → α²·unigram
      (23L, "zyxq qxyz cat")           // OOV at positions 1, 2, and a backed-off 3
    ).toDF("doc_id", "text")
    val got = TextOps.lmQuality3Of(train, score).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // driver-side recompute of the exact arithmetic
    val trainDocs = Seq("the cat sat on the mat", "the cat ate the fish",
      "the dog sat on the rug").map(_.split(" ").toSeq)
    val uni = trainDocs.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val nTotal = uni.values.sum
    val big = trainDocs.flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val ctx = big.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val tri = trainDocs.flatMap(ws => ws.sliding(3).filter(_.size == 3).map(s => (s(0), s(1), s(2))))
      .groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val ctx2 = tri.groupBy(g => (g._1._1, g._1._2)).map { case (k, m) => k -> m.values.sum }
    val micro = (p: Double) => math.round(-math.log(p) * 1e6)
    def cost(p2: Option[String], p1: Option[String], w: String): Long = (p2, p1) match {
      case (_, None) => // position 1: unigram
        uni.get(w).map(n => micro(n.toDouble / nTotal.toDouble))
          .getOrElse(micro(1.0 / nTotal.toDouble))
      case (None, Some(p)) => // position 2: bigram with F19b backoff
        big.get((p, w)).map(n => micro(n.toDouble / ctx(p).toDouble))
          .orElse(uni.get(w).map(n =>
            micro(0.4 * (n.toDouble / nTotal.toDouble))))
          .getOrElse(micro(0.4 / nTotal.toDouble))
      case (Some(a), Some(b)) => // position >= 3: trigram, full chain
        tri.get((a, b, w)).map(n => micro(n.toDouble / ctx2((a, b)).toDouble))
          .orElse(big.get((b, w)).map(n =>
            micro(0.4 * (n.toDouble / ctx(b).toDouble))))
          .orElse(uni.get(w).map(n =>
            micro(0.4 * 0.4 * (n.toDouble / nTotal.toDouble))))
          .getOrElse(micro(0.4 * 0.4 / nTotal.toDouble))
    }
    val expected = Seq(20L -> "the cat sat on the mat",
      21L -> "the cat ate the mat", 22L -> "the cat mat",
      23L -> "zyxq qxyz cat").map { case (id, s) =>
      val ws = s.split(" ").toSeq
      val costs = ws.indices.map { i =>
        cost(if (i >= 2) Some(ws(i - 2)) else None,
          if (i >= 1) Some(ws(i - 1)) else None, ws(i)) }
      val nll = costs.sum
      val avg = BigDecimal(nll.toDouble / ws.size.toDouble / 1e6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, ws.size.toLong, nll, avg)
    }
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexp $expected")
    // fluency ordering: fully-seen < one-tier backoff < two-tier < OOV-laden
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(20L) < byId(21L) && byId(21L) < byId(22L) && byId(22L) < byId(23L))
  }

  test("embed docs: unit norms, dense/long consistency, determinism (F29)") {
    val long = TextOps.embedDocsLong(t.documents, 64).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(long.nonEmpty)
    // per-doc unit property: sum of unit4^2 ≈ 1 within 4dp rounding
    for ((_, rows) <- long.groupBy(_._1._1)) {
      val s = rows.map { case (_, (_, u)) => u * u }.sum
      assert(math.abs(s - 1.0) < 0.01, s"unit norm $s")
    }
    // dense form carries the same exact components at the same indices
    val dense = TextOps.embedDocsVectors(t.documents, 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val longByDoc = long.groupBy(_._1._1)
    for ((doc, rows) <- longByDoc; ((_, j), (v, _)) <- rows)
      assert(dense(doc)(j.toInt) == v.toDouble, s"doc $doc dim $j")
    for ((doc, vec) <- dense) {
      val nonzero = vec.zipWithIndex.filter(_._1 != 0.0)
        .map { case (v, j) => (j.toLong, v.toLong) }.toSet
      val expect = longByDoc(doc).map { case ((_, j), (v, _)) => (j, v) }.toSet
      assert(nonzero == expect, s"doc $doc dense/long mismatch")
    }
    // determinism under repartitioning (the F8/F18 property for vectors)
    val again = TextOps.embedDocsLong(t.documents.repartition(7), 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(again.toSet == long.toSet)
  }

  test("embed docs e2e: LSH near-dup over featurized text finds planted paraphrases (F29 + D5b)") {
    import spark.implicits._
    val docs = Seq(
      // family A: two paraphrases sharing nearly all vocabulary
      (1L, "the quick brown fox jumps over the lazy dog near the quiet river bank at dawn"),
      (2L, "the swift brown fox jumps over the lazy dog near the quiet river bank at dawn"),
      // family B: another near-dup pair, disjoint vocabulary from A
      (3L, "ancient sailing ships crossed the stormy ocean carrying spice silk and heavy gold cargo"),
      (4L, "ancient sailing ships crossed the stormy ocean carrying spice silk and heavy silver cargo"),
      // unrelated singletons
      (5L, "parliament debated the agricultural subsidy reform bill throughout a long winter session"),
      (6L, "volcanic eruptions reshape coastlines and bury settlements under layers of ash and pumice")
    ).toDF("doc_id", "text")
    val vecs = TextOps.embedDocsVectors(docs, 64)
    val pairs = Dedup.embeddingPairsLshOf(vecs, threshold = 0.8,
        tables = 16, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"family A paraphrase missed: $pairs")
    assert(pairs.contains((3L, 4L)), s"family B paraphrase missed: $pairs")
    // every emitted pair is exact-cosine-verified, so nothing may span
    // families or touch the singletons at this threshold
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"spurious pairs: $pairs")
  }

  test("embed docs e2e: kNN vote labels raw text via featurized vectors (F29 + E10)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = Seq(
      (1L, "the brown fox and the grey wolf hunt rabbits across the frozen meadow tonight", "animals"),
      (2L, "a wolf pack trails the deer herd while the fox digs near the meadow burrow", "animals"),
      (3L, "rabbits and deer graze the meadow as the wolf and the fox watch from the treeline", "animals"),
      (4L, "cargo ships and oil tankers crowd the harbor while tugboats guide the freighter in", "ships"),
      (5L, "the freighter left the harbor at dawn as tankers anchored beside the cargo pier", "ships"),
      (6L, "tugboats pushed the cargo freighter past the pier toward the open harbor channel", "ships"))
    val queries = Seq(
      (100L, "the fox chased rabbits through the meadow while the wolf circled the deer"),
      (101L, "tankers and cargo ships waited as tugboats cleared the harbor pier"))
    val all = (corpus.map(c => (c._1, c._2)) ++ queries).toDF("doc_id", "text")
    val vecs = graft.operators.Similarity.withNorm(
      TextOps.embedDocsVectors(all, 64).select(col("vec_id"),
        col("embedding")))
    val q = vecs.filter(col("vec_id") >= 100L)
      .select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q"))
    val c = vecs.filter(col("vec_id") < 100L)
      .select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val topk = broadcast(q).join(c)
      .withColumn("cos", call_function("graft_dot", col("v_q"), col("v_n")) /
        (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3L)
      .select(col("q_id"), col("rnk"), col("n_id"))
    val labels = corpus.map(c => (c._1, c._3)).toDF("n_id", "label")
    val got = graft.operators.Similarity.voteLabels(topk, labels)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the label must be right by a strict majority of the 3 neighbors
    assert(got(100L)._1 == "animals" && got(100L)._2 >= 2L, s"got ${got(100L)}")
    assert(got(101L)._1 == "ships" && got(101L)._2 >= 2L, s"got ${got(101L)}")
  }

  test("embed search: top-k matches a driver-side cosine recompute; query side broadcasts (F29 ∘ E1)") {
    val vecs = TextOps.embedDocsVectors(t.documents, 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val got = TextOps.embedSearchTopK(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((qid, rows) <- got.groupBy(_._1)) {
      val expect = vecs.keys.filter(_ != qid).toSeq
        .map(n => (n, cos(vecs(qid), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1)
      val gotIds = rows.sortBy(_._2).map(_._3).toSeq
      assert(gotIds == expect, s"query $qid top-k")
    }
    // the search stage is E1's broadcast-queries shape: the only join
    // over the corpus-side vectors must be a broadcast join
    val plan = TextOps.embedSearchTopK(t).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n${plan.take(2000)}")
  }

  test("embed docs / lm quality 3: document text never crosses an exchange") {
    // embed_docs hashes words AT THE SCAN, so even the vocab exchanges
    // carry 8-byte hashes; the LM family's vocab exchanges are keyed by
    // the (vocab-sized) gram strings per the documented F19 contract,
    // but the document text / token arrays must never shuffle in either
    for ((name, plan, banned) <- Seq(
      ("embed_docs",
        TextOps.embedDocsLong(t.documents, 64).queryExecution.executedPlan.toString,
        Seq("text#", "word#", "ws#")),
      ("lm_quality3",
        TextOps.lmQuality3Of(t.documents, t.documents).queryExecution.executedPlan.toString,
        Seq("text#", "ws#")))) {
      val exchanges = plan.linesIterator
        .filter(_.contains("Exchange")).mkString("\n")
      banned.foreach(b => assert(!exchanges.contains(b),
        s"$name: an exchange carries $b:\n$exchanges"))
    }
  }

  test("ccnet buckets: per-source terciles are balanced and score-ordered") {
    val got = TextOps.ccnetBuckets(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(got.nonEmpty)
    for ((src, rows) <- got.groupBy(_._2)) {
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).toMap
      // exact ntile balance: sizes differ by at most 1, head >= middle >= tail
      assert(sizes.values.max - sizes.values.min <= 1, s"$src sizes $sizes")
      assert(sizes.getOrElse("head", 0) >= sizes.getOrElse("middle", 0) &&
        sizes.getOrElse("middle", 0) >= sizes.getOrElse("tail", 0), s"$src sizes $sizes")
      // ordering: every head score <= every middle score <= every tail score
      def scores(b: String) = rows.filter(_._4 == b).map(_._3)
      if (scores("head").nonEmpty && scores("middle").nonEmpty)
        assert(scores("head").max <= scores("middle").min, src)
      if (scores("middle").nonEmpty && scores("tail").nonEmpty)
        assert(scores("middle").max <= scores("tail").min, src)
    }
  }

  test("bpe tokenize: learned merges compress trained words; OOV falls back to characters") {
    import spark.implicits._
    // training: "abab" dominates -> merges learn ab, then abab
    val train = Seq((1L, "abab abab abab abab"), (2L, "cd cd")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "abab abab"),  // fully merged: 1 token each
      (11L, "cd"),         // merged once ab? no — cd learned iff budget allows
      (12L, "zzzz")        // OOV: never trained -> 4 chars
    ).toDF("doc_id", "text")
    val got = TextOps.bpeTokenizeOf(train, score, 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // merges (count desc, pair asc): (a,b)x8 -> ab; (ab,ab)x4 -> abab;
    // (c,d)x2 -> cd; then dry. "abab" -> 1 sym, "cd" -> 1 sym.
    assert(got(10L) == (2L, 2L, 1000L), s"got ${got(10L)}")
    assert(got(11L) == (1L, 1L, 1000L), s"got ${got(11L)}")
    assert(got(12L) == (1L, 4L, 4000L), s"got ${got(12L)}")
  }

  test("bpe pair counts: planted fixture + occurrence conservation on the corpus") {
    import spark.implicits._
    // "banana" x3, "bane" x1: pairs ba(4), an(7), na(6), ne(1)
    val docs = Seq((1L, "banana banana bane"), (2L, "banana")).toDF("doc_id", "text")
    val got = TextOps.bpePairCountsOf(docs, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq == Seq("an" -> 7L, "na" -> 6L, "ba" -> 4L, "ne" -> 1L),
      s"got ${got.toSeq}")
    // conservation over the real corpus: sum of pair occurrences (no
    // limit) == sum over words of freq * (len - 1)
    val all = TextOps.bpePairCountsOf(t.documents, Int.MaxValue).collect()
      .map(_.getLong(1)).sum
    val expectTotal = t.documents.selectExpr(
        "explode(regexp_extract_all(lower(text), '[a-z]+', 0)) as w")
      .selectExpr("sum(length(w) - 1) as s").collect()(0).getLong(0)
    assert(all == expectTotal, s"$all != $expectTotal")
  }

  test("bpe merges: round 3 depends on round 2's re-segmentation; overlaps merge greedily; loop stops dry") {
    import spark.implicits._
    // word freqs: abc x5, aaaa x3
    val docs = Seq((1L, "abc abc abc abc abc"), (2L, "aaaa aaaa aaaa"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeMergesOf(docs, 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // r1: (a,a) counts OVERLAPPING adjacencies — 3 per "aaaa" x3 = 9 —
    //     beating (a,b)/(b,c) at 5; greedy reseg: [a,a,a,a] -> [aa,aa]
    // r2: tie (a,b)=(b,c)=5 breaks lexicographically to (a,b)
    // r3: (ab,c) exists ONLY because r2 re-segmented "abc" to [ab,c]
    // r4: (aa,aa)=3 from r1's greedy pairing
    // then no pair remains: 4 rows despite k=8
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 9L),
      (2L, "a", "b", "ab", 5L),
      (3L, "ab", "c", "abc", 5L),
      (4L, "aa", "aa", "aaaa", 3L)), s"got ${got.toSeq}")
  }

  test("nb classifier: log-odds match driver recompute on held-out docs incl. the OOV price; verdicts separate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, "science math physics theorem proof", true),
      (2L, "math proof lemma theorem science", true),
      (3L, "casino pills spam jackpot winner", false),
      (4L, "spam casino winner pills free", false)
    ).toDF("doc_id", "text", "pos")
    val score = Seq(
      (10L, "science theorem proof"),   // curated-seed vocabulary
      (11L, "casino spam jackpot"),     // crawl-seed vocabulary
      (12L, "science zzyqx theorem")    // one word unseen in training
    ).toDF("doc_id", "text")
    val got = TextOps.nbLogOddsOf(train, score).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    // driver-side recompute of the exact arithmetic
    val trainToks = Seq(
      ("science math physics theorem proof", true),
      ("math proof lemma theorem science", true),
      ("casino pills spam jackpot winner", false),
      ("spam casino winner pills free", false))
      .flatMap { case (s, p) => s.split(" ").map(w => (w, p)) }
    val vocab = trainToks.map(_._1).distinct
    val v = vocab.size.toLong
    val tPos = trainToks.count(_._2).toLong
    val tNeg = trainToks.count(!_._2).toLong
    def lo(w: String): Long = {
      val nPos = trainToks.count(x => x._1 == w && x._2).toLong
      val nNeg = trainToks.count(x => x._1 == w && !x._2).toLong
      math.round((math.log((nPos + 1).toDouble / (tPos + v).toDouble)
        - math.log((nNeg + 1).toDouble / (tNeg + v).toDouble)) * 1e6)
    }
    val expected = Seq(10L -> "science theorem proof",
      11L -> "casino spam jackpot", 12L -> "science zzyqx theorem")
      .map { case (id, s) =>
        val ws = s.split(" ").toSeq
        val sum = ws.map(lo).sum
        val avg = BigDecimal(sum.toDouble / ws.length.toDouble / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, ws.length.toLong, sum, avg, sum > 0L)
      }
    assert(got.toSeq == expected)
    // the discriminator separates: curated-looking kept, crawl-looking
    // dropped, and the OOV doc still nets positive from its two
    // curated words (the n=0 price is class-symmetric here, ±0)
    val verdicts = got.map(r => r._1 -> r._5).toMap
    assert(verdicts(10L) && !verdicts(11L) && verdicts(12L))
    // text never crosses an exchange (vocab-sized aggs + scoring join)
    val planned = TextOps.nbLogOddsOf(train, score).queryExecution
      .executedPlan.toString
    val exchanges = planned.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"),
      s"nb classifier shuffles document text:\n$exchanges")
  }

  test("bm25: scores and ranking match a driver-side recompute (F22)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "stream stream stream filter"),
      (2L, "s", "stream vector filter join scan"),
      (3L, "s", "filter join scan merge hash table row"),
      (4L, "s", "vector vector stream"))
      .toDF("doc_id", "source", "text")
    val q = Seq("stream", "vector")
    val got = TextOps.bm25TopKOf(docs, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))

    val toks = Map(1L -> Seq("stream", "stream", "stream", "filter"),
      2L -> Seq("stream", "vector", "filter", "join", "scan"),
      3L -> Seq("filter", "join", "scan", "merge", "hash", "table", "row"),
      4L -> Seq("vector", "vector", "stream"))
    val nDocs = toks.size.toLong
    val lTotal = toks.values.map(_.size.toLong).sum
    val df = q.map(t => t -> toks.values.count(_.contains(t)).toLong).toMap
    def idfU(t: String): Long =
      math.round(math.log(1.0
        + ((nDocs - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5)) * 1e6)
    val expected = toks.toSeq.map { case (id, ws) =>
      val len = ws.size.toLong
      val contribs = q.flatMap { t =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0) None
        else Some(math.round(idfU(t).toDouble
          * ((22.0 * tf * lTotal)
            / (10.0 * tf * lTotal + 3.0 * lTotal + 9.0 * len * nDocs))))
      }
      (id, contribs.sum, contribs.size.toLong, len)
    }.filter(_._3 > 0)
      .sortBy { case (id, s, _, _) => (-s, id) }
      .zipWithIndex
      .map { case ((id, s, nt, len), i) => (i + 1L, id, s, nt, len) }
    assert(got.toSeq == expected)
    // doc 3 has no query terms — excluded, not zero-scored
    assert(!got.exists(_._2 == 3L))
    // doc 1 (3x stream, short) must out-rank doc 2 (1x stream + 1x vector)
    // only if the math says so — sanity: top doc has the max score
    assert(got.head._3 == got.map(_._3).max)
  }

  test("dsir: derandomized Gumbel keys match a driver recompute; exact top-n (F25)") {
    import graft.functions.Hashing
    val scores = TextOps.nbQualityClassifier(t).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def noise(id: Long): Long = {
      val u = ((Hashing.mix64(id) >>> 11).toDouble + 0.5) / 9007199254740992.0
      math.round(-math.log(-math.log(u)) * 1e6)
    }
    val n = 20
    val expected = scores.toSeq
      .map { case (id, lo) => (id, lo, noise(id), lo + noise(id)) }
      .sortBy { case (id, _, _, k) => (-k, id) }
      .take(n).zipWithIndex
      .map { case ((id, lo, nu, k), i) => (i + 1L, id, lo, nu, k) }
    val got = TextOps.dsirResampleOf(
      TextOps.nbQualityClassifier(t).select("doc_id", "logodds_micro"), n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == expected)
    // the noise must actually reorder relative to raw score rank —
    // otherwise this is just a quality top-n, not a weighted sample
    val byScore = scores.toSeq.sortBy { case (id, lo) => (-lo, id) }
      .take(n).map(_._1).toSet
    assert(got.map(_._2).toSet != byScore,
      "sample identical to score top-n: Gumbel noise had no effect")
  }

  test("bloom kernel: no false negatives, measured FP rate near theory (H11)") {
    import graft.plans.BloomKernel
    val rnd = new scala.util.Random(42)
    val members = Array.fill(2000)(rnd.nextLong())
    val bloom = new Array[Byte]((1 << 15) >> 3) // m=32768 bits, n=2000
    members.foreach(BloomKernel.set(bloom, _, 7))
    assert(members.forall(BloomKernel.contains(bloom, _, 7)),
      "bloom false negative")
    val nonMembers = Array.fill(20000)(rnd.nextLong())
      .filterNot(members.contains)
    val fp = nonMembers.count(BloomKernel.contains(bloom, _, 7))
    // theory at m/n=16.4, k=7: ~0.2%; allow generous slack
    assert(fp.toDouble / nonMembers.length < 0.02,
      s"bloom FP rate ${fp.toDouble / nonMembers.length} too high")
  }

  test("bloom decontamination equals the exact broadcast form (H11)") {
    val exact = TextOps.decontaminateAgainst(corpusDocs, benchDocs, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = TextOps.decontaminateBloomAgainst(corpusDocs, benchDocs, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty && bloomed == exact)
  }

  test("bloom prefilter guards the exchange: probe below, exact join shuffled") {
    val plan = TextOps.decontaminateBloomAgainst(corpusDocs, benchDocs, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_contains"), s"no bloom probe:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"exact join should be the shuffle form (the can't-broadcast regime):\n$plan")
    // the probe must sit below the gram exchange: in the formatted plan
    // the Filter carrying the probe feeds the Exchange, not vice versa
    val formatted = TextOps.decontaminateBloomAgainst(corpusDocs, benchDocs, 3).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val filterIdx = formatted.indexOf("graft_bloom_contains")
    assert(filterIdx >= 0)
  }

  test("cluster split: one split per cluster; singletons keep the F18 assignment (F24)") {
    val rows = TextOps.splitByCluster(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"cluster $c spans splits")
    }
    // a singleton's label is its own doc_id, so its assignment must be
    // bit-identical to F18's per-doc split
    val f18 = TextOps.splitAssign(t).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    rows.filter(r => byCluster(r._2).length == 1).foreach { case (id, c, sp) =>
      assert(c == id && f18(id) == sp, s"singleton $id diverges from F18")
    }
    // the fixture corpus must actually exercise the multi-doc case
    assert(byCluster.values.exists(_.length > 1),
      "no multi-doc near-dup cluster in the fixture corpus")
    // tier equality: the benched query rides the D6b LSH labels (round
    // 20); at this SF LSH recall on true j>=0.95 pairs is 1, so the
    // exact O(n^2) tier must produce the identical split table
    val exact = TextOps.splitByClusterOf(Dedup.dedupClusters(t)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == exact.toSeq,
      "LSH-tier split diverges from the exact-tier split at spec SF")
  }

  test("bm25: corpus top-k is TakeOrdered, never a corpus-wide window") {
    val plan = TextOps.bm25TopKOf(t.documents,
      Seq("stream", "vector", "customer"), 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 top-k should plan as TakeOrdered:\n$plan")
  }

  test("source drift: disjoint vocabularies hit ln2, identical ones hit 0, corpus matches a driver replay (F28)") {
    import spark.implicits._
    // disjoint token sets: JSD must be exactly ln 2 (693147 micro-nats)
    val disjoint = Seq(("x", "x x x"), ("y", "y y")).toDF("source", "text")
    val dj = TextOps.sourceDriftOf(disjoint).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(dj == Map("x" -> 693147L, "y" -> 693147L))
    // identical distributions: JSD must be exactly 0
    val same = Seq(("p", "a b"), ("q", "a b")).toDF("source", "text")
    val sm = TextOps.sourceDriftOf(same).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(sm == Map("p" -> 0L, "q" -> 0L))

    // full corpus: replay the quantized arithmetic on the driver
    val toks = t.documents.select("source", "text").collect()
      .flatMap(r => "[a-z]+".r.findAllIn(r.getString(1).toLowerCase)
        .map(w => (r.getString(0), w)))
    val cs = toks.groupBy(identity).map { case ((s, w), g) => (s, w, g.length.toLong) }
    val cw = cs.groupBy(_._2).map { case (w, g) => w -> g.map(_._3).sum }
    val ns = cs.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val n = ns.values.sum
    val expected = cs.groupBy(_._1).map { case (s, pairs) =>
      val (nS, nC) = (ns(s), n - ns(s))
      var s1 = 0L; var s2 = 0L; var dd = 0L
      pairs.foreach { case (_, w, c) =>
        val d = cw(w) - c
        val den = (c * nC + d * nS).toDouble
        s1 += c * math.round(math.log(2.0 * c * nC / den) * 1e6)
        if (d > 0) s2 += d * math.round(math.log(2.0 * d * nS / den) * 1e6)
        dd += d
      }
      s -> (nS, pairs.size.toLong, math.round(
        s1.toDouble / (2.0 * nS) + s2.toDouble / (2.0 * nC)
          + (693147L * (nC - dd)).toDouble / (2.0 * nC)))
    }
    val got = TextOps.sourceDriftOf(t.documents).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected && got.size > 1)
    got.values.foreach { case (_, _, j) => assert(j >= 0L && j <= 693147L) }
  }

  test("vocab coverage: OOV fallback fixture + consistency with the per-doc encoder (F27)") {
    import spark.implicits._
    // k=1 training on {aa:2, ab:1}: the sole merge is (a,a)->aa, so
    // "aa" encodes to 1 token, "ab" to 2, and any unseen word to its
    // character count
    val train = Seq("aa aa ab").toDF("text")
    val score = Seq(
      ("s1", "aa ab"),  // all in-vocab: 3 tokens over 2 words
      ("s2", "zz aa"))  // zz is OOV -> 2 chars; 3 tokens over 2 words
      .toDF("source", "text")
    val got = TextOps.vocabCoverageOf(train, score, 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("s1", 2L, 0L, 0L, 3L, 1500L),
      ("s2", 2L, 1L, 500L, 3L, 1500L)))

    // real corpus: per-source totals must agree with the per-doc F20c
    // encoder under the same split-trained vocabulary, and n_oov with a
    // driver word-set recompute
    val trainDocs = t.documents.filter($"doc_id" % 10 =!= 0)
    val cov = TextOps.vocabCoverageOf(
      t.documents.filter(col("doc_id") % 10 =!= 0), t.documents, 8).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    val perDoc = TextOps.bpeTokenizeOf(trainDocs, t.documents, 8)
      .join(t.documents.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("n_words").as("w"),
        org.apache.spark.sql.functions.sum("n_tokens").as("tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val trainWords = trainDocs.select("text").collect()
      .flatMap(r => "[a-z]+".r.findAllIn(r.getString(0).toLowerCase)).toSet
    val oov = t.documents.select("source", "text").collect()
      .map(r => r.getString(0) ->
        "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).count(!trainWords(_)).toLong)
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    cov.foreach { case (s, (w, o, tok)) =>
      assert((w, tok) == perDoc(s), s"source $s totals vs per-doc encoder")
      assert(o == oov(s), s"source $s oov count")
    }
    assert(cov.nonEmpty && cov.keySet == perDoc.keySet)
  }

  test("chunking: windows match a driver recompute; stride=size partitions losslessly (F26)") {
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val toks = docs.map { case (id, txt) =>
      id -> "[a-z]+".r.findAllIn(txt.toLowerCase).toVector
    }.toMap

    // overlapping form: every chunk is exactly tokens[start, start+size)
    val got = TextOps.chunkDocsOf(t.documents, size = 64, stride = 48).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    var expected = 0
    toks.foreach { case (id, ws) =>
      (0 until ws.length by 48).zipWithIndex.foreach { case (s, i) =>
        val chunk = ws.slice(s, s + 64)
        val (st, n, text) = got((id, i.toLong))
        assert(st == s.toLong && n == chunk.length.toLong &&
          text == chunk.mkString(" "), s"doc $id chunk $i")
        expected += 1
      }
    }
    assert(got.size == expected, "chunk count mismatch")

    // stride == size: chunks partition the token sequence exactly
    val flat = TextOps.chunkDocsOf(t.documents, size = 32, stride = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
      .groupBy(_._1)
    toks.filter(_._2.nonEmpty).foreach { case (id, ws) =>
      val joined = flat(id).sortBy(_._2).map(_._3).mkString(" ")
      assert(joined == ws.mkString(" "), s"doc $id lossy partition")
    }
    assert(!flat.contains(-1L) && flat.keySet == toks.filter(_._2.nonEmpty).keySet)
  }

  test("lang confusion matrix conserves totals and matches the per-doc scorer (F30)") {
    val perDoc = TextOps.langId(t).collect()
      .map(r => (r.getString(1), r.getString(2))) // (pred, true)
    val expect = perDoc.groupBy(p => (p._2, p._1)).view.mapValues(_.length.toLong).toMap
    val got = TextOps.langConfusion(t).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.view.mapValues(_._1).toMap == expect)
    // cell shares: floor-division permille of the true-label total
    val totals = expect.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    got.foreach { case ((tl, pl), (n, pm)) =>
      assert(pm == n * 1000 / totals(tl), s"share off for ($tl,$pl)")
    }
    assert(got.values.map(_._1).sum == t.documents.count())
  }

  test("hybrid RRF search: full driver recompute of both arms and the integer fusion (F32)") {
    import graft.functions.Hashing
    val terms = Seq("stream", "vector", "customer")
    val dim = 64; val n = 20; val kRrf = 60L
    // lexical arm ranks from the already-oracle-gated F22 operator
    val lex = TextOps.bm25TopKOf(t.documents, terms, n).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap // doc_id -> rnk
    // semantic arm recomputed from first principles: corpus feature
    // space (hash → j/sign/idf) rebuilt driver-side, query vector =
    // the query-term features at tf = 1, score = dot/sqrt(norm_v)
    val docsToks = t.documents.selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).toSeq)
    val dfByHash = docsToks.flatMap { case (_, ws) =>
      ws.map(Hashing.hashString).distinct }.groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val nDocs = docsToks.length.toLong
    def jOf(h: Long) = (Hashing.mix64(h) & (dim - 1)).toInt
    def signOf(h: Long) = 1L - 2L * ((Hashing.mix64(h) >>> 6) & 1L)
    def idfOf(h: Long) =
      math.round(math.log(nDocs.toDouble / dfByHash(h).toDouble) * 1e6)
    val qArr = new Array[Double](dim)
    terms.map(Hashing.hashString).filter(dfByHash.contains).foreach { h =>
      qArr(jOf(h)) += (signOf(h) * idfOf(h)).toDouble
    }
    val semScores = docsToks.filter(_._2.nonEmpty).map { case (id, ws) =>
      val v = new Array[Double](dim)
      ws.map(Hashing.hashString).groupBy(identity).foreach { case (h, occ) =>
        v(jOf(h)) += (signOf(h) * occ.length * idfOf(h)).toDouble
      }
      var dot = 0.0; var norm = 0.0; var j = 0
      while (j < dim) { dot += v(j) * qArr(j); norm += v(j) * v(j); j += 1 }
      id -> dot / math.sqrt(norm)
    }.filter(x => !x._2.isNaN)
    val semRanks = semScores.sortBy { case (id, s) => (-s, id) }
      .take(n).zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // integer fusion + top-k, exactly the operator's rule
    def rr(r: Option[Long]) = r.fold(0L)(x => 1000000L / (kRrf + x))
    val fusedAll = (lex.keySet ++ semRanks.keySet).toSeq.map { id =>
      (id, rr(lex.get(id)) + rr(semRanks.get(id)), lex.get(id), semRanks.get(id))
    }.sortBy { case (id, s, _, _) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s, a, b), i) => (i + 1L, id, s, a, b) }
    val got = TextOps.hybridSearchTopKOf(t.documents,
      Seq("stream", "vector", "customer"), 64, 20, 10, 60L).collect().map(r => (
      r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)),
      if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == fusedAll, s"\ngot   =$got\nexpect=$fusedAll")
    // RRF's defining property on this corpus: any doc present in BOTH
    // arms outranks a doc of the same single-arm rank only
    val both = got.filter(g => g._4.isDefined && g._5.isDefined)
    assert(got.nonEmpty && (both.isEmpty || both.head._1 == got.head._1 ||
      got.head._4.isDefined != got.head._5.isDefined))
  }

  test("doremi mixture: exact driver replay; the distinct-vocabulary domain gains weight (F31)") {
    import spark.implicits._
    // A and B are redundant twins (same token distribution); C speaks a
    // disjoint vocabulary the uniform mixture prices terribly — DoReMi's
    // defining behavior is C gaining weight at A/B's expense
    val common = "alpha beta gamma delta epsilon zeta"
    val docs = (
      (1 to 5).map(i => ("srcA", s"$common alpha beta")) ++
      (1 to 5).map(i => ("srcB", s"$common beta gamma")) ++
      (1 to 5).map(i => ("srcC", "qoph resh shin tav waw zayin heth teth"))
    ).toDF("source", "text")
    val iters = 3
    val capU = 20000000L
    val got = TextOps.doremiWeightsOf(docs, iters, capU).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact driver replay of the k-round arithmetic
    val toks = Seq(
      "srcA" -> (1 to 5).flatMap(_ => s"$common alpha beta".split(" ")),
      "srcB" -> (1 to 5).flatMap(_ => s"$common beta gamma".split(" ")),
      "srcC" -> (1 to 5).flatMap(_ =>
        "qoph resh shin tav waw zayin heth teth".split(" ")))
    val cd = toks.map { case (s, ws) =>
      s -> ws.groupBy(identity).view.mapValues(_.length.toLong).toMap }.toMap
    val nd = cd.view.mapValues(_.values.sum).toMap
    val hnum = cd.map { case (s, m) => s -> m.map { case (_, c) =>
      c * math.round(-math.log(c.toDouble / nd(s)) * 1e6) }.sum }
    val srcs = cd.keys.toSeq.sorted
    var aU = srcs.map(_ -> 1000000L / srcs.length).toMap
    var exU = srcs.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val words = cd.values.flatMap(_.keys).toSet
      val pU = words.map { w => w -> math.max(1L, srcs.map(s =>
        aU(s) * (cd(s).getOrElse(w, 0L) * 1000000000L / nd(s))).sum) }.toMap
      val costU = pU.view.mapValues(p =>
        math.round(-math.log(p.toDouble / 1e15) * 1e6)).toMap
      val cnum = srcs.map(s => s -> cd(s).map { case (w, c) =>
        c * costU(w) }.sum).toMap
      exU = srcs.map(s => s -> math.min(capU,
        math.max(0L, (cnum(s) - hnum(s)) / nd(s)))).toMap
      val rawU = srcs.map(s => s ->
        math.round(aU(s) * math.exp(exU(s).toDouble / 1e6))).toMap
      val tot = rawU.values.sum
      aU = srcs.map(s => s -> rawU(s) * 1000000L / tot).toMap
    }
    srcs.foreach { s =>
      assert(got(s) == ((exU(s), aU(s))), s"$s: got ${got(s)} expect ${(exU(s), aU(s))}")
    }
    // the defining behavior: C outweighs both redundant twins, and the
    // weights remain a ~micro-unit partition (floor division loses < D)
    assert(got("srcC")._2 > got("srcA")._2 && got("srcC")._2 > got("srcB")._2)
    val totW = got.values.map(_._2).sum
    assert(totW > 1000000L - 3 && totW <= 1000000L, s"weight sum $totW")
    // the count-table entry point is the same function: feeding it the
    // fixture's own (source, word, c) agg reproduces every value
    import org.apache.spark.sql.functions.{col, count, explode, lit, split}
    val viaCounts = TextOps.doremiWeightsFromCounts(
      docs.select(col("source"),
        explode(split(col("text"), " ")).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("c")),
      iters, capU).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaCounts == got, s"\ncounts=$viaCounts\ntext  =$got")
  }

  test("bigram doremi: exact driver replay; the distinct-SEQUENCE domain gains weight (F31b)") {
    import spark.implicits._
    // A and B share the same transitions; C uses the SAME unigram
    // vocabulary but in reversed word order — invisible to unigram
    // DoReMi (identical word counts), priced by its unseen transitions
    // under the bigram mixture
    val fwd = "alpha beta gamma delta epsilon zeta"
    val rev = fwd.split(" ").reverse.mkString(" ")
    val docs = (
      (1 to 4).map(_ => ("srcA", fwd)) ++
      (1 to 4).map(_ => ("srcB", fwd)) ++
      (1 to 4).map(_ => ("srcC", rev))
    ).toDF("source", "text")
    val iters = 3
    val capU = 20000000L
    val got = TextOps.doremiWeights2Of(docs, iters, capU).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact driver replay of the k-round bigram arithmetic
    def bigramsOf(s: String) = s.split(" ").sliding(2)
      .map(a => (a(0), a(1))).toSeq
    val cd: Map[String, Map[(String, String), BigInt]] = Map(
      "srcA" -> bigramsOf(fwd), "srcB" -> bigramsOf(fwd),
      "srcC" -> bigramsOf(rev))
      .view.mapValues(bs => (1 to 4).flatMap(_ => bs)
        .groupBy(identity).view.mapValues(x => BigInt(x.length)).toMap)
      .toMap
    val nd = cd.view.mapValues(_.values.sum).toMap
    val cctx = cd.map { case (s, m) =>
      s -> m.groupBy(_._1._1).view.mapValues(_.values.sum).toMap }
    val hnum = cd.map { case (s, m) => s -> m.map { case ((w1, _), c) =>
      c * BigInt(math.round(
        -math.log(c.toDouble / cctx(s)(w1).toDouble) * 1e6)) }.sum }
    val srcs = cd.keys.toSeq.sorted
    var aU = srcs.map(_ -> BigInt(1000000L / srcs.length)).toMap
    var exU = srcs.map(_ -> BigInt(0)).toMap
    for (_ <- 1 to iters) {
      val pairs = cd.values.flatMap(_.keys).toSet
      val pU = pairs.map { b => b -> srcs.map(s =>
        aU(s) * ((cd(s).getOrElse(b, BigInt(0)) * 1000000000L) / nd(s)))
        .sum.max(BigInt(1)) }.toMap
      val ctxU = pU.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val costU = pU.map { case (b, p) => b -> BigInt(math.round(
        -math.log(p.toDouble / ctxU(b._1).toDouble) * 1e6)) }
      val cnum = srcs.map(s => s -> cd(s).map { case (b, c) =>
        c * costU(b) }.sum).toMap
      exU = srcs.map(s => s ->
        ((cnum(s) - hnum(s)) / nd(s)).max(BigInt(0)).min(BigInt(capU))).toMap
      val rawU = srcs.map(s => s -> BigInt(math.round(
        aU(s).toDouble * math.exp(exU(s).toDouble / 1e6)))).toMap
      val tot = rawU.values.sum
      aU = srcs.map(s => s -> (rawU(s) * 1000000L) / tot).toMap
    }
    srcs.foreach { s =>
      assert(got(s) == ((exU(s).toLong, aU(s).toLong)),
        s"$s: got ${got(s)} expect ${(exU(s), aU(s))}")
    }
    // the defining behavior unigram DoReMi CANNOT see: C's unigram
    // counts equal A/B's, yet its reversed transitions earn it weight
    assert(got("srcC")._2 > got("srcA")._2 && got("srcC")._2 > got("srcB")._2,
      s"sequence-distinct domain must gain weight: $got")
    val totW = got.values.map(_._2).sum
    assert(totW > 1000000L - 3 && totW <= 1000000L, s"weight sum $totW")
  }

  test("doremi decimal tier: planted corpus-scale counts stay exact where int64 wraps (F31)") {
    import spark.implicits._
    // one domain with 10^13 tokens over two words: its cross-entropy
    // numerator Σ c·cost ≈ 1.39e19 crosses Long.MaxValue — the int64
    // path would wrap negative and clamp the excess to 0; the decimal
    // tier must match an exact BigInt replay instead
    val C = 5000000000000L
    val counts = Seq(
      ("srcBig", "w1", C), ("srcBig", "w2", C),
      ("srcSmall", "w3", 10L), ("srcSmall", "w4", 30L)
    ).toDF("source", "word", "c")
    val iters = 2
    val capU = 20000000L
    val got = TextOps.doremiWeightsFromCounts(counts, iters, capU)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cd = Map(
      "srcBig" -> Map("w1" -> BigInt(C), "w2" -> BigInt(C)),
      "srcSmall" -> Map("w3" -> BigInt(10), "w4" -> BigInt(30)))
    val nd = cd.view.mapValues(_.values.sum).toMap
    val hnum = cd.map { case (s, m) => s -> m.values.map { c =>
      c * BigInt(math.round(
        -math.log(c.toDouble / nd(s).toDouble) * 1e6)) }.sum }
    val srcs = cd.keys.toSeq.sorted
    var aU = srcs.map(_ -> BigInt(1000000L / srcs.length)).toMap
    var exU = srcs.map(_ -> BigInt(0)).toMap
    for (_ <- 1 to iters) {
      val words = cd.values.flatMap(_.keys).toSet
      val pU = words.map { w => w -> srcs.map(s =>
        aU(s) * ((cd(s).getOrElse(w, BigInt(0)) * 1000000000L) / nd(s)))
        .sum.max(BigInt(1)) }.toMap
      val costU = pU.view.mapValues(p => BigInt(math.round(
        -math.log(p.toDouble / 1e15) * 1e6))).toMap
      val cnum = srcs.map(s => s -> cd(s).map { case (w, c) =>
        c * costU(w) }.sum).toMap
      exU = srcs.map(s => s ->
        ((cnum(s) - hnum(s)) / nd(s)).max(BigInt(0)).min(BigInt(capU))).toMap
      val rawU = srcs.map(s => s -> BigInt(math.round(
        aU(s).toDouble * math.exp(exU(s).toDouble / 1e6)))).toMap
      val tot = rawU.values.sum
      aU = srcs.map(s => s -> (rawU(s) * 1000000L) / tot).toMap
    }
    srcs.foreach { s =>
      assert(got(s) == ((exU(s).toLong, aU(s).toLong)),
        s"$s: got ${got(s)} expect ${(exU(s), aU(s))}")
    }
    // the fixture must actually exercise the wrap: a positive excess on
    // the big domain, and an int64 cnum that would have gone negative
    assert(exU("srcBig") > 0, "fixture failed to produce positive excess")
    assert(cd("srcBig").values.sum * 1386294L > BigInt(Long.MaxValue),
      "fixture no longer crosses the int64 wrap")
  }

  test("vocab spectrum: planted counts-of-counts, cumulative shares, raw Good-Turing r* (F33)") {
    import spark.implicits._
    // counts: a=3, b=2, c=1 -> spectrum rows r=1,2,3 each with one type
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextOps.vocabSpectrumOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // tt=3 types, tm=6 tokens; GT: r*=(r+1)*n_{r+1}/n_r micro-units,
    // 0 at the open tail
    val exp = Seq(
      (1L, 1L, 1L, 1000L / 3, 1000L / 6, 2000000L),
      (2L, 1L, 2L, 2000L / 3, 3000L / 6, 3000000L),
      (3L, 1L, 3L, 1000L, 1000L, 0L))
    assert(got == exp, s"\ngot=$got\nexp=$exp")
    // non-contiguous spectrum: counts 1 and 3 but no 2 -> the r+1 join
    // must NOT treat the next existing row as n_{r+1}
    val gap = Seq((1L, "x y z w"), (2L, "v v v")).toDF("doc_id", "text")
    val g = TextOps.vocabSpectrumOf(gap).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(g == Map(1L -> 0L, 3L -> 0L), g.toString)
  }

  test("unigram tokenizer: Viterbi kernel determinism + planted compression (F20d)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ss: String*): GenericArrayData =
      new GenericArrayData(ss.map(UTF8String.fromString).toArray[Any])
    def longs(ls: Long*): GenericArrayData =
      new GenericArrayData(ls.toArray[Any])
    // model: pieces sorted ASC; 'ab' dominates -> "abab" segments [ab, ab]
    val pieces = arr("a", "ab", "b")
    val cnts = longs(2L, 10L, 2L)
    val seg = graft.plans.UnigramKernels.segment(
      UTF8String.fromString("abab"), pieces, cnts, 14L)
    assert(seg != null && (0 until seg.numElements())
      .map(seg.getUTF8String(_).toString) == Seq("ab", "ab"))
    // tie-break: equal-probability 'a','b','ab' (p product of two
    // singles < one pair iff p('ab') > p(a)*p(b); with all counts 1
    // and total 3, 1/3 > 1/9 -> the PAIR wins; but equal SCORES break
    // to the shortest piece: word "aa" under pieces {a, aa} with
    // p(aa) = p(a)^2 exactly -> counts 4,16 of total... use doubles:
    // p(a)=0.5, p(aa)=0.25 => [a,a] score 0.25 == [aa] 0.25 -> tie ->
    // smallest s at position 2 => the single-char path wins
    val tieP = arr("a", "aa")
    val tieC = longs(2L, 1L)
    val tie = graft.plans.UnigramKernels.segment(
      UTF8String.fromString("aa"), tieP, tieC, 4L)
    assert(tie != null && (0 until tie.numElements())
      .map(tie.getUTF8String(_).toString) == Seq("a", "a"))
    // unsegmentable (character outside the vocabulary) -> null
    assert(graft.plans.UnigramKernels.segment(
      UTF8String.fromString("az"), tieP, tieC, 4L) == null)
    // zero-count singles stay legal last-resort paths (score 0.0)
    val zeroP = arr("a", "b")
    val zeroC = longs(0L, 4L)
    val zero = graft.plans.UnigramKernels.segment(
      UTF8String.fromString("ab"), zeroP, zeroC, 4L)
    assert(zero != null && zero.numElements() == 2)
    // end-to-end: a corpus dominated by one bigram compresses below
    // the character baseline and the output shape matches F20c's
    val docs = Seq((1L, "banana banana"), (2L, "ban na"))
      .toDF("doc_id", "text")
    val out = TextOps.unigramTokenizerOf(docs, vocabMulti = 8, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out.map(_._1) == Seq(1L, 2L))
    val (d1, d2) = (out(0), out(1))
    assert(d1._2 == 2 && d2._2 == 2, "word counts")
    // 'banana' has 6 chars; multi-char pieces must beat the
    // all-singles segmentation (token count < char count)
    assert(d1._3 < 12, s"banana must compress, got ${d1._3} tokens")
    assert(d1._4 == d1._3 * 1000 / 2)
  }
}
