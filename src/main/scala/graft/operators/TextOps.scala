package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.words
import graft.sources.{Fixtures, Tables}

/** Text-analysis operators for training-data pipelines (SURVEY §2F).
  *
  * Everything is per-row `functions._` composition — whole-stage-codegen'd,
  * no UDFs, so a 100 TB documents scan stays CPU-bound in generated code
  * with full column pruning (only `doc_id`,`text` are read).
  */
object TextOps {

  val StopWords: Seq[String] =
    Seq("the", "a", "an", "of", "in", "on", "and", "to", "is", "it")

  /** Documents globally ordered by doc_id BEFORE the per-row analysis
    * projections: the final sort's range sampling then reads only the
    * scan, the exchange spreads rows across every core (the raw scan is
    * a couple of splits at small SF), and the regex work runs exactly
    * once, post-shuffle. Output order identical to sorting afterwards. */
  private def docsSorted(t: Tables): DataFrame =
    t.documents.orderBy("doc_id")

  /** F1 — quality scoring: exact integer counts + single-division ratios. */
  def textQuality(t: Tables): DataFrame = {
    val toks = words(col("text"))
    val nWords = size(toks).cast("long")
    val nStop = size(filter(toks, tk => tk.isin(StopWords: _*))).cast("long")
    val nChars = length(col("text")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    val nSpace = length(regexp_replace(col("text"), "[^ ]", "")).cast("long")
    docsSorted(t).select(
      col("doc_id"),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      nStop.as("n_stop"),
      nAlpha.as("n_alpha"),
      nSpace.as("n_space"),
      when(nWords === 0L, lit(0.0)).otherwise(nStop.cast("double") / nWords)
        .as("stop_ratio"),
      when(nChars === 0L, lit(0.0)).otherwise(nAlpha.cast("double") / nChars)
        .as("alpha_ratio"))
  }

  /** C11b — quality-metric MELT (unpivot, the inverse of C11's pivot):
    * the wide per-document quality row to (doc_id, metric, value) long
    * form — the shape metric stores and monitoring dashboards ingest.
    * Unpivot is a per-row expand with NO shuffle; rows grow 7× but the
    * schema stays two fixed columns no matter how many metrics the wide
    * row gains. */
  def qualityMelt(t: Tables): DataFrame = {
    val metrics = Seq("n_chars", "n_words", "n_stop", "n_alpha", "n_space",
      "stop_ratio", "alpha_ratio")
    textQuality(t).unpivot(
      Array(col("doc_id")),
      metrics.map(m => col(m).cast("double").as(m)).toArray,
      "metric", "value")
      .orderBy("doc_id", "metric")
  }

  /** F5 — curation pipeline: the composite pass a training-data pipeline
    * runs before tokenization — quality-score every document, keep those
    * above the length and alpha bars (integer comparisons, no float
    * thresholds), exact-dedup survivors by text keeping the smallest id.
    * One scan, one hash-agg shuffle; at 100 TB this is the canonical
    * "clean the crawl" job shape. */
  def curationPipeline(t: Tables, minWords: Long = 40L): DataFrame = {
    val toks = words(col("text"))
    val nWords = size(toks).cast("long")
    val nStop = size(filter(toks, tk => tk.isin(StopWords: _*))).cast("long")
    val nChars = length(col("text")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    t.documents
      .select(col("doc_id"), col("text"), nWords.as("n_words"),
        nStop.as("n_stop"), nChars.as("n_chars"), nAlpha.as("n_alpha"))
      .filter(col("n_words") >= minWords &&
        col("n_alpha") * 5L >= col("n_chars") * 4L)
      // dedup survivors by 128-bit content hash, not raw text: the
      // exchange then carries ~40 B/row instead of the surviving corpus
      // (collision justification at Dedup.dedupExact)
      .select(col("doc_id"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit(1L), col("text")).as("h2"),
        col("n_words"), col("n_stop"))
      .groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("doc_id"),
        // identical text ⇒ identical metrics; min keeps it deterministic
        min(col("n_words")).as("n_words"),
        min(col("n_stop")).as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"))
      .orderBy("doc_id")
  }

  /** F5b — the END-TO-END crawl-cleaning composite: quality filter →
    * exact dedup → NEAR-dup clustering of the survivors (LSH candidate
    * edges, kernel-verified — never O(n²)) → keep the smallest doc id
    * per cluster. Output is the manifest of kept document ids a
    * tokenizer would consume. This is the canonical 100 TB pipeline
    * shape end to end: every stage is one shuffle, and the only
    * exchange that carries text is the exact-dedup one (downstream
    * tokenization needs the surviving text exactly once; the min-struct
    * agg keeps the kept doc's text without a second scan).
    * Rows-only (LSH recall has no SQL twin); TextOpsSpec pins the
    * result to an independent driver-side recompute at sf0.001. */
  def curationFull(t: Tables, minWords: Long = 40L,
      threshold: Double = 0.95, maxIters: Int = 50): DataFrame = {
    val toks = words(col("text"))
    val nWords = size(toks).cast("long")
    val nChars = length(col("text")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    // materialized once: the clustering stage consumes the survivors
    // THREE ways (tokenize/hash, the components node list, and this
    // composite is eager through the components loop anyway) — without
    // the checkpoint the filter + text-carrying dedup agg re-executes
    // per consumer
    val uniq = t.documents
      .select(col("doc_id"), col("text"), nWords.as("n_words"),
        nChars.as("n_chars"), nAlpha.as("n_alpha"))
      .filter(col("n_words") >= minWords &&
        col("n_alpha") * 5L >= col("n_chars") * 4L)
      .select(col("doc_id"), col("text"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit(1L), col("text")).as("h2"))
      .groupBy("h1", "h2")
      .agg(min(struct(col("doc_id"), col("text"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.text").as("text"))
      .localCheckpoint(true)
    // the components node list as its own tiny (8 B/row) checkpoint:
    // the lazy result plan then references only ids + final labels, so
    // the text-carrying `uniq` blocks — the bulk of the corpus — can be
    // freed as soon as the eager stages inside clusterDocsLshCore have
    // consumed them (r3 verdict: each curation_full run pinned the
    // surviving corpus in block storage until driver GC)
    val ids = uniq.select(col("doc_id")).localCheckpoint(true)
    // min-label components are ALREADY named by their smallest doc_id,
    // so keep-one-per-cluster is just the distinct labels
    val out = Dedup.clusterDocsLshCore(uniq, ids, threshold, maxIters)
      .select(col("cluster_id").as("doc_id"))
      .distinct()
      .orderBy("doc_id")
    Dedup.freeLocalCheckpoint(uniq)
    out
  }

  /** F6 — benchmark DECONTAMINATION: find corpus documents sharing any
    * word n-gram with a benchmark/eval set — the standard pre-training
    * hygiene pass (eval answers leaking into training data corrupt the
    * benchmark). Returns (doc_id, n_hits) with the count of distinct
    * shared grams per contaminated document.
    *
    * Scale shape: grams are per-row codegen hashes (graft_word_ngrams —
    * a membership join on the 64-bit gram hash equals a join on the
    * gram string at ~1e-10 collision odds, the repo-wide acceptance);
    * the benchmark side is MODEL-SIZED next to a 100 TB corpus, so the
    * probe is a BROADCAST semi-shaped join — the corpus never shuffles;
    * the only exchange carries the hit rows (contaminated doc ids), a
    * vanishing fraction of the input. PlanSpec-style guard in the spec
    * pins the broadcast. */
  def decontaminateAgainst(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3): DataFrame = {
    val grams = (d: DataFrame) => d.select(col("doc_id"),
      call_function("graft_word_ngrams", words(col("text")), lit(n)).as("gs"))
    val bench = grams(benchmark)
      .select(explode(col("gs")).as("g"))
      .distinct()
    val corpus = grams(docs)
      .select(col("doc_id"), explode(col("gs")).as("g"))
    // per-doc grams are already distinct (the kernel dedups), so the
    // inner-join row count per doc IS the distinct shared-gram count
    corpus.join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** H11 — decontamination with a BLOOM-FILTER prefilter: identical
    * semantics to [[decontaminateAgainst]], built for the regime where
    * the benchmark/registry gram set is too big to broadcast as a join
    * hash table (a 10⁸-gram contamination registry) so the exact join
    * must shuffle both sides. The registry aggregates into an m-bit
    * deterministic Bloom bitset (~10 bits/gram vs 30+ B/entry hashed
    * relation — still broadcastable when the hash table is not), corpus
    * grams are probed IN THE SCAN's codegen, and only survivors (true
    * hits + ~(1/2^k·ln2...) false positives) reach the exchange feeding
    * the exact shuffle join — which discards the false positives, so
    * the composite is hash-identical to the exact form (Blooms have no
    * false negatives). At 100 TB this turns the pipeline's biggest
    * exchange (every corpus gram) into one proportional to the
    * contamination rate. The oracle runs the plain exact join — the
    * equality IS the correctness contract ([Q:decontaminate_bloom]).
    *
    * The shuffle_hash hint on the exact join models the target regime
    * at test SF (without it AQE would just broadcast the small bench
    * side and the prefilter would guard nothing). */
  def decontaminateBloomAgainst(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, mBits: Int = 1 << 20, k: Int = 7): DataFrame = {
    val grams = (d: DataFrame) => d.select(col("doc_id"),
      call_function("graft_word_ngrams", words(col("text")), lit(n)).as("gs"))
    val bench = grams(benchmark)
      .select(explode(col("gs")).as("g"))
      .distinct()
    val bloom = bench.agg(call_function("graft_bloom_agg",
      col("g"), lit(mBits), lit(k)).as("bloom"))
    val corpus = grams(docs).select(col("doc_id"), explode(col("gs")).as("g"))
    corpus.crossJoin(broadcast(bloom))
      .filter(call_function("graft_bloom_contains",
        col("bloom"), col("g"), lit(k)))
      .select(col("doc_id"), col("g"))
      .join(bench.hint("shuffle_hash"), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** F6c — thresholded contamination VERDICT (the PaLM/GPT-4 eval-
    * decontamination rule: a document is contaminated when a high
    * FRACTION of its n-grams appears in the benchmark, not merely when
    * one does — one shared idiom is noise, a mostly-shared doc is a
    * leaked eval row). Per doc: distinct-gram total, benchmark-hit
    * count, their ratio (ONE double division of exact integers — the
    * tfidf bit-stability rule), and the verdict decided in exact
    * integer cross-multiplication (n_hits·100 ≥ n_grams·pct), so the
    * threshold cannot waver on an engine's ULP. Docs with fewer than n
    * words have no grams and are definitionally clean — excluded, as
    * in F6.
    *
    * Scale shape: the benchmark gram set broadcasts (eval sets are
    * MBs); every corpus gram row flows into a doc_id groupBy whose
    * partial agg combines map-side, so the one exchange carries
    * ~n_docs count rows, never grams — unlike F6's inner join, the
    * left join keeps zero-hit docs so the verdict column is total. */
  def decontaminateRatioAgainst(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, pct: Int = 50): DataFrame = {
    val grams = (d: DataFrame) => d.select(col("doc_id"),
      explode(call_function("graft_word_ngrams", words(col("text")), lit(n))).as("g"))
    val bench = grams(benchmark).select(col("g")).distinct()
      .withColumn("hit", lit(1L))
    // per-doc grams are already distinct (the kernel dedups), so
    // count(1) IS the distinct-gram total and sum(hit) the hit count
    grams(docs)
      .join(broadcast(bench), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("ratio", col("n_hits").cast("double") / col("n_grams"))
      .withColumn("contaminated",
        col("n_hits") * lit(100L) >= col("n_grams") * lit(pct.toLong))
      .orderBy("doc_id")
  }

  /** F6b — FUZZY decontamination: near-duplicate probing of the corpus
    * against a benchmark/eval set via MinHash bands, verified at exact
    * word-set Jaccard. Exact n-gram decontamination ([[decontaminateAgainst]])
    * misses PARAPHRASED eval leakage — reworded answers share few
    * verbatim 3-grams but keep a high word-set overlap; this is the
    * standard companion pass (fuzzy dedup between train and test).
    *
    * Same signature family as D3 (graft_minhash_bands: 40 hashes, 4
    * bands × 10 rows — candidate recall ≈ 0.82 at j = 0.9, ≈ 0.97 at
    * the planted-dup 0.95; the oracle replays the bands, so the output
    * is exact BY CONSTRUCTION over the banded candidate set).
    *
    * Scale shape: the benchmark is MODEL-SIZED next to a 100 TB corpus,
    * so its band table AND token sets broadcast — the corpus never
    * shuffles; the only exchange carries verified contaminated pairs.
    * Exactly-once per pair via the first-agreeing-band election (no
    * distinct over multi-band agreements, keeping the path
    * shuffle-free). Verification runs the same zero-allocation hashed
    * merge kernel as D2 (oracle stays on string sets). */
  def decontaminateFuzzyAgainst(docs: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.9): DataFrame =
    decontaminateFuzzyCore(docs, benchmark, threshold)
      .orderBy("doc_id", "bench_id")

  /** The orderBy-free core, which a stream runs as is: pure
    * projections + a stream-static broadcast join + per-row filters,
    * so it runs in append mode with NO state store. A benchmark update
    * means restarting the query with a fresh static frame. */
  private[graft] def decontaminateFuzzyCore(docs: DataFrame,
      benchmark: DataFrame, threshold: Double): DataFrame = {
    val tok = (d: DataFrame) => d
      .select(col("doc_id"),
        array_sort(array_distinct(words(col("text")))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("toks_h", array_sort(transform(col("toks"), tk => xxhash64(tk))))
      .withColumn("sigs", call_function("graft_minhash_bands", col("toks")))
    val corpus = tok(docs).select(col("doc_id"), col("n").as("n_a"),
      col("toks_h").as("toks_a"), col("sigs").as("sigs_a"))
    val bench = tok(benchmark).select(col("doc_id").as("bench_id"),
      col("n").as("n_b"), col("toks_h").as("toks_b"), col("sigs").as("sigs_b"))
    val corpusX = corpus.select(col("doc_id"), col("n_a"), col("toks_a"),
      col("sigs_a"), posexplode(col("sigs_a")).as(Seq("band", "sig")))
    val benchX = bench.select(col("bench_id"), col("n_b"), col("toks_b"),
      col("sigs_b"), posexplode(col("sigs_b")).as(Seq("band", "sig")))
    // exactly-once emission: keep only the FIRST band the two signature
    // arrays agree on (the D3 election, cross-relation form)
    val nBands = 4
    val firstAgree = (0 until nBands).reverse
      .foldLeft(lit(nBands): Column) { (acc, j) =>
        when(col("sigs_a").getItem(j) === col("sigs_b").getItem(j), j)
          .otherwise(acc)
      }
    val inter = call_function("graft_intersect_long_size",
      col("toks_a"), col("toks_b"))
    corpusX.join(broadcast(benchX), Seq("band", "sig"))
      .filter(col("band") === firstAgree)
      .withColumn("i", inter)
      .withColumn("j",
        col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("doc_id"), col("bench_id"), round(col("j"), 4).as("jaccard4"))
  }

  /** The benchmark's distinct gram hashes as a sorted driver-side
    * array — MODEL-SIZED (eval sets are MBs), the same class of
    * driver-held state as IVF centroids. Feed to
    * [[graft.streaming.EventStreams.decontaminateStream]] or any
    * per-row membership probe. */
  def benchmarkGrams(benchmark: DataFrame, n: Int = 3): Array[Long] = {
    val gs = benchmark
      .select(explode(call_function("graft_word_ngrams",
        words(col("text")), lit(n))).as("g"))
      .distinct().collect().map(_.getLong(0))
    java.util.Arrays.sort(gs)
    gs
  }

  /** F7 — TF-IDF top terms per document: the classic featurization a
    * curation pipeline uses for topic filtering and near-duplicate
    * triage. Exact arithmetic end to end: tf and df are integer counts,
    * tf×N is an exact long product, and the score is ONE double
    * division of exact integers — bit-stable vs the DuckDB oracle.
    * Ties break on the term string ascending.
    *
    * Scale shape: the token explode is the unavoidable corpus pass; tf
    * aggregates with map-side combine on (doc, term); df is a
    * vocabulary-sized agg; the tf⋈df join keys on term and AQE
    * size-gates the broadcast (a natural-language vocabulary is
    * Zipf-bounded — tiny next to the corpus); the final per-doc top-k
    * is one window pass over rows already shuffled once by doc_id. */
  def tfIdfTopTerms(t: Tables, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.documents
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    // NO rounding: the raw division of exact integers is correctly
    // rounded IEEE in both engines (identical bits), whereas Spark's
    // round() on doubles goes through the shortest-decimal string and
    // DuckDB's scales the binary double — they can disagree exactly at
    // a .00005 boundary (round-4 self-review finding)
    tf.join(idf, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** The mixing keep-decision as a reusable predicate — shared by the
    * batch operator and the streaming twin
    * ([[graft.streaming.EventStreams.mixSampleStream]]) so the two
    * provably agree row for row. */
  def mixKeep(weights: Map[String, Double],
      defaultFrac: Double = 0.0): org.apache.spark.sql.Column = {
    // threshold in parts-per-million; floor keeps fractions exact
    def ppm(f: Double): Long = math.floor(f * 1e6).toLong
    keepByPpm(weights.toSeq.map { case (s, f) => (s, ppm(f)) }, ppm(defaultFrac))
  }

  /** The keep decision for PRECOMPUTED parts-per-million thresholds —
    * the shared tail of [[mixKeep]] (fixed fractions) and
    * [[sampleTemperature]] (rates derived from source counts), and of
    * their streaming twins. */
  def keepByPpm(ppm: Seq[(String, Long)],
      defaultPpm: Long = 0L): org.apache.spark.sql.Column = {
    val thr = ppm.sortBy(_._1).foldLeft(lit(defaultPpm)) {
      case (acc, (src, v)) => when(col("source") === src, lit(v)).otherwise(acc)
    }
    // Knuth multiplicative hash with the id pre-reduced mod a large
    // prime so the product PROVABLY fits int64 for EVERY int64 id:
    // (doc_id % p) < p ≈ 1e9+7, and p * 2654435761 ≈ 2.66e18 < 2^63.
    // (A bare doc_id * 2654435761 overflows at doc_id ≈ 3.5e9 — ANSI
    // mode aborts the query, legacy mode wraps negative and diverges
    // from the oracle's %.) abs() first: Spark's pmod is always
    // non-negative while the oracle's % follows the dividend's sign, so
    // a NEGATIVE doc_id would silently get a different keep decision
    // per engine — on |id| the two operators coincide and the identical
    // arithmetic runs on both sides. (Long.MinValue has no positive
    // abs; ANSI mode rejects it loudly, and real corpora don't issue
    // that id.)
    val p = 1000000007L
    val h = pmod(pmod(abs(col("doc_id")), lit(p)) * lit(2654435761L), lit(p))
    pmod(h, lit(1000000L)) < thr
  }

  /** F8 — deterministic DOMAIN MIXING: per-source keep fractions for
    * composing a training mixture ("keep all of src0, half of src1,
    * 10% of the rest"). The keep decision is a pure function of
    * doc_id — a Knuth multiplicative hash against a per-source
    * threshold — so the sample is REPRODUCIBLE across runs, cluster
    * sizes, and partitionings (no RNG state, unlike df.sample), and
    * expressible in exact int64 arithmetic on any engine: the DuckDB
    * oracle recomputes the identical decision, making the sample
    * hash-exact. One scan, no shuffle before the filter: the predicate
    * is arithmetic so parquet can't use it for row-group pruning, but
    * it evaluates inside the scan's codegen over a (doc_id, source)
    * projection — at 100 TB the corpus flows through one 2-column scan
    * and dies there. */
  def mixSample(docs: DataFrame, weights: Map[String, Double],
      defaultFrac: Double = 0.0): DataFrame =
    docs.filter(mixKeep(weights, defaultFrac))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** F17 — TEMPERATURE-based source re-weighting (the multilingual /
    * multi-domain sampling rule of mC4 and XLM-R: sample probability
    * q_d ∝ p_d^α with α < 1, up-weighting low-resource domains
    * relative to their corpus share). α is fixed at 1/2 because sqrt
    * is IEEE-correctly-rounded on every engine while pow(x, 0.3) is
    * not — the one temperature where the rates (and therefore the
    * sample itself) are hash-exact against an independent engine.
    *
    * With n_d the source's row count, N = Σ n_d, and T =
    * floor(targetFrac·N) the sample budget: q_d = sqrt(n_d)/Z with
    * Z = Σ sqrt(n_d) folded in source-name order, per-row keep rate
    * r_d = min(1, T·q_d/n_d), held as floor(r_d·1e6) ppm. Every IEEE
    * operation here runs in a FIXED order (sorted sources, explicit
    * folds) because the DuckDB oracle replays the identical sequence —
    * do not "simplify" the arithmetic. */
  def temperatureRates(docs: DataFrame,
      targetFrac: Double = 0.5): Seq[(String, Long)] = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val z = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    val total = counts.foldLeft(0L) { case (acc, (_, n)) => acc + n }
    val t = math.floor(targetFrac * total)
    counts.map { case (s, n) =>
      val r = (t * (math.sqrt(n.toDouble) / z)) / n.toDouble
      (s, math.min(1000000L, math.floor(r * 1e6).toLong))
    }
  }

  /** The F17 sample: rates from [[temperatureRates]] applied by the F8
    * Knuth-hash threshold — reproducible across runs, cluster sizes,
    * and partitionings.
    *
    * Scale shape: the counts pass is a source-keyed agg whose exchange
    * carries tasks × |sources| partial rows (sources are a handful);
    * the rates are MODEL-SIZED driver state (the IVF-centroid class);
    * the sample itself is a pure projection filter riding a
    * (doc_id, source) column scan. At 100 TB that is one stats pass
    * over a dictionary-encoded column plus one filter scan — no corpus
    * shuffle anywhere — and a catalog that already records per-file
    * row counts per source skips the stats pass outright (the rates
    * are a pure function of the counts). */
  def sampleTemperature(docs: DataFrame,
      targetFrac: Double = 0.5): DataFrame = {
    val rates = temperatureRates(docs, targetFrac)
    val ppmCol = rates.foldLeft(lit(0L)) {
      case (acc, (src, v)) => when(col("source") === src, lit(v)).otherwise(acc)
    }
    docs.filter(keepByPpm(rates))
      .select(col("source"), col("doc_id"), ppmCol.as("ppm"))
      .orderBy("source", "doc_id")
  }

  /** F9 — deterministic STRATIFIED bottom-k sampling: exactly
    * min(k, |stratum|) docs per source, chosen as the k smallest
    * graft_mix64(doc_id) — the distributed bottom-k sampler. Where F8
    * fixes a keep RATE per stratum, this fixes a SIZE: uniform within
    * the stratum under the hash's uniformity, reproducible across
    * runs, cluster sizes, and partitionings (no RNG state), and
    * mergeable (the bottom-k of a union is the bottom-k of merged
    * per-part bottom-k's — the property that lets executors pre-prune
    * before the stratum shuffle, which Spark applies here as
    * WindowGroupLimit). The DuckDB oracle recomputes the identical
    * hash order, so the sample is hash-exact. */
  def sampleKPerSource(t: Tables, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sampleKPerGroup(t.documents.select(col("doc_id"), col("source")), k)
      .orderBy("source", "rn")
  }

  /** Library form over any (doc_id, source) frame; no output sort. */
  def sampleKPerGroup(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs
      .withColumn("h", call_function("graft_mix64", col("doc_id")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("source"), col("rn"), col("doc_id"))
  }

  /** F2 — token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single punctuation marks). */
  def tokenCounts(t: Tables): DataFrame = {
    val nWs = size(call_function("regexp_extract_all", col("text"), lit("\\S+"), lit(0)))
      .cast("long")
    val nBpe = size(call_function("regexp_extract_all", col("text"),
      lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast("long")
    val nChars = length(col("text")).cast("long")
    docsSorted(t).select(
      col("doc_id"),
      nWs.as("n_ws_tokens"),
      nBpe.as("n_bpe_tokens"),
      when(nBpe === 0L, lit(0.0)).otherwise(nChars.cast("double") / nBpe)
        .as("chars_per_token"))
  }

  /** F1b — corpus-level quality rollup per source: the aggregate view a
    * data-curation pipeline filters on. */
  def qualityBySource(t: Tables): DataFrame = {
    val toks = words(col("text"))
    val nWords = size(toks).cast("long")
    val nStop = size(filter(toks, tk => tk.isin(StopWords: _*))).cast("long")
    t.documents
      .select(col("source"), length(col("text")).cast("long").as("len"),
        nWords.as("w"), nStop.as("s"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).as("total_chars"),
        sum(col("w")).as("total_words"),
        (sum(col("s")).cast("double") / sum(col("w"))).as("stop_ratio"))
      .orderBy("source")
  }

  /** F3 — document fingerprint: polynomial rolling hash over codepoints,
    * h = (h*31 + code) mod 1e9+7, exact in int64 (max step < 2^35). */
  def fingerprint(t: Tables): DataFrame = {
    // native codegen expression: the column form (regexp_extract_all per
    // char + interpreted aggregate lambda) measured ~µs/char; the kernel
    // is ~ns/char with identical results (TextOpsSpec pins equivalence)
    docsSorted(t)
      .select(col("doc_id"), call_function("graft_fingerprint", col("text")).as("fp"))
  }

  /** F4 — heuristic language ID from function-word profiles + CJK charset.
    * Oracle-checked: the scoring is deterministic count arithmetic with a
    * fixed tie priority, so the DuckDB twin recomputes the identical
    * decision (the corpus `lang` labels are synthetic noise — ACCURACY is
    * validated separately: TextOpsSpec asserts >= 0.9 on a fixture of
    * real multilingual snippets via [[langIdOf]]). */
  def langId(t: Tables): DataFrame = langIdOf(docsSorted(t))

  /** The same scoring over any (doc_id, text, lang) frame. */
  def langIdOf(docs: DataFrame): DataFrame = {
    def hits(ws: Seq[String]): Column =
      size(filter(words(col("text")), tk => tk.isin(ws: _*))).cast("long")
    val en = hits(Seq("the", "and", "of", "to", "is"))
    val es = hits(Seq("el", "la", "de", "que", "los"))
    val fr = hits(Seq("le", "les", "des", "et", "une"))
    val de = hits(Seq("der", "die", "das", "und", "nicht"))
    val zh = length(regexp_replace(col("text"), "[\\x00-\\x7F]", "")).cast("long")
    val best = greatest(en, es, fr, de, zh)
    docs.select(
      col("doc_id"),
      when(best === 0L, lit("und"))
        .when(zh === best, lit("zh"))
        .when(en === best, lit("en"))
        .when(es === best, lit("es"))
        .when(fr === best, lit("fr"))
        .otherwise(lit("de")).as("pred_lang"),
      col("lang").as("true_lang"))
  }

  /** F30 — language-ID AGREEMENT audit (round 13): the confusion
    * matrix between the labeled language and F4's prediction, with
    * each cell's share of its true-label total in permille — the QA
    * report that decides whether a lang-ID gate can be trusted before
    * it drops terabytes of "wrong-language" text. Two label-cardinality
    * exchanges (the (true, pred) agg, then the per-label window);
    * everything after the per-doc scoring is label-sized. */
  def langConfusion(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(t)
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_permille", call_function("div",
        col("n") * 1000L,
        sum(col("n")).over(Window.partitionBy("true_lang"))))
      .orderBy("true_lang", "pred_lang")
  }

  /** F12 — text NORMALIZATION/CLEANING: Unicode NFC (composed vs
    * decomposed accents must hash identically before any dedup tier
    * sees them — [[graft.plans.NfcKernel]]), strip ASCII control and
    * zero-width characters, collapse whitespace runs to single spaces,
    * trim. The canonical first pass of every published curation
    * pipeline (C4/RefinedWeb/Dolma all normalize before filtering).
    * Regex classes are spelled as explicit codepoint ranges — identical
    * semantics in Java regex and RE2, like the F11 rule. Pure per-row
    * projection: no shuffle, no UDF (one native kernel + codegen'd
    * regexp_replace chain). */
  val ControlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}-\\x{200D}\\x{FEFF}]"
  val WsRunRe = "[\\s]+"

  def normalizeTextOf(docs: DataFrame): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(
        call_function("graft_nfc", col("text")),
        ControlRe, ""),
      WsRunRe, " "))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_raw"),
      length(cleaned).cast("long").as("n_chars_clean"),
      cleaned.as("text"))
  }

  /** The driver-gated F12 query over the documents table. */
  def normalizeText(t: Tables): DataFrame = normalizeTextOf(docsSorted(t))

  /** F13 — SEQUENCE PACKING for training batches: assign documents to
    * fixed-token-budget bins by the greedy concat-order rule (a doc
    * lands in the bin where the running token total BEFORE it falls) —
    * the deterministic shard-local approximation of GPT-style example
    * packing. Packing is PER SOURCE: real pipelines pack within a
    * shard/domain, which is also what makes this scale — the window
    * partitions by source (one exchange on the source key), never a
    * global single-partition sort. Output: one row per (source, bin)
    * with its doc span, doc count, and token total; every bin except a
    * source's last holds >= budget tokens by construction (the
    * straddling doc closes it), and re-running at any partitioning
    * yields the identical packing because the order key (doc_id) is
    * total. */
  def packSequencesOf(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = size(call_function("regexp_extract_all", col("text"),
      lit("\\S+"), lit(0))).cast("long")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"), toks.as("n_tokens"))
      .withColumn("cum_after", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        graft.functions.intDiv(col("cum_after") - col("n_tokens"), budget))
      .groupBy("source", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        sum("n_tokens").as("n_tokens"))
      .orderBy("source", "bin")
  }

  /** C10d — approximate TOP-K TERMS via the Misra–Gries frequent-items
    * sketch ([[graft.plans.TopKFreq]]): global heavy hitters over the
    * corpus's token stream WITHOUT shuffling the distinct-term space —
    * each task folds its partition into a bounded (term, count) map and
    * only those capacity-bounded partials cross the exchange (the HLL/
    * KLL discipline applied to frequencies). At capacity >= |vocabulary|
    * the sketch IS the exact count table, which is the regime the
    * driver oracle gates (capacity 1024 vs the 31-term corpus); the
    * N/capacity error bound in the saturated regime is spec-covered on
    * planted skew. Ties: (count desc, term asc), both engines. */
  def approxTopTerms(t: Tables, k: Int = 20, capacity: Int = 1024): DataFrame = {
    t.documents
      .select(explode(words(col("text"))).as("term"))
      .agg(call_function("graft_topk_freq", col("term"), lit(capacity)).as("s"))
      .select(posexplode(col("s")).as(Seq("i", "e")))
      .select((col("i") + 1).cast("long").as("rank"),
        col("e.term").as("term"), col("e.cnt").as("cnt"))
      .filter(col("rank") <= k)
      .orderBy("rank")
  }

  /** C10e — COUNT-MIN SKETCH point-frequency estimates (Cormode &
    * Muthukrishnan 2005), completing the sketch family: HLL answers
    * "how many distinct", KLL "what quantile", Misra–Gries "which are
    * frequent", CMS "how often is THIS one" — without ever shuffling
    * the distinct-term space. The sketch is built IN THE PLAN: each
    * token hashes once (graft_hash_str) and derives d seeded buckets
    * (graft_mix64(h ^ i) mod w); the (row, bucket) groupBy has only
    * d×w distinct keys, so map-side combine collapses every partition
    * to ≤ d×w partial rows — the HLL/KLL discipline applied to
    * frequencies, with the sketch living as a TABLE instead of a
    * binary blob (so probing is a relational join, not a UDF).
    *
    * Probes are a pinned driver-side term list; their buckets come
    * from the SAME scalar kernels (Hashing.hashString / mix64), so
    * operator and sketch provably agree. Estimate = min over the d
    * rows; CMS guarantees est ≥ true count, and est ≤ true + εN with
    * high probability (ε = e/w). w stays a power of two so the bucket
    * arithmetic (pmod of a signed long) coincides with the oracle's
    * unsigned modulo — the shuffle-shards divisibility rule.
    *
    * Scale shape at 100 TB: one token-explode corpus pass into a
    * 256-key agg (exchange carries tasks × d×w rows), then a
    * probe-sized join — the sketch table itself is O(d·w) independent
    * of corpus size, and widening w trades memory for ε with no plan
    * change. */
  def approxCountsCmsOf(docs: DataFrame, d: Int = 4, w: Int = 64,
      probes: Seq[String] = StopWords): DataFrame = {
    require((w & (w - 1)) == 0, s"w=$w must be a power of two (pmod ≡ unsigned mod)")
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = (0 until d).map { i =>
      pmod(call_function("graft_mix64",
        col("h").bitwiseXOR(lit(i.toLong))), lit(w.toLong))
    }
    val sketch = docs
      .select(explode(words(col("text"))).as("term"))
      .select(call_function("graft_hash_str", col("term")).as("h"))
      .select(posexplode(array(buckets: _*)).as(Seq("row_i", "bucket")))
      .groupBy("row_i", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val probeRows = probes.flatMap { term =>
      val h = graft.functions.Hashing.hashString(term)
      (0 until d).map { i =>
        (term, i, java.lang.Math.floorMod(
          graft.functions.Hashing.mix64(h ^ i.toLong), w.toLong))
      }
    }.toDF("term", "row_i", "bucket")
    // the sketch is O(d·w) regardless of corpus size → broadcast it
    // into the probe-sized left join (a right-join probe broadcast is
    // unsupported: the build side must be the non-preserved side); a
    // missing sketch cell means no token hashed there → estimate 0
    probeRows.join(broadcast(sketch), Seq("row_i", "bucket"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .orderBy("term")
  }

  /** The featurizer's (tf, feature map) stage shared by
    * [[embedDocsLong]] and the F32 hybrid query-vector builder: tf =
    * (doc_id, h, tf) with hashes computed at the scan; feat =
    * (h, j, sign, idf_u), the corpus's vocab-sized hashing/idf model —
    * ONE definition so a query vector and the corpus vectors provably
    * share the same feature space. */
  private def embedFeatParts(docs: DataFrame, dim: Int): (DataFrame, DataFrame) = {
    // LAZY localCheckpoint (the D8 rule): df derives from tf, so
    // without it the scan+tokenize+hash+agg would run twice per action
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .select(col("doc_id"), call_function("graft_hash_str", col("word")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("h").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val m = call_function("graft_mix64", col("h"))
    // feature index from the low mix bits, sign from bit 6 (disjoint),
    // idf ln'd once per distinct hash and quantized to micro-nats
    val feat = dfreq.crossJoin(broadcast(nDocs))
      .select(col("h"),
        m.bitwiseAND(lit((dim - 1).toLong)).as("j"),
        (lit(1L) - lit(2L)
          * shiftrightunsigned(m, 6).bitwiseAND(lit(1L))).as("sign"),
        round(log(col("n_docs").cast("double") / col("df").cast("double"))
          * 1e6).cast("long").as("idf_u"))
    (tf, feat)
  }

  /** F29 — deterministic TEXT→VECTOR featurizer (round 13): hashed
    * n-gram TF-IDF projection of each document onto a fixed `dim`-dim
    * vector — feature hashing (Weinberger et al. 2009) with a sign
    * hash, idf-weighted. With it the E family (ANN, dedup-by-cosine,
    * kNN labeling) runs END TO END from raw text: no external
    * embedding model, bit-reproducible across runs, partitionings, and
    * engines — the F8/F18 determinism property extended to vectors.
    *
    * Exactness: tf and df are exact int64; the idf is the F19
    * discipline applied once per DISTINCT word hash (ln quantized to
    * integer micro-nats), so every vector component is an exact int64
    * sum sign·tf·idf_u; the unit-normalized view divides by a sqrt of
    * the exact decimal(38,0) norm² (int64 would wrap on component
    * squares at crawl scale — the B25 rule) in one correctly-rounded
    * double sequence.
    *
    * Scale shape: tokens hash AT THE SCAN (graft_hash_str — 8 B
    * crosses, never the word); one (doc_id, h) partial agg for tf, a
    * vocab-sized agg for df, the feature map is a vocab-sized derived
    * table AQE-broadcast back onto tf; components partial-agg on
    * (doc_id, j ≤ dim). Text never enters an exchange, and the
    * whole pass is two narrow shuffles however big the corpus. `docs`
    * is any (doc_id, text) frame; the result is the long form, one
    * (doc_id, j, v, unit4) row per nonzero component — the
    * oracle-checked shape. */
  def embedDocsLong(docs: DataFrame, dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"dim=$dim must be a power of two (bitmask ≡ unsigned mod)")
    // LAZY localCheckpoint (the D8 rule): df derives from tf, so
    // without it the scan+tokenize+hash+agg would run twice per action
    val (tf, feat) = embedFeatParts(docs, dim)
    val comps = compsOf(tf, feat)
    val wDoc = Window.partitionBy("doc_id")
    comps
      .withColumn("n2", sum(col("v").cast("decimal(38,0)")
        * col("v").cast("decimal(38,0)")).over(wDoc))
      .select(col("doc_id"), col("j"), col("v"),
        round(col("v").cast("double") / sqrt(col("n2").cast("double")), 4)
          .as("unit4"))
      .orderBy("doc_id", "j")
  }

  /** Dense composable form: (vec_id, embedding array<double>) — the
    * frame every E-family operator consumes
    * ([[graft.operators.Dedup.embeddingPairsLshOf]],
    * [[graft.operators.Similarity]] external-query forms). Components
    * are the exact integer sums as doubles (cosine is
    * scale-invariant, so consumers' own normalization suffices);
    * assembly is row-local (map + dense transform), no extra
    * exchange beyond the long form's. */
  def embedDocsVectors(docs: DataFrame, dim: Int): DataFrame =
    denseOf(embedDocsLong(docs, dim), dim)

  /** Exact integer component sums per (doc, feature) — the shared core
    * of the long form and the F32 hybrid's semantic arm. */
  private def compsOf(tf: DataFrame, feat: DataFrame): DataFrame =
    tf.join(feat, "h")
      .groupBy("doc_id", "j")
      .agg(sum(col("sign") * col("tf") * col("idf_u")).as("v"))
      .filter(col("v") =!= 0L)

  /** Row-local densification of a (doc_id, j, v) component frame. */
  private def denseOf(comps: DataFrame, dim: Int): DataFrame =
    comps
      .groupBy(col("doc_id").as("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("j").cast("int"),
        col("v").cast("double")))).as("mp"))
      .select(col("vec_id"), expr(
        s"transform(sequence(0, ${dim - 1}), i -> coalesce(element_at(mp, i), cast(0.0 as double)))")
        .as("embedding"))

  /** F29 ∘ E1 — SEMANTIC SEARCH over raw text end to end: featurize
    * the corpus, then exact-cosine top-k of every doc_id % `every`
    * query document against the rest — the full text → vector →
    * retrieve pipeline as ONE oracle-gated query (no external model,
    * no pre-built embeddings table). The search stage is exactly E1's
    * broadcast-queries shape (queries broadcast, corpus streams, zero
    * corpus shuffle beyond the featurizer's own aggs), so every E-tier
    * (LSH/IVF/PQ via their *Of forms) composes over the same vectors
    * at deploy scale. Components are exact int64-valued doubles, the
    * cosine is the bit-stable graft_dot fold — hash-exact.
    *
    * The query set is PINNED to a fixed cardinality (`maxQId` caps the
    * qualifying ids — round-13 verdict: `% every` alone grows the query
    * set WITH the corpus, making the exact stage quadratic-in-SF by
    * construction; a deployment's query batch does not scale with its
    * archive). With the cap the benched stage is queries × corpus —
    * linear in data at fixed batch size, like every E-family oracle
    * tier. */
  def embedSearchTopK(t: Tables, dim: Int = 64, k: Int = 5,
      every: Long = 50L, maxQId: Long = 500L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = graft.operators.Similarity.withNorm(
      embedDocsVectors(t.documents, dim))
    val q = vecs.filter(pmod(col("vec_id"), lit(every)) === 0L &&
      col("vec_id") < maxQId)
      .select(col("vec_id").as("q_id"), col("v").as("v_q"),
        col("norm").as("norm_q"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"),
      col("norm").as("norm_n"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", call_function("graft_dot", col("v_q"), col("v_n"))
        / (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
  }

  /** F32 — HYBRID RETRIEVAL via Reciprocal Rank Fusion (round 14;
    * Cormack, Clarke & Buettcher 2009 — the fusion every production
    * RAG/search stack runs over its lexical and semantic rankers):
    * fuse the F22 BM25 top-n and the F29-featurized embedding top-n
    * for the SAME query into one ranking by
    * rrf_u(doc) = Σ_lists ⌊10⁶ / (k_rrf + rank)⌋ — exact integer floor
    * divisions, so fusion carries no float at all; docs absent from a
    * list contribute 0 from it. The semantic query vector is built IN
    * THE CORPUS'S OWN FEATURE SPACE ([[embedFeatParts]]' (h, j, sign,
    * idf_u) map probed at the query-term hashes, tf = 1 — the
    * "more-like-this" form; a term absent from the corpus contributes
    * nothing, identically on both engines) and is DRIVER-SIDE literal
    * state (≤ dim doubles — the IVF-centroid class), so the semantic
    * scan is one corpus pass scored by the bit-stable graft_dot fold
    * against a constant; ranking uses dot/√norm_v (the query norm is a
    * positive constant — dividing by it cannot reorder), top-n via
    * TakeOrdered, never a corpus window.
    *
    * Scale shape: the BM25 arm is F22's one-exchange shape (deploy
    * swaps in the F22b inverted index); the semantic arm is the
    * featurizer's two vocab-keyed shuffles + a projection scan (deploy
    * swaps in the E5 prefit index over the same vectors); fusion is a
    * 2n-row full-outer join. Output exposes ranks and integer rrf
    * only — no float column crosses the gate. `docs` is any (doc_id,
    * text) frame. */
  def hybridSearchTopKOf(docs: DataFrame, queryTerms: Seq[String],
      dim: Int, n: Int, k: Int, kRrf: Long): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct)
    // lexical arm: the F22 ranked list to depth n
    val lex = bm25TopKOf(docs, queryTerms, n)
      .select(col("doc_id"), col("rnk").as("rnk_bm25"))
    // semantic arm: query vector = the corpus feature map probed at the
    // query-term hashes (tf = 1) — model-sized driver state. The SAME
    // (tf, feat) instance feeds the corpus vectors: tf's lazy
    // localCheckpoint materializes once under the qFeat collect and the
    // vector build reuses it (one corpus tokenization for the whole
    // semantic arm, not two)
    val (tf, feat) = embedFeatParts(docs, dim)
    val qArr = hybridQueryVector(feat, queryTerms, dim)
    val vecs = graft.operators.Similarity.withNorm(
      denseOf(compsOf(tf, feat), dim))
    // dot and norm through the same sequential folds as every E-family
    // cosine; the query norm is a constant positive factor and is
    // deliberately NOT divided out — fewer float ops, same order
    val sem = hybridSemTopN(vecs
      .select(col("vec_id").as("doc_id"),
        (call_function("graft_dot", col("v"), typedLit(qArr.toSeq))
          / sqrt(col("norm"))).as("score")), n)
    rrfFuse(lex, sem, k, kRrf)
  }

  /** F32 query-vector builder shared by the oracle tier and the
    * index tier: the feature map — live ([[embedFeatParts]]) or the
    * artifact's persisted copy — probed at the query-term hashes,
    * tf = 1. Components are ±idf_u int64 values accumulated in Double
    * (< 2^53, so the float sum is exact and collect-order-independent):
    * both tiers provably build the SAME vector. */
  private def hybridQueryVector(feat: DataFrame, queryTerms: Seq[String],
      dim: Int): Array[Double] = {
    val qHashes = queryTerms.map(graft.functions.Hashing.hashString)
    val qFeat = feat.filter(col("h").isin(qHashes: _*))
      .select(col("j"), col("sign") * col("idf_u")).collect()
    val qArr = new Array[Double](dim)
    qFeat.foreach(r => qArr(r.getLong(0).toInt) += r.getLong(1).toDouble)
    qArr
  }

  /** F32 semantic-rank stage shared by both tiers: top-n of any
    * (doc_id, score) frame by (score desc, doc_id), ranks assigned over
    * the n survivors only — never a corpus-wide window. */
  private def hybridSemTopN(scored: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("score").desc, col("doc_id")).limit(n)
      .withColumn("rnk_embed",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("rnk_embed"))
  }

  /** F32 fusion stage shared VERBATIM by the oracle tier and the index
    * tier: exact integer reciprocal ranks ⌊10⁶/(k_rrf + rank)⌋, a doc
    * absent from a list contributes 0 from it, final top-k by
    * (rrf_u desc, doc_id). No float crosses this stage. */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int,
      kRrf: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def rr(c: org.apache.spark.sql.Column) =
      coalesce(call_function("div", lit(1000000L), lit(kRrf) + c), lit(0L))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_u", rr(col("rnk_bm25")) + rr(col("rnk_embed")))
    fused
      .orderBy(col("rrf_u").desc, col("doc_id")).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("rrf_u").desc, col("doc_id")))
          .cast("long"))
      .select(col("rnk"), col("doc_id"), col("rrf_u"),
        col("rnk_bm25"), col("rnk_embed"))
      .orderBy("rnk")
  }

  /** The F32 semantic arm's DEPLOY artifact (round 15 — the round-14
    * verdict's #1 item): persists, once per source generation, everything
    * the semantic arm needs so a query never touches the corpus:
    *
    *   - `featmap/` — the corpus's (h, j, sign, idf_u) hashing/idf
    *     model (vocab-sized; the query-vector builder probes it with a
    *     pushed-down hash predicate),
    *   - `vectors_raw/` — (vec_id, v, norm), the featurized doc
    *     vectors WITH their exact norms (the E5 artifact stores unit
    *     vectors; the raw copy lets the deploy arm re-score candidates
    *     with the oracle tier's bit-identical dot/√norm arithmetic),
    *   - `vec_index/` — the E5 IVF+PQ artifact fit on those vectors
    *     ([[VectorIndex.fit]]), whose exact tier partition-prunes
    *     candidate generation to the probed cells.
    *
    * ONE featurizer pass feeds all three tables (shared (tf, feat)).
    * The documents table is read here, at BUILD time, and never again
    * by [[hybridSearchIndexed]]. */
  def materializeHybridSemantic(t: Tables, sfDir: String,
      dim: Int = 64): String = {
    val spark = t.documents.sparkSession
    Fixtures.once(spark, s"hybrid_sem_v1_d$dim", sfDir) { out =>
      val (tf, feat) = embedFeatParts(t.documents, dim)
      feat.write.mode("overwrite").parquet(s"$out/featmap")
      val vecs = denseOf(compsOf(tf, feat), dim).localCheckpoint()
      graft.operators.Similarity.withNorm(vecs)
        .write.mode("overwrite").parquet(s"$out/vectors_raw")
      VectorIndex.fit(vecs, s"$out/vec_index")
    }
  }

  /** F32b — HYBRID RETRIEVAL from PERSISTED INDEXES (round 15; the
    * deployment shape of [[hybridSearchTopKOf]]): the lexical arm is
    * served from the F22b inverted index ([[SearchIndex.search]] —
    * postings pruned to the query terms' buckets, `bm25Rank` verbatim,
    * so its ranked list is hash-identical to the inline arm's), the
    * semantic arm from the [[materializeHybridSemantic]] artifact, and
    * the two fuse through the SAME [[rrfFuse]] stage as the oracle
    * tier. ZERO corpus scans and ZERO fit jobs anywhere in the query
    * (spec-pinned): the only data-sized reads are the pruned postings
    * buckets, the partition-pruned index cells, and a candidate-sized
    * slice of `vectors_raw`.
    *
    * Semantic-arm equality: candidate generation is the E5 exact tier
    * at nprobe = kCells (all cells probed ⇒ the artifact's exact global
    * top-(n+cushion) by unit-space cosine); candidates then re-score
    * through the oracle tier's bit-identical dot/√norm fold over
    * `vectors_raw` and re-rank with the shared [[hybridSemTopN]].
    * Unit-space cosine and raw dot/√norm order identically up to float
    * rounding of the constant-factor rescale (|q| and the unit
    * normalization), so the two top-n sets can differ only where docs
    * sit within one ulp of each other ACROSS the n boundary — the
    * `cushion` extra candidates absorb any such boundary swap, and
    * within the pool the final order is the oracle arithmetic itself.
    * Smaller `nprobe` buys latency with the usual priced IVF recall
    * trade, exactly as in every E-family deploy tier. */
  def hybridSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      lexDir: String, semDir: String, queryTerms: Seq[String],
      dim: Int = 64, n: Int = 20, k: Int = 10, kRrf: Long = 60L,
      nprobe: Int = 8, cushion: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct)
    // lexical arm: zero-rescan BM25 from the inverted index
    val lex = SearchIndex.search(spark, lexDir, queryTerms, n)
      .select(col("doc_id"), col("rnk").as("rnk_bm25"))
    // query vector from the artifact's persisted feature map — a
    // model-sized pruned read, never a corpus tokenization
    val qArr = hybridQueryVector(
      spark.read.parquet(s"$semDir/featmap"), queryTerms, dim)
    // candidate generation: E5 exact tier over the artifact's
    // cell-partitioned unit vectors (vec_id -1 can never collide with a
    // doc_id, so the self-exclusion predicate is vacuous here)
    import spark.implicits._
    val q = graft.operators.Similarity.withNorm(
      Seq((-1L, qArr.toSeq)).toDF("vec_id", "embedding"))
    val hits = VectorIndex.searchIvfTopK(q, s"$semDir/vec_index",
      k = n + cushion, nprobe = nprobe).select(col("n_id"))
    // re-score the candidate pool with the oracle tier's arithmetic
    val cands = spark.read.parquet(s"$semDir/vectors_raw")
      .join(broadcast(hits), col("vec_id") === col("n_id"))
    val sem = hybridSemTopN(cands
      .select(col("vec_id").as("doc_id"),
        (call_function("graft_dot", col("v"), typedLit(qArr.toSeq))
          / sqrt(col("norm"))).as("score")), n)
    rrfFuse(lex, sem, k, kRrf)
  }

  /** F11 regexes — kept to syntax with IDENTICAL semantics in Java's
    * regex engine (Spark) and RE2 (the DuckDB oracle): character
    * classes, bounded counts, and ASCII `\b` only — no lookaround, no
    * backreferences (RE2 has neither). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** F11 — PII REDACTION: mask emails, intl-format phone numbers, and
    * IPv4 addresses with typed placeholders and count each per
    * document — the compliance pass every published LLM training
    * pipeline runs (C4, RefinedWeb, Dolma all strip or mask PII).
    * Counts come from the ORIGINAL text (each type independently);
    * masking applies email -> phone -> ipv4 on the running result.
    *
    * Scale shape: pure per-row regex projection — no shuffle, no UDF
    * (regexp_replace/regexp_extract_all are codegen'd builtins), so the
    * pass rides the corpus scan at 100 TB like F1. */
  def redactPiiOf(docs: DataFrame): DataFrame = {
    val raw = col("text")
    val masked =
      regexp_replace(
        regexp_replace(
          regexp_replace(raw, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>")
    def n(re: String): Column =
      size(call_function("regexp_extract_all", raw, lit(re), lit(0))).cast("long")
    docs.select(
      col("doc_id"),
      n(EmailRe).as("n_emails"),
      n(PhoneRe).as("n_phones"),
      n(Ipv4Re).as("n_ips"),
      masked.as("redacted"))
  }

  /** The driver-gated F11 query: the synthetic corpus carries no PII,
    * so the query PLANTS a deterministic contact line per document
    * (derived from doc_id — the DuckDB twin regenerates it exactly)
    * before redacting; the assertion is then non-vacuous on every row. */
  def piiRedact(t: Tables): DataFrame = {
    val planted = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000L).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 250L).cast("string"), lit(".0.1"))
    redactPiiOf(docsSorted(t).select(col("doc_id"), planted.as("text")))
  }

  /** F10 — repetition quality signals (the Gopher repetition filters,
    * Rae et al. 2021 Table A1, as applied by RefinedWeb/Dolma): per
    * document, the duplicate-block fraction (the duplicate-LINE
    * fraction, on this corpus's 8-word-block paragraph surrogate — see
    * [[Dedup.wordBlockParas]]), the fraction of characters in those
    * duplicate blocks, the character fraction of the single most
    * frequent word 2-gram, and the character fraction of duplicated
    * word 5-grams. Pipelines drop documents above thresholds on these
    * (e.g. dup-line > 0.3, top-2-gram > 0.2).
    *
    * Scale shape: ONE native codegen kernel call per row
    * ([[graft.plans.RepStatsKernel]]) — all counting is per-document,
    * so the whole pass is a shuffle-free projection over the corpus
    * scan; at 100 TB it parallelizes embarrassingly and the only sort
    * is the output presentation order. Fractions are single double
    * divisions of the kernel's exact integer counters (the cross-engine
    * determinism rule), rounded to 4 decimals like every ratio gate. */
  def repetitionSignals(t: Tables, blockN: Int = 8): DataFrame =
    repetitionSignalsOf(docsSorted(t), blockN)

  /** The same signals over any (doc_id, text) frame; no output sort. */
  def repetitionSignalsOf(docs: DataFrame, blockN: Int = 8): DataFrame = {
    val st = call_function("graft_rep_stats", split(col("text"), " "), lit(blockN))
    val nChars = length(col("text")).cast("long")
    def frac(num: Column, den: Column): Column =
      round(when(den === 0L, lit(0.0)).otherwise(num.cast("double") / den), 4)
    docs
      .withColumn("st", st)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        element_at(col("st"), 1).as("n_blocks"),
        element_at(col("st"), 2).as("n_dup_blocks"),
        frac(element_at(col("st"), 2), element_at(col("st"), 1))
          .as("dup_block_frac"),
        frac(element_at(col("st"), 3), element_at(col("st"), 4))
          .as("dup_block_char_frac"),
        frac(element_at(col("st"), 5) * element_at(col("st"), 6), nChars)
          .as("top2_frac"),
        frac(element_at(col("st"), 7), nChars).as("dup5_frac"))
  }

  /** The F1/F16 stopword-ratio score as a reusable column — batch gate,
    * approx scale twin, and streaming twin all share this builder, so
    * they provably score identically. */
  private[graft] def stopRatioCol: Column = {
    val toks = words(col("text"))
    val nWords = size(toks).cast("long")
    val nStop = size(filter(toks, tk => tk.isin(StopWords: _*))).cast("long")
    when(nWords === 0L, lit(0.0)).otherwise(nStop.cast("double") / nWords)
  }

  /** F16 — per-source QUALITY-PERCENTILE gating: keep each source's
    * upper half by stopword ratio — the CCNet discipline (quality
    * thresholds are judged WITHIN a domain: a legal corpus and a chat
    * corpus have incomparable absolute scores, so the cut point is a
    * per-source rank statistic, not a global constant). The threshold
    * is the exact per-source median selected by RANK (the C10 rule:
    * value at row floor((n-1)/2)+1 in (score, doc_id) order — no
    * interpolation, so the cut is a value that exists in the data and
    * replays bit-identically in the oracle); docs tied WITH the median
    * value are kept (the filter is on value, not rank).
    *
    * Scale shape: one corpus scan computes the score, then ONE hash
    * exchange on source feeds BOTH window passes — the ordered rank and
    * the global-frame n/threshold spread share the same partitioning,
    * so Spark plans a single shuffle (the lag_monitor pattern); no
    * second corpus pass, no threshold join. `docs` is any (doc_id,
    * source, text) frame. */
  def qualityGateOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(col("doc_id"), col("source"),
      stopRatioCol.as("stop_ratio"))
    val wAll = Window.partitionBy("source")
    val wOrd = Window.partitionBy("source").orderBy(col("stop_ratio"), col("doc_id"))
    q.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("target", floor((col("n") - 1) * 0.5) + 1)
      .withColumn("p50_thr",
        max(when(col("rn") === col("target"), col("stop_ratio"))).over(wAll))
      .filter(col("stop_ratio") >= col("p50_thr"))
      .select(col("source"), col("doc_id"), col("stop_ratio"), col("p50_thr"))
      .orderBy("source", "doc_id")
  }

  /** F16b — quality gating SCALE path: the per-source threshold from a
    * mergeable quantile sketch (percentile_approx) instead of the exact
    * rank window — one partial+final aggregation, so source cardinality
    * never bounds parallelism and no per-source sort of the corpus ever
    * runs (the exact [[qualityGateOf]] sorts each source's full history
    * in one task: correct as a small-SF oracle, fatal at 100 TB — the
    * C10/C10c pairing applied to gating). The sketch threshold is then
    * a source-count-sized broadcast joined back onto a second scoring
    * pass. Rows-only driver check; the spec bounds the kept-set
    * disagreement vs the exact gate to docs NEAR the cut. Takes any
    * (doc_id, source, text) frame — the deploy shape: gate on the SKETCH
    * threshold. */
  def qualityGateApproxOf(docs: DataFrame, accuracy: Int = 10000): DataFrame = {
    val q = docs.select(col("doc_id"), col("source"),
      stopRatioCol.as("stop_ratio"))
    val thr = q.groupBy("source")
      .agg(percentile_approx(col("stop_ratio"), lit(0.5), lit(accuracy))
        .as("p50_thr"))
    q.join(broadcast(thr), "source")
      .filter(col("stop_ratio") >= col("p50_thr"))
      .select(col("source"), col("doc_id"), col("stop_ratio"), col("p50_thr"))
      .orderBy("source", "doc_id")
  }

  /** The driver-checked form (the C10c pattern): hash-exact companion
    * rows from the EXACT gate plus a `within_bound` boolean asserting
    * the sketch threshold's rank sits within ±2% of the median — the
    * oracle emits TRUE, so a sketch drifting out of its contract fails
    * the hash gate loudly. */
  def qualityGateApproxChecked(t: Tables, accuracy: Int = 10000): DataFrame = {
    val q = t.documents.select(col("doc_id"), col("source"),
      stopRatioCol.as("stop_ratio"))
    val est = q.groupBy("source")
      .agg(percentile_approx(col("stop_ratio"), lit(0.5), lit(accuracy))
        .as("est_thr"))
    val within = q.join(broadcast(est), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("stop_ratio") < col("est_thr"), 1L).otherwise(0L)).as("n_lt"),
        sum(when(col("stop_ratio") <= col("est_thr"), 1L).otherwise(0L)).as("n_le"))
      .select(col("source"),
        (col("n_lt") * 100L <= col("n") * 52L &&
          col("n_le") * 100L >= col("n") * 48L).as("within_bound"))
    qualityGateOf(t.documents).join(broadcast(within), "source")
      .select(col("source"), col("doc_id"), col("stop_ratio"), col("p50_thr"),
        col("within_bound"))
      .orderBy("source", "doc_id")
  }

  /** F15 — per-source TOKEN-BUDGET capping: the Dolma/Pile-style domain
    * mixing primitive — each source gets a token budget, and the mix
    * takes documents in a deterministic pseudo-random priority order
    * (graft_mix64(doc_id), doc_id tie-break — no RNG state, so the mix
    * is identical across runs, cluster sizes, and input partitionings)
    * until the budget is exhausted: a doc is kept iff the running token
    * total INCLUDING it stays within the source's budget. Where F8
    * fixes a keep RATE and F9 a SIZE, this fixes the unit that actually
    * prices a pre-training mixture: TOKENS per domain.
    *
    * Scale shape: one corpus scan computes the whitespace token count
    * per row (codegen'd regex, no UDF), then ONE hash exchange on
    * source + a per-source sort feeds the running-sum window — the F13
    * packing topology. Sources is a mixture config (tens to hundreds of
    * domains), so the window's key cardinality bounds per-task work at
    * corpus/|sources|; a pathological single-domain corpus degrades to
    * one sorted task, which is the correct semantics for a sequential
    * budget and the config's problem to avoid. `docs` is any (doc_id,
    * source, text) frame. */
  def mixTokenBudgetOf(docs: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = size(call_function("regexp_extract_all",
      col("text"), lit("\\S+"), lit(0))).cast("long")
    // budget as a when-chain on source (the F8 discipline: config is
    // expression-inlined, never a join)
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (src, b)) => when(col("source") === src, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      .withColumn("h", call_function("graft_mix64", col("doc_id")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy("source", "doc_id")
  }

  /** F18 — deterministic TRAIN/VALID/TEST split assignment: every
    * published pipeline's final step before packing. The split is a
    * pure function of doc_id — bucket = mix64(doc_id) mod 2^20 against
    * integer thresholds — so it is reproducible across runs, cluster
    * sizes, and partitionings, and STABLE UNDER GROWTH: ingesting more
    * data never reassigns an existing document's split (the property
    * that keeps eval sets honest across corpus versions; a
    * row_number()-based split silently reshuffles everything on every
    * append). The bucket space is a power of two so Spark's signed
    * pmod coincides with the oracle's unsigned modulo (the
    * shuffle-shards divisibility rule), and the thresholds are exact
    * integer floor((2^20·pct)/100) — no doubles anywhere.
    *
    * Scale shape: one pure projection riding a 2-column scan — no
    * shuffle, no state; at 100 TB the split is free. */
  def splitAssignCore(docs: DataFrame, trainPct: Int = 98,
      validPct: Int = 1): DataFrame = {
    require(trainPct > 0 && validPct > 0 && trainPct + validPct < 100,
      s"split pcts must leave room for test: train=$trainPct valid=$validPct")
    val buckets = 1L << 20
    val t1 = buckets * trainPct / 100L
    val t2 = buckets * (trainPct + validPct) / 100L
    docs
      .select(col("doc_id"), col("source"))
      .withColumn("bucket",
        pmod(call_function("graft_mix64", col("doc_id")), lit(buckets)))
      .withColumn("split",
        when(col("bucket") < t1, "train")
          .when(col("bucket") < t2, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("source"), col("split"))
  }

  def splitAssign(t: Tables): DataFrame =
    splitAssignCore(t.documents).orderBy("doc_id")

  /** F24 — LEAKAGE-SAFE train/valid/test split: assign the split by
    * NEAR-DUP CLUSTER, not by document. F18's per-doc hash split puts
    * two near-duplicate documents in different splits with probability
    * 2·p_test — at web-corpus dup rates that quietly leaks a large
    * slice of the eval set into training (the Lee et al. 2022 finding:
    * deduplicated-eval perplexity moves once train/test near-dups are
    * removed). Keying F18's identical bucket arithmetic on the D6
    * cluster label instead means every member of a near-dup cluster
    * lands in the same split by construction; singleton documents keep
    * their F18 assignment EXACTLY (their cluster label IS their
    * doc_id), so adopting cluster-splitting only moves documents that
    * had a leakage risk.
    *
    * Scale shape: the labels come from the D6b LSH cluster tier
    * ([[Dedup.clusterDocsLsh]] — banded candidates verified at exact
    * Jaccard, never all-pairs; the form that runs at 100 TB), and the
    * split itself is the F18 projection on the label — no extra
    * shuffle beyond the clustering that a dedup pipeline already ran,
    * and the assignment is a pure function of the label (reproducible
    * across runs, stable under corpus growth as long as the cluster's
    * minimum member persists). The exact O(n²) tier stays reachable
    * through [[splitByClusterOf]] over [[Dedup.dedupClusters]];
    * TextOpsSpec pins the two tiers label-identical at the spec SF
    * (where LSH recall on true j≥0.95 pairs is 1). */
  def splitByCluster(t: Tables, trainPct: Int = 98, validPct: Int = 1,
      maxIters: Int = 50): DataFrame =
    splitByClusterOf(Dedup.clusterDocsLsh(t.documents, maxIters = maxIters),
      trainPct, validPct)

  /** Library form over any (doc_id, cluster_id) labeling. */
  def splitByClusterOf(clusters: DataFrame, trainPct: Int = 98,
      validPct: Int = 1): DataFrame = {
    require(trainPct > 0 && validPct > 0 && trainPct + validPct < 100,
      s"split pcts must leave room for test: train=$trainPct valid=$validPct")
    val buckets = 1L << 20
    val t1 = buckets * trainPct / 100L
    val t2 = buckets * (trainPct + validPct) / 100L
    clusters
      .withColumn("bucket",
        pmod(call_function("graft_mix64", col("cluster_id")), lit(buckets)))
      .withColumn("split",
        when(col("bucket") < t1, "train")
          .when(col("bucket") < t2, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  /** F14 — deterministic GLOBAL SHUFFLE + SHARDING: the last step of
    * every training-data pipeline — break correlation between adjacent
    * source documents by scattering the corpus pseudo-randomly across a
    * fixed number of output shards, with a total per-shard order, so a
    * training job streams the shards and sees a reproducible global
    * permutation. The permutation key is graft_mix64(doc_id): no RNG
    * state, so the layout is identical across runs, cluster sizes, and
    * input partitionings (the F8/F9 discipline applied to ordering).
    *
    * Scale shape: ONE hash exchange on the shard id + a per-shard sort
    * — exactly the write topology (each shard = one writer task's
    * sorted run; at 100 TB, nShards is sized to the target output file
    * count). There is NO global single-partition sort: the window
    * partitions by shard. nShards must be a power of two — that is
    * what makes Spark's signed pmod and the oracle's unsigned modulo
    * the same function (2^64 ≡ 0 mod 2^k), and binary shard counts
    * are the natural re-sharding unit anyway. `docs` is any (doc_id,
    * source) frame. */
  def shuffleShardsOf(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0 && (nShards & (nShards - 1)) == 0,
      s"nShards must be a power of two, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"))
      .withColumn("h", call_function("graft_mix64", col("doc_id")))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("seq", row_number().over(w).cast("long"))
      .select(col("shard"), col("seq"), col("doc_id"), col("source"))
      .orderBy("shard", "seq")
  }

  /** F19 — unigram LANGUAGE-MODEL quality score: per-document average
    * negative log-likelihood under the corpus's own unigram model — the
    * CCNet/KenLM perplexity filter in its distributed, self-trained
    * form (docs full of rare/garbled tokens score high; fluent docs
    * built from common words score low).
    *
    * Bit-stability (SURVEY §4): the only non-correctly-rounded float op
    * is ln, so it is taken ONCE PER DISTINCT WORD and immediately
    * quantized to integer micro-nats (round(-ln(p)·1e6) — a 1-ulp ln
    * disagreement survives only if that product sits within ~1e-10 of a
    * rounding boundary, per distinct word, and then fails the hash gate
    * loudly). Everything per-document is exact int64 — token count and
    * summed micro-nat cost — and the average is a fixed two-division
    * sequence rounded once to 4dp.
    *
    * Scale shape: one corpus tokenization feeding a partial-aggregated
    * vocab count (the exchange carries (word, count), vocab-sized); the
    * total is a 1-row broadcast (C20); the per-doc pass re-joins tokens
    * to costs on the word key — vocab is corpus-vocab-sized, so AQE
    * broadcasts it at any realistic SF — and reduces through another
    * partial agg. The corpus text itself never crosses an exchange.
    * `docs` is any (doc_id, text) frame. */
  def lmQualityOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("n_w"))
    val total = vocab.agg(sum(col("n_w")).as("n_total"))
    val costs = vocab.crossJoin(broadcast(total))
      .select(col("word"),
        round(-log(col("n_w").cast("double") / col("n_total").cast("double"))
          * 1e6).cast("long").as("cost_u"))
    toks.join(costs, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("cost_u")).as("nll_micro"))
      .withColumn("avg_nll4",
        round(col("nll_micro").cast("double") / col("n_tokens").cast("double")
          / 1e6, 4))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"), col("avg_nll4"))
      .orderBy("doc_id")
  }

  /** F31 — DoReMi-style MIXTURE-WEIGHT learning (round 14; Xie et al.
    * 2023 §3, made deterministic): learn per-source sampling weights by
    * k rounds of multiplicative-weights over each domain's EXCESS LOSS —
    * its cross-entropy under the current α-weighted mixture unigram LM
    * minus its own-model entropy (the irreducible part; the difference
    * is ≥ 0 by Gibbs' inequality, so "how much the mixture underserves
    * this domain"). DoReMi trains a neural proxy under Group DRO; the
    * deterministic form replaces proxy training with the exact
    * mixture-LM re-scoring that weight updates imply — count tables mix
    * LINEARLY in α, so each round is re-weighting, never re-training.
    * Domains the uniform mixture prices badly (distinct vocabularies)
    * gain weight; redundant domains shrink — the published behavior.
    *
    * Bit-stability (§4): ln once per (word, round) and exp once per
    * (domain, round), each quantized immediately (micro-nats /
    * micro-units); everything else is exact int64 with floor division
    * (`div` ≡ DuckDB `//` on nonnegatives) — per-word mixture mass
    * t = α_u·((c·10⁹) div n) summed exactly, per-domain excess as ONE
    * floor division of the exact numerator, weights renormalized by
    * integer floor division. The oracle replays all k rounds as
    * chained CTEs (the PageRank/Lloyd pattern).
    *
    * Scale shape: text never crosses an exchange — the per-(source,
    * word) count table is the only corpus-sized agg (partial-aggregated,
    * vocab×D rows out); each round is two vocab-sized aggs + a D-row
    * weight update, with the D-row weight table broadcast back. The
    * int64-sensitive numerators — Σ c·cost (wraps near ~2.6e11 tokens
    * per domain), the per-word mass c·10⁹, and the renorm raw·10⁶ —
    * are computed in decimal(38,0) (the B25 rule), floored back to
    * longs only where the quantized value is micro-unit-bounded, so
    * values below the wrap are bit-identical to the int64 path and a
    * 100 TB domain is exact instead of silently negative. `docs` is any
    * (source, text) frame. */
  def doremiWeightsOf(docs: DataFrame, iters: Int, capU: Long): DataFrame =
    doremiWeightsFromCounts(
      docs.select(col("source"), explode(words(col("text"))).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("c")),
      iters, capU)

  /** Count-table form over any (source, word, c) frame — the deploy
    * entry point for pipelines that already maintain per-domain vocab
    * counts (every LM-data stack does), and the seam where the decimal
    * tier is testable at planted 100 TB-scale counts without 100 TB of
    * text. */
  def doremiWeightsFromCounts(counts: DataFrame, iters: Int,
      capU: Long): DataFrame = {
    val dec = "decimal(38,0)"
    val cd = counts.select(col("source"), col("word"), col("c"))
      .localCheckpoint(true)
    val nd = cd.groupBy("source").agg(sum(col("c")).as("n"))
    // own-domain entropy numerator (micro-nats·tokens), fixed across
    // rounds: Σ_w c·round(-ln(c/n)·1e6) — exact in decimal(38,0)
    val selfc = cd.join(nd, "source")
      .withColumn("sc_u",
        round(-log(col("c").cast("double") / col("n").cast("double")) * 1e6)
          .cast("long"))
    val hBase = selfc.groupBy("source", "n")
      .agg(sum(col("c").cast(dec) * col("sc_u")).as("hnum"))
      .localCheckpoint(true)
    val dCount = hBase.count() // D: model-sized driver scalar
    var w = hBase.withColumn("a_u", lit(1000000L / math.max(dCount, 1L)))
      .withColumn("excess_u", lit(0L))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val wd = broadcast(w.select(col("source"), col("a_u")))
      // per-word mixture mass P_u(w) ≈ p(w)·1e15: the c·10⁹ numerator
      // in decimal (c > 9.2e9 for one word is real at corpus scale),
      // floored to ≤10⁹ by div, so a_u·(·) and the D-way sum stay
      // exact in int64 (≤ 10⁹·Σa_u = 10¹⁵)
      val p = cd.join(wd, "source")
        .join(nd, "source")
        .select(col("word"), (col("a_u") *
          call_function("div", col("c").cast(dec) * 1000000000L,
            col("n").cast(dec))).as("t_u"))
        .groupBy("word").agg(greatest(sum(col("t_u")), lit(1L)).as("p_u"))
      val cost = p.select(col("word"),
        round(-log(col("p_u").cast("double") / 1e15) * 1e6)
          .cast("long").as("cost_u"))
      // exact excess numerator in decimal, one floor division (→ long,
      // capU-bounded) per domain
      val l = cd.join(cost, "word")
        .groupBy("source").agg(sum(col("c").cast(dec) * col("cost_u"))
          .as("cnum"))
      val upd = w.select(col("source"), col("n"), col("hnum"), col("a_u"))
        .join(l, "source")
        .withColumn("excess_u", least(lit(capU), greatest(lit(0L),
          call_function("div", col("cnum") - col("hnum"),
            col("n").cast(dec)))))
        .withColumn("raw_u",
          round(col("a_u").cast("double")
            * exp(col("excess_u").cast("double") / 1e6)).cast("long"))
      // renorm in decimal: raw_u·10⁶ alone can cross int64 when one
      // domain holds nearly all the weight at the excess cap
      val tot = upd.agg(sum(col("raw_u").cast(dec)).as("tot"))
      w = upd.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("hnum"),
          call_function("div", col("raw_u").cast(dec) * 1000000L,
            col("tot")).as("a_u"),
          col("excess_u"))
        .localCheckpoint(true)
    }
    w.select(col("source"), col("excess_u"), col("a_u").as("weight_u"))
      .orderBy("source")
  }

  /** F31b — DoReMi over the BIGRAM mixture (round 15; the F31
    * discipline one model order up, the F19→F19b step applied to
    * mixture-weight learning): each domain's excess loss is its
    * cross-entropy under the α-weighted mixture BIGRAM model minus its
    * own bigram conditional entropy. Counts still mix linearly in α —
    * the mixture model is the one trained on the α-pooled transition
    * counts, so p_mix(w2|w1) = pooled(w1,w2)/pooled(w1,·) and each
    * round is re-weighting, never re-training (the F31 property that
    * makes the deterministic form possible). A domain whose word
    * SEQUENCES are distinct now gains weight even when its unigram
    * vocabulary is redundant — word-salad domains that F31 prices as
    * cheap twins are priced by their unseen transitions here (exactly
    * the F19→F19b upgrade).
    *
    * Bit-stability (§4): ln once per (bigram, round) — on a ratio of
    * two int64s below 2^53, so both engines divide the identical
    * doubles — and exp once per (domain, round), each quantized
    * immediately; everything else is exact: decimal(38,0) numerators
    * (Σ c·cost, c·10⁹, raw·10⁶ — the F31 decimal tier from birth),
    * floor divisions, and the clamp-to-[0,capU] excess. The mixture
    * context mass is derived from the CLAMPED per-transition masses
    * (Σ_w2 p_u), so cost_u ≥ 0 by construction and the oracle replays
    * the same derivation. The excess is ≥ 0 by Gibbs per context,
    * averaged by the domain's own context marginal.
    *
    * Scale shape: text never crosses an exchange — the per-(source,
    * w1, w2) count table is the only corpus-sized agg
    * (partial-aggregated, bigram-vocab×D rows out); each round is two
    * bigram-vocab-sized aggs + a D-row broadcast update, the F31
    * topology with a wider key. `docs` is any (source, text) frame. */
  def doremiWeights2Of(docs: DataFrame, iters: Int,
      capU: Long): DataFrame = {
    val dec = "decimal(38,0)"
    val cd = docs.select(col("source"), words(col("text")).as("ws"))
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> " +
          "struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
        .as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("source", "w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // n = the domain's bigram-event count; cctx its per-context totals
    // (derived from the transition table, consistent by construction —
    // the F19b rule)
    val nd = cd.groupBy("source").agg(sum(col("c")).as("n"))
    val cctx = cd.groupBy("source", "w1").agg(sum(col("c")).as("cctx"))
    // own-domain conditional entropy numerator, fixed across rounds:
    // Σ_(w1,w2) c·round(-ln(c/cctx)·1e6)
    val selfc = cd.join(cctx, Seq("source", "w1"))
      .withColumn("sc_u",
        round(-log(col("c").cast("double") / col("cctx").cast("double"))
          * 1e6).cast("long"))
    val hBase = selfc.groupBy("source")
      .agg(sum(col("c").cast(dec) * col("sc_u")).as("hnum"))
      .join(nd, "source")
      .localCheckpoint(true)
    val dCount = hBase.count() // D: model-sized driver scalar
    var w = hBase.withColumn("a_u", lit(1000000L / math.max(dCount, 1L)))
      .withColumn("excess_u", lit(0L))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val wd = broadcast(w.select(col("source"), col("a_u")))
      // pooled transition mass: t = a_u·((c·10⁹) div n) summed exactly,
      // clamped to ≥1 so the conditional below is always defined
      val p2 = cd.join(wd, "source")
        .join(nd, "source")
        .select(col("w1"), col("w2"), (col("a_u") *
          call_function("div", col("c").cast(dec) * 1000000000L,
            col("n").cast(dec))).as("t_u"))
        .groupBy("w1", "w2").agg(greatest(sum(col("t_u")), lit(1L)).as("p_u"))
        .localCheckpoint(true) // reused by ctx + cost join this round
      val ctx = p2.groupBy("w1").agg(sum(col("p_u")).as("ctx_u"))
      val cost = p2.join(ctx, "w1")
        .select(col("w1"), col("w2"),
          round(-log(col("p_u").cast("double") / col("ctx_u").cast("double"))
            * 1e6).cast("long").as("cost_u"))
      val l = cd.join(cost, Seq("w1", "w2"))
        .groupBy("source").agg(sum(col("c").cast(dec) * col("cost_u"))
          .as("cnum"))
      val upd = w.select(col("source"), col("n"), col("hnum"), col("a_u"))
        .join(l, "source")
        .withColumn("excess_u", least(lit(capU), greatest(lit(0L),
          call_function("div", col("cnum") - col("hnum"),
            col("n").cast(dec)))))
        .withColumn("raw_u",
          round(col("a_u").cast("double")
            * exp(col("excess_u").cast("double") / 1e6)).cast("long"))
      val tot = upd.agg(sum(col("raw_u").cast(dec)).as("tot"))
      w = upd.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("hnum"),
          call_function("div", col("raw_u").cast(dec) * 1000000L,
            col("tot")).as("a_u"),
          col("excess_u"))
        .localCheckpoint(true)
    }
    w.select(col("source"), col("excess_u"), col("a_u").as("weight_u"))
      .orderBy("source")
  }

  /** F19b — BIGRAM language-model quality with stupid backoff: the
    * CCNet-shaped fluency filter in its distributed, self-trained form.
    * Each doc's score is its average per-token negative log prob under
    * a 2-gram model: the first token is priced by the unigram model,
    * every later token by p(w|prev) = count(prev,w)/count(prev,·); a
    * token whose bigram was never seen in training backs off to
    * alpha·p_uni(w) (Brants et al. 2007's stupid backoff — the
    * normalization-free form that actually runs at corpus scale), and
    * a fully-OOV token to alpha/N. Fluent docs built from common word
    * SEQUENCES now score low where F19 only rewarded common WORDS —
    * word-salad from frequent words is caught by its unseen bigrams.
    *
    * Bit-stability (same discipline as [[lmQualityOf]]): ln is taken
    * once per DISTINCT bigram / word and quantized to integer
    * micro-nats; per-doc accumulation is exact int64; the average is a
    * fixed two-division sequence rounded once to 4dp — hash-exact vs
    * the DuckDB replay.
    *
    * Scale shape: two corpus-sized partial aggs whose exchanges carry
    * the (bi)gram vocabularies, never tokens; context counts derive
    * from the bigram table (vocab-sized); scoring joins tokens to the
    * cost tables on word keys (AQE broadcasts them at any realistic
    * SF) and reduces through a per-doc partial agg. The corpus text
    * itself never crosses an exchange. Train the model on `train`,
    * score `score` — the deployment shape trains on a trusted reference
    * corpus (CCNet uses Wikipedia) and scores the crawl. */
  def lmQuality2Of(train: DataFrame, score: DataFrame,
      alpha: Double = 0.4): DataFrame = {
    val toMicro = (c: Column) => round(c * 1e6).cast("long")
    // unigram model (first-token + backoff pricing)
    val vocab = train.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
    val total = vocab.agg(sum(col("n_w")).as("n_total"))
    val uniCost = vocab.crossJoin(broadcast(total))
      .select(col("word"),
        toMicro(-log(col("n_w").cast("double") / col("n_total").cast("double")))
          .as("uni_u"),
        toMicro(-log(lit(alpha) * col("n_w").cast("double")
          / col("n_total").cast("double"))).as("back_u"))
    // bigram model; context counts derive from the bigram table so the
    // two stay consistent by construction (count(prev,·) = Σ_w count(prev,w))
    def bigrams(df: DataFrame) = df
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> " +
          "struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val trainWs = train.select(col("doc_id"), words(col("text")).as("ws"))
    val scoreWs = score.select(col("doc_id"), words(col("text")).as("ws"))
    val bigCounts = bigrams(trainWs)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_big"))
    val ctx = bigCounts.groupBy("w1").agg(sum(col("n_big")).as("n_ctx"))
    val bigCost = bigCounts.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        toMicro(-log(col("n_big").cast("double") / col("n_ctx").cast("double")))
          .as("cost_u"))
    // scoring: first token at the unigram price, the rest at the bigram
    // price with stupid backoff; OOV prices need n_total in-plan (1-row
    // broadcast, as in lmQualityOf)
    val firsts = scoreWs.filter(size(col("ws")) > 0)
      .select(col("doc_id"), element_at(col("ws"), 1).as("word"))
      .join(uniCost, Seq("word"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), coalesce(col("uni_u"),
        toMicro(-log(lit(1.0) / col("n_total").cast("double")))).as("c"))
    val rest = bigrams(scoreWs)
      .join(bigCost, Seq("w1", "w2"), "left")
      .join(uniCost.select(col("word").as("w2"), col("back_u")), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), coalesce(col("cost_u"), col("back_u"),
        toMicro(-log(lit(alpha) / col("n_total").cast("double")))).as("c"))
    firsts.unionByName(rest)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("nll_micro"))
      .withColumn("avg_nll4",
        round(col("nll_micro").cast("double") / col("n_tokens").cast("double")
          / 1e6, 4))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"), col("avg_nll4"))
      .orderBy("doc_id")
  }

  /** F19d — TRIGRAM language-model quality with stupid backoff (round
    * 13, one order past [[lmQuality2Of]] toward CCNet's 5-gram KenLM):
    * token 1 is priced by the unigram model, token 2 by the bigram
    * model with its F19b backoff, and every later token by
    * p(w|w1,w2) = count(w1,w2,w)/count(w1,w2,·), with unseen trigrams
    * backing off through the stupid-backoff chain (Brants et al. 2007):
    * α·p(w|w2) → α²·p_uni(w) → α²/N for full OOV. A doc of locally
    * plausible word PAIRS in an implausible order is caught by its
    * unseen trigrams where F19b saw only seen bigrams.
    *
    * Bit-stability (the F19/F19b discipline extended one order): ln is
    * taken once per DISTINCT trigram / bigram / word and immediately
    * quantized to integer micro-nats; the α and α² scalings multiply
    * INSIDE the single ln argument in a fixed left-to-right order, so
    * both engines evaluate the identical IEEE sequence; per-doc
    * accumulation is exact int64, the average one 4dp-rounded
    * two-division tail.
    *
    * Scale shape: three corpus-sized partial aggs whose exchanges carry
    * the uni/bi/trigram vocabularies (never tokens); both context-count
    * tables derive from their own gram table (consistent by
    * construction); scoring joins tokens to the cost tables on gram
    * keys — vocab-sized, AQE-broadcast at any realistic SF — and
    * reduces through a per-doc partial agg. Text never crosses an
    * exchange. The trigram vocabulary is the cost driver at 100 TB
    * (|trigrams| ≫ |bigrams|), which is exactly KenLM's storage wall —
    * the count tables stay hash-partitioned tables, never driver
    * state. Train on `train`, score `score` (the CCNet shape —
    * reference corpus prices the crawl). */
  def lmQuality3Of(train: DataFrame, score: DataFrame,
      alpha: Double = 0.4): DataFrame = {
    val toMicro = (c: Column) => round(c * 1e6).cast("long")
    val ratio = (n: Column, d: Column) => n.cast("double") / d.cast("double")
    // unigram model: direct, single-backoff (α·p) and double-backoff
    // (α²·p) prices, each ln'd once per distinct word
    val vocab = train.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
    val total = vocab.agg(sum(col("n_w")).as("n_total"))
    val uniCost = vocab.crossJoin(broadcast(total))
      .select(col("word"),
        toMicro(-log(ratio(col("n_w"), col("n_total")))).as("uni_u"),
        toMicro(-log(lit(alpha) * ratio(col("n_w"), col("n_total"))))
          .as("back1_u"),
        toMicro(-log(lit(alpha) * lit(alpha)
          * ratio(col("n_w"), col("n_total")))).as("back2_u"))
    def grams(df: DataFrame, n: Int): DataFrame = {
      val fields = (0 until n).map(j =>
        s"element_at(ws, i + $j) AS w${j + 1}").mkString(", ")
      df.filter(size(col("ws")) >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(ws) - ${n - 1}), i -> struct($fields))"))
          .as("g"))
        .select(col("doc_id") +: (1 to n).map(j => col(s"g.w$j").as(s"w$j")): _*)
    }
    val trainWs = train.select(col("doc_id"), words(col("text")).as("ws"))
    val scoreWs = score.select(col("doc_id"), words(col("text")).as("ws"))
    // bigram model (token-2 price + the trigram backoff tier)
    val bigCounts = grams(trainWs, 2).groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_big"))
    val ctx = bigCounts.groupBy("w1").agg(sum(col("n_big")).as("n_ctx"))
    val bigCost = bigCounts.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        toMicro(-log(ratio(col("n_big"), col("n_ctx")))).as("big_u"),
        toMicro(-log(lit(alpha) * ratio(col("n_big"), col("n_ctx"))))
          .as("bigback_u"))
    // trigram model; context counts derive from the trigram table
    val triCounts = grams(trainWs, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("n_tri"))
    val ctx2 = triCounts.groupBy("w1", "w2").agg(sum(col("n_tri")).as("n_ctx2"))
    val triCost = triCounts.join(ctx2, Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        toMicro(-log(ratio(col("n_tri"), col("n_ctx2")))).as("tri_u"))
    // position 1: unigram price (OOV → 1/N)
    val firsts = scoreWs.filter(size(col("ws")) >= 1)
      .select(col("doc_id"), element_at(col("ws"), 1).as("word"))
      .join(uniCost, Seq("word"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), coalesce(col("uni_u"),
        toMicro(-log(lit(1.0) / col("n_total").cast("double")))).as("c"))
    // position 2: bigram price, F19b backoff chain (α·uni → α/N)
    val seconds = scoreWs.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), element_at(col("ws"), 1).as("w1"),
        element_at(col("ws"), 2).as("w2"))
      .join(bigCost.select(col("w1"), col("w2"), col("big_u")),
        Seq("w1", "w2"), "left")
      .join(uniCost.select(col("word").as("w2"), col("back1_u")),
        Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), coalesce(col("big_u"), col("back1_u"),
        toMicro(-log(lit(alpha) / col("n_total").cast("double")))).as("c"))
    // positions >= 3: trigram price, full backoff chain
    // (α·p(w3|w2) → α²·p_uni(w3) → α²/N)
    val rest = grams(scoreWs, 3)
      .join(triCost, Seq("w1", "w2", "w3"), "left")
      .join(bigCost.select(col("w1").as("w2"), col("w2").as("w3"),
        col("bigback_u")), Seq("w2", "w3"), "left")
      .join(uniCost.select(col("word").as("w3"), col("back2_u")),
        Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), coalesce(col("tri_u"), col("bigback_u"),
        col("back2_u"),
        toMicro(-log(lit(alpha) * lit(alpha)
          / col("n_total").cast("double")))).as("c"))
    firsts.unionByName(seconds).unionByName(rest)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("nll_micro"))
      .withColumn("avg_nll4",
        round(col("nll_micro").cast("double") / col("n_tokens").cast("double")
          / 1e6, 4))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"), col("avg_nll4"))
      .orderBy("doc_id")
  }

  /** F19c — CCNet HEAD/MIDDLE/TAIL bucketing: partition each source's
    * documents into perplexity terciles of the F19b bigram score —
    * CCNet §4.3's exact deployment rule (per-LANGUAGE terciles of the
    * wiki-LM perplexity; `source` plays the language's role here), the
    * knob pipelines use to keep `head`, sample `middle`, drop `tail`.
    * Buckets come from ntile(3) over a TOTAL order ((avg_nll4, doc_id)
    * — the doc_id tiebreak makes the split reproducible and
    * engine-identical), so bucket sizes are exactly balanced per
    * source, the property that makes downstream mixing rates
    * predictable.
    *
    * Scale shape: the scoring pipeline is F19b's (vocab-sized
    * exchanges); the tercile window shuffles ONE (source, score, id)
    * row per doc — ids+scores wide, never text — partitioned by
    * source; a skewed giant source is the F13/lag_monitor caveat and
    * would use the percentile-threshold form (C10) instead of ntile. */
  def ccnetBuckets(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("avg_nll4"), col("doc_id"))
    lmQuality2Of(t.documents, t.documents)
      .join(t.documents.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("tercile", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("avg_nll4"),
        when(col("tercile") === 1L, "head")
          .when(col("tercile") === 2L, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** F20 — distributed BPE pair statistics (tokenizer training, stage
    * 1): the merge-candidate table of byte-pair encoding — adjacent
    * character-pair counts over the corpus, weighted by word frequency,
    * top-k in the canonical (count DESC, pair ASC) merge order. This is
    * the stage that must be distributed when training a tokenizer on
    * 100 TB (Sennrich et al. 2016 §3: pair statistics are gathered over
    * a word-frequency dict, not the raw corpus); subsequent merge
    * rounds re-run it over the re-segmented vocab, whose size — not the
    * corpus's — bounds every round after this one.
    *
    * Scale shape: the ONLY corpus-sized stage is the word-frequency agg
    * (partial-combined, the exchange carries (word, count) = the
    * vocabulary); the pair explode runs over DISTINCT words — a
    * ~10⁵-row frame at any corpus size — and reduces through a second
    * vocab-sized partial agg. Exact int64 throughout; the top-k total
    * order makes the limit deterministic. `docs` is any frame with a
    * text column. */
  def bpePairCountsOf(docs: DataFrame, k: Int): DataFrame = {
    val wf = docs
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    wf.filter(length(col("word")) >= 2)
      .select(col("word"), col("n"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("n"))
      .groupBy("pair").agg(sum(col("n")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(k)
  }

  /** F20b — the BPE MERGE LOOP (tokenizer training, stage 2): k rounds
    * of elect-top-pair / re-segment / recount over the word-frequency
    * vocabulary, emitting the merge table — the artifact a tokenizer
    * trainer actually ships (Sennrich et al. 2016 §3: after the corpus
    * is reduced to a frequency dict, every round operates on the DICT's
    * segmentations, never the corpus again).
    *
    * Merge semantics (pinned by the planted-fixture spec and the
    * generated DuckDB replay [[graft.OracleSql.bpeMerges]]):
    *  - pair counts include overlapping adjacencies ([a,a,a] counts
    *    (a,a) twice, weighted by word frequency);
    *  - election order is total: count DESC, then (lhs, rhs) ASC —
    *    ties break identically cross-engine (ASCII [a-z] symbols);
    *  - re-segmentation merges occurrences GREEDILY left-to-right
    *    ([a,a,a,a] + (a,a) -> [aa, aa]), via a fold whose accumulator
    *    tail can only equal `lhs` at a mergeable original symbol
    *    (lhs++rhs != lhs since rhs is nonempty);
    *  - the loop stops early when no pair remains.
    *
    * Scale shape: the ONLY corpus-sized stage is the word-frequency agg
    * (partial-combined, exchange carries the vocabulary); each round is
    * two vocab-sized jobs — a pair agg feeding a 1-row collect (the
    * elected pair is model-sized driver state, like IVF centroids) and
    * a localCheckpoint of the re-segmented dict that truncates lineage
    * so round k's plan does not nest k HOF folds. At 100 TB the vocab
    * is still ~1e6 rows, so the per-round cost is fixed-overhead-bound
    * and independent of corpus size — exactly why Sennrich's dict
    * reduction is THE published algorithm. `docs` is any frame with a
    * text column. */
  def bpeMergesOf(docs: DataFrame, k: Int): DataFrame = {
    val (merges, seg) = bpeTrain(docs, k)
    seg.unpersist()
    docs.sparkSession.createDataFrame(merges)
      .toDF("merge_round", "lhs", "rhs", "merged", "n_occ")
      .orderBy("merge_round")
  }

  /** The training loop itself: returns (merge table, final vocabulary
    * segmentation). The segmentation IS the trained tokenizer's apply
    * function over in-vocab words — [[bpeTokenizeOf]] joins against it
    * directly. Caller owns unpersisting the returned checkpoint. */
  private def bpeTrain(docs: DataFrame, k: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val wf = docs.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    // initial segmentation: one symbol per character; checkpoint also
    // materializes the corpus-sized tokenization exactly once
    var seg = wf.select(col("word"), col("n"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var round = 1
    var dry = false
    while (round <= k && !dry) {
      val top = seg.filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"))
          .as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("n")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round.toLong, l, r, l + r, c))
        val next = seg
          .select(col("word"), col("n"), mergeGreedy(col("syms"), l, r).as("syms"))
          .localCheckpoint()
        seg.unpersist()
        seg = next
        round += 1
      }
    }
    (merges.toSeq, seg)
  }

  /** F20c — APPLY the trained tokenizer (stage 3, the encode step a
    * user actually runs on the corpus): per-document BPE token counts
    * under the k-merge vocabulary. The training loop's final
    * segmentation table maps every corpus word to its symbol sequence —
    * encoding a corpus the tokenizer was trained on is therefore ONE
    * vocab-sized join (word → len(syms)) plus a per-doc partial agg:
    * no per-row merge loop, no corpus re-segmentation (the greedy
    * left-to-right merge result is a pure function of the word, so
    * identical words share one apply). Output per doc: whitespace-word
    * count, BPE token count, and the compression ratio in exact
    * per-mille (tokens·1000 // words — integer, hash-stable).
    *
    * Scale shape: the training stages are F20b's (corpus-sized word
    * count once, vocab-sized rounds); the encode adds one corpus
    * token explode joined to the broadcast vocab and a per-doc
    * partial agg — text never crosses an exchange. An OOV word (never
    * possible self-trained; possible for a held-out corpus) falls
    * back to its character count, the base-alphabet encoding. Train on
    * `train`, encode `score`. */
  def bpeTokenizeOf(train: DataFrame, score: DataFrame, k: Int): DataFrame = {
    val (_, seg) = bpeTrain(train, k)
    val vocab = seg.select(col("word"), size(col("syms")).cast("long").as("n_sym"))
    val out = score
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(vocab, Seq("word"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sym"), length(col("word")).cast("long")).as("n_sym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        // exact int64 division (not floor-of-double: a double quotient
        // can round across the floor boundary at large counts)
        call_function("div", col("n_tokens") * 1000L, col("n_words"))
          .as("tok_permille"))
      .orderBy("doc_id")
    out
  }

  /** F20d — UNIGRAM-LM (SentencePiece-style) TOKENIZER (round 19 —
    * the other mainstream subword tokenizer next to BPE, Kudo 2018):
    * hard-EM (Viterbi) over a substring candidate vocabulary. Seed:
    * all pieces of length 1..3 of the corpus words, frequency-
    * weighted; singles are never pruned (they are the segmentability
    * floor — an unused single carries count 0 and prices as a
    * last-resort path), multi-char pieces keep the top `vocabMulti`
    * by (count DESC, piece ASC). Each EM round Viterbi-segments every
    * DISTINCT word under the current model
    * ([[graft.plans.UnigramKernels.segment]], the model riding
    * in-plan as a broadcast 1-row (pieces, counts, total) triple —
    * the decontaminate_bloom pattern), recounts piece usage weighted
    * by word frequency, and re-elects the vocabulary. A final E-step
    * under the trained model encodes the corpus per document (the
    * F20c shape: one vocab-broadcast join + per-doc agg).
    *
    * Scale shape — the F20b discipline: the ONLY corpus-sized stages
    * are the word-frequency agg and the final per-doc encode join
    * (exchanges carry words and longs, never text bodies); the
    * candidate explode, every E-step, and every recount run over the
    * DISTINCT-word table — vocab-sized at any corpus scale, so
    * per-round cost is independent of corpus size.
    *
    * Determinism: piece probabilities are cnt/total in IEEE doubles
    * (division and the DP multiplies are exactly specified, so the
    * DuckDB replay computes bit-identical scores), ties break to the
    * shortest piece, and every election is totally ordered — the
    * oracle replays the full EM chain as generated chained CTEs with
    * a 16-position DP unroll per round (words are [a-z]+ tokens,
    * corpus max length 8; the replay guards the unroll bound
    * loudly). `docs` is any frame with (doc_id, text). */
  def unigramTokenizerOf(docs: DataFrame, vocabMulti: Int,
      rounds: Int): DataFrame = {
    val wf = docs.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .localCheckpoint() // the one corpus-sized stage, materialized once
    val cand = wf
      .select(col("n"), explode(expr(
        "flatten(transform(sequence(1, length(word)), i -> " +
          "transform(sequence(i, least(i + 2, length(word))), j -> " +
          "substring(word, i, j - i + 1))))")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    var vocab = cand.filter(length(col("piece")) === 1)
      .unionAll(cand.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(vocabMulti))
      .localCheckpoint()
    var r = 1
    while (r <= rounds) {
      val recount = unigramEStep(wf, vocab)
        .select(col("n"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("cnt"))
      val singles = vocab.filter(length(col("piece")) === 1)
        .select("piece")
        .join(recount, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      vocab = singles
        .unionAll(recount.filter(length(col("piece")) >= 2)
          .orderBy(col("cnt").desc, col("piece")).limit(vocabMulti))
        .localCheckpoint()
      r += 1
    }
    val finalSeg = unigramEStep(wf, vocab)
      .select(col("word"), size(col("pieces")).cast("long").as("n_sym"))
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(broadcast(finalSeg), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        call_function("div", col("n_tokens") * 1000L, col("n_words"))
          .as("tok_permille"))
      .orderBy("doc_id")
  }

  /** One E-step: Viterbi-segment every distinct word under the model.
    * The vocabulary rides in-plan as ONE broadcast row of parallel
    * (pieces, counts) arrays in piece order plus the count total. */
  private def unigramEStep(wf: DataFrame, vocab: DataFrame): DataFrame = {
    val model = vocab
      .agg(sort_array(collect_list(struct(col("piece"), col("cnt"))))
        .as("m"), sum(col("cnt")).as("total"))
      .select(expr("transform(m, x -> x.piece)").as("pieces"),
        expr("transform(m, x -> x.cnt)").as("cnts"),
        col("total"))
    wf.crossJoin(broadcast(model))
      .select(col("word"), col("n"),
        call_function("graft_unigram_segment",
          col("word"), col("pieces"), col("cnts"), col("total"))
          .as("pieces"))
  }

  /** F28 — per-source DISTRIBUTION DRIFT: the Jensen-Shannon divergence
    * between each source's token distribution and the rest of the
    * corpus — the ingest monitor that catches a drifting or polluted
    * source as a DISTRIBUTION shift (complementing F27, which prices
    * the same drift in tokenizer OOV cost). JSD is symmetric and
    * bounded in [0, ln 2], so scores are comparable across sources and
    * corpus versions.
    *
    * Exactness (the F19/F21 micro-nat discipline, extended to two
    * distributions): for a word with in-source count c and complement
    * count d, the mixture ratios are EXACT integer rationals —
    * p/m = 2·c·Nc/(c·Nc + d·Ns), q/m = 2·d·Ns/(c·Nc + d·Ns) — carried
    * in decimal(38,0) (c·Nc wraps int64 at real corpus scale, the B25
    * rule); each ln is taken once per present (word, source) pair and
    * quantized to integer micro-nats; the weighted sums Σc·L1, Σd·L2
    * accumulate exactly in decimal; words ABSENT from the source
    * contribute the closed form ln2·(Nc − Σd)/(2·Nc) (p = 0 ⇒ the
    * integrand collapses to q·ln2/2), so the vocab×sources frame only
    * ever holds PRESENT pairs; one final three-term double expression
    * rounds to the output micro-nat score.
    *
    * Scale shape: one tokenization → a (word, source) partial agg (the
    * exchange carries per-pair counts — vocab×sources, never tokens) →
    * vocab-sized word totals joined back on word → per-source partial
    * agg. Corpus text never crosses an exchange; everything after the
    * first agg is vocab-scale. Contract: ≥ 2 sources with tokens (a
    * source owning the whole corpus has no complement to diverge
    * from). `docs` is any (source, text) frame. */
  def sourceDriftOf(docs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val toks = docs.select(col("source"), explode(words(col("text"))).as("word"))
    val cs = toks.groupBy("word", "source").agg(count(lit(1)).as("c"))
    val wordTot = cs.groupBy("word").agg(sum(col("c")).cast("long").as("cw"))
    val srcTot = cs.groupBy("source").agg(sum(col("c")).cast("long").as("ns"))
    val total = srcTot.agg(sum(col("ns")).cast("long").as("n"))
    val rows = cs.join(wordTot, "word")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(total))
      .withColumn("d", col("cw") - col("c"))
      .withColumn("nc", col("n") - col("ns"))
    val den = col("c").cast(d38) * col("nc").cast(d38) +
      col("d").cast(d38) * col("ns").cast(d38)
    def lnMicro(num: org.apache.spark.sql.Column) =
      round(log(num.cast("double") / den.cast("double")) * 1e6).cast("long")
    val l1 = lnMicro(lit(2L).cast(d38) * col("c").cast(d38) * col("nc").cast(d38))
    val l2 = lnMicro(lit(2L).cast(d38) * col("d").cast(d38) * col("ns").cast(d38))
    rows
      .withColumn("t1", col("c").cast(d38) * l1.cast(d38))
      .withColumn("t2", when(col("d") > 0L, col("d").cast(d38) * l2.cast(d38))
        .otherwise(lit(0L).cast(d38)))
      .groupBy("source")
      .agg(max(col("ns")).as("n_tokens"), max(col("nc")).as("nc"),
        count(lit(1)).as("n_distinct"),
        sum(col("t1")).as("s1"), sum(col("t2")).as("s2"),
        sum(col("d")).cast("long").as("dd"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        round(col("s1").cast("double") / (lit(2.0) * col("n_tokens").cast("double"))
          + col("s2").cast("double") / (lit(2.0) * col("nc").cast("double"))
          + (lit(693147L).cast(d38) * (col("nc") - col("dd")).cast(d38)).cast("double")
            / (lit(2.0) * col("nc").cast("double"))).cast("long").as("jsd_micro"))
      .orderBy("source")
  }

  /** F33 — vocabulary FREQUENCY SPECTRUM with the Good-Turing estimator
    * (round 15): the count-of-counts table n_r = |{words seen exactly r
    * times}| — the object under Good-Turing smoothing (Gale & Sampson
    * 1995), Heaps'-law vocabulary-growth estimation, and the standard
    * "how much tail is singleton noise" corpus audit (n_1/N estimates
    * the probability mass of UNSEEN words — the number a LM-data
    * pipeline uses to size its OOV budget). Per spectrum row: the type
    * and token-mass counts, cumulative permille shares (ascending r, so
    * the singleton/doubleton head reads directly), and the Good-Turing
    * adjusted count r* = (r+1)·n_{r+1}/n_r in micro-units — exact floor
    * division against the true r+1 row (a self-join on r+1, NOT lead():
    * the spectrum is not contiguous in r), 0 where n_{r+1} = 0 (the
    * standard raw-GT gap, smoothed downstream).
    *
    * Scale shape: the corpus-sized stage is the F19 vocab count
    * (partial-aggregated, (word, count) out); the spectrum is a
    * vocab-sized agg to ~hundreds of rows, so the global cumulative
    * window and the r+1 self-join run on MODEL-sized data — the
    * single-partition window is deliberate and bounded, not a smell.
    * `docs` is any (text) corpus frame. */
  def vocabSpectrumOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spec = docs.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("r") * col("n_types"))
    val tot = spec.agg(sum(col("n_types")).as("tt"), sum(col("mass")).as("tm"))
    val w = Window.orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spec.crossJoin(broadcast(tot))
      .withColumn("types_cum_permille",
        call_function("div", sum(col("n_types")).over(w) * 1000L, col("tt")))
      .withColumn("mass_cum_permille",
        call_function("div", sum(col("mass")).over(w) * 1000L, col("tm")))
      .join(spec.select((col("r") - 1L).as("r"), col("n_types").as("n_next")),
        Seq("r"), "left")
      .withColumn("gt_rstar_u",
        when(col("n_next").isNull, 0L).otherwise(call_function("div",
          (col("r") + 1L) * col("n_next") * 1000000L, col("n_types"))))
      .select(col("r"), col("n_types"), col("mass"),
        col("types_cum_permille"), col("mass_cum_permille"),
        col("gt_rstar_u"))
      .orderBy("r")
  }

  /** F27 — per-source VOCABULARY COVERAGE of a trained tokenizer: train
    * the F20b BPE on a train split (doc_id % 10 != 0 — the F18
    * discipline), then report, for every source, its out-of-vocabulary
    * word rate and its token inflation when OOV words fall back to the
    * base-alphabet character encoding. This is the audit every pipeline
    * runs before committing a tokenizer: a source with high OOV pays a
    * real token-budget premium (each OOV word costs len(word) tokens
    * instead of its merged count), and a drifting ingest shows up here
    * before it shows up in training loss.
    *
    * Exact arithmetic: counts are int64, rates exact integer per-mille
    * (`div`, never floor-of-double). Scale shape: training is F20b's
    * (one corpus-sized word count, then vocab-sized rounds); scoring is
    * one tokenization → vocab join (vocab-sized build side) → per-source
    * partial agg. Text never crosses an exchange; the per-source
    * exchange carries one partial row per source per map task. Train on
    * `train`, audit `score` per source. */
  def vocabCoverageOf(train: DataFrame, score: DataFrame, k: Int): DataFrame = {
    val (_, seg) = bpeTrain(train, k)
    val vocab = seg.select(col("word"), size(col("syms")).cast("long").as("n_sym"))
    score
      .select(col("source"), explode(words(col("text"))).as("word"))
      .join(vocab, Seq("word"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("n_sym"), length(col("word")).cast("long")))
          .as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_oov"),
        call_function("div", col("n_oov") * 1000L, col("n_words")).as("oov_pm"),
        col("n_tokens"),
        call_function("div", col("n_tokens") * 1000L, col("n_words"))
          .as("tok_permille"))
      .orderBy("source")
  }

  /** Greedy left-to-right merge of adjacent (l, r) symbol occurrences:
    * fold each symbol into the output, replacing the tail when it is a
    * mergeable `l` (the tail equals `l` only for original symbols —
    * this round's merged symbol l++r can't collide since r != ""). */
  private def mergeGreedy(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** F21 — Naive-Bayes LOG-ODDS quality classifier (the GPT-3 / DSIR
    * curated-vs-crawl discriminator): train a unigram NB model on a
    * positive seed (curated domains) vs a negative seed (the rest of
    * the pool), then score every document by its summed per-token
    * log-odds ln p(w|pos) − ln p(w|neg) with Laplace smoothing. Docs
    * whose vocabulary looks like the curated seed score > 0 (`keep`);
    * the score itself is the DSIR importance-resampling weight (Xie et
    * al. 2023 use exactly this hashed-n-gram NB ratio) and the GPT-3
    * appendix-A quality filter is the same discriminator with a
    * logistic head. The canonical query self-trains: positive =
    * src0–src2 (the "curated" domains of the synthetic corpus),
    * negative = everything else, score = the whole pool.
    *
    * Bit-stability (the [[lmQualityOf]] discipline): ln is taken once
    * per DISTINCT word, the log-odds immediately quantized to integer
    * micro-nats; per-doc accumulation is exact int64, the keep verdict
    * an exact integer sign test, and the per-token average one double
    * division of exact ints rounded to 4dp — hash-exact vs the DuckDB
    * replay.
    *
    * Scale shape: one corpus tokenization → a single vocab-sized
    * partial agg (both class counts in one pass — the exchange carries
    * (word, n_pos, n_neg), the vocabulary, never tokens) → a 1-row
    * broadcast of the totals → a vocab-broadcast scoring join → per-doc
    * partial agg. Document text never crosses an exchange; training
    * and scoring are the SAME two shuffles as F19 regardless of how
    * many documents score. */
  def nbQualityClassifier(t: Tables): DataFrame = {
    val pos = col("source").isin("src0", "src1", "src2")
    nbLogOddsOf(t.documents.select(col("doc_id"), col("text"), pos.as("pos")),
      t.documents)
  }

  /** Library form: `train` carries (doc_id, text, pos: boolean) seed
    * labels; `score` is any (doc_id, text) frame. Words unseen in
    * training price at the smoothed zero-count log-odds (the same
    * formula at n=0), so held-out corpora score without special
    * casing. */
  def nbLogOddsOf(train: DataFrame, score: DataFrame): DataFrame = {
    val tokTrain = train
      .select(explode(words(col("text"))).as("word"), col("pos"))
    val cnt = tokTrain.groupBy("word").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
    val tot = cnt.agg(sum(col("n_pos")).as("t_pos"),
      sum(col("n_neg")).as("t_neg"), count(lit(1)).as("v"))
    def loMicro(nPos: Column, nNeg: Column): Column =
      round((log((nPos + 1L).cast("double") / (col("t_pos") + col("v")).cast("double"))
        - log((nNeg + 1L).cast("double") / (col("t_neg") + col("v")).cast("double")))
        * 1e6).cast("long")
    val costs = cnt.crossJoin(broadcast(tot))
      .select(col("word"), loMicro(col("n_pos"), col("n_neg")).as("lo_u"))
    score.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(costs, Seq("word"), "left")
      // the n=0 smoothed price for unseen words, derived in-plan from
      // the same 1-row broadcast totals (no eager driver job)
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("lo_u"), loMicro(lit(0L), lit(0L))))
          .as("logodds_micro"))
      .select(col("doc_id"), col("n_tokens"), col("logodds_micro"),
        round(col("logodds_micro").cast("double")
          / col("n_tokens").cast("double") / 1e6, 4).as("avg_lo4"),
        (col("logodds_micro") > 0L).as("keep"))
      .orderBy("doc_id")
  }

  /** F26 — deterministic overlapping CHUNKING: split each document
    * into fixed-size token windows with stride overlap — the
    * preparation step of every embedding/RAG pipeline (long documents
    * exceed the encoder's window; overlap keeps boundary-spanning
    * content retrievable) and the companion of F13's packing (packing
    * fills a training window with many short docs; chunking splits one
    * long doc across many windows).
    *
    * Chunk starts are 0, stride, 2·stride, … while start < n_tokens;
    * each chunk is tokens[start, min(start+size, n)) — all exact
    * integer arithmetic, the chunk text a separator-join of the
    * tokens, so the output is hash-exact cross-engine. Empty documents
    * produce no chunks.
    *
    * Scale shape: a pure per-row projection (sequence → explode →
    * slice → array_join, all codegen) riding a 2-column scan — zero
    * shuffles before the presentation sort; at 100 TB chunking is
    * free, like F18. */
  def chunkDocsOf(docs: DataFrame, size: Int, stride: Int): DataFrame =
    chunkCore(docs, size, stride).orderBy("doc_id", "chunk_id")

  /** The chunking projection without the presentation sort, which a
    * stream runs as is (a sort is illegal on an unbounded append-mode
    * stream; a batch query adds it for stable output). */
  private[graft] def chunkCore(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val ws = words(col("text"))
    docs
      .select(col("doc_id"), ws.as("ws"))
      .filter(size_(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), size_(col("ws")).cast("long") - 1L,
          lit(stride.toLong))).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_id"),
        col("start_tok"),
        least(size_(col("ws")).cast("long") - col("start_tok"),
          lit(size.toLong)).as("n_tok"),
        array_join(slice(col("ws"), (col("start_tok") + 1L).cast("int"),
          lit(size)), " ").as("chunk_text"))
  }

  // sql.functions.size, renamed: this file aliases `size` for arrays
  private def size_(c: Column): Column =
    org.apache.spark.sql.functions.size(c)

  /** F25 — DSIR importance RESAMPLING (Xie et al. 2023 §2): draw the
    * n-document training subset ∝ exp(importance weight) WITHOUT
    * replacement via the Gumbel-top-k trick — key = log-weight + an
    * independent standard Gumbel, take the n largest keys. The
    * log-weight is F21's NB log-odds (Xie et al.'s hashed-n-gram
    * estimator); the Gumbel is DERANDOMIZED: u = ((mix64(doc_id) >>>
    * 11) + 0.5) / 2^53 ∈ (0,1) — a pure function of doc_id, exactly
    * representable in a double on any engine — and g = −ln(−ln u).
    * The sample is therefore reproducible across runs, partitionings,
    * and engines (the F8/F18 property, extended from Bernoulli keeps
    * to weighted sampling-without-replacement), and hash-exact under
    * the DuckDB replay.
    *
    * Bit-stability: the two chained lns are the only
    * non-correctly-rounded ops, taken once per doc and immediately
    * quantized to integer micro-nats; the key is then an EXACT int64
    * sum of score and noise micro-nats, ranked with a doc_id
    * tie-break.
    *
    * Scale shape: F21's two vocab-keyed shuffles produce the scores;
    * the noise is a per-row codegen projection; the selection is
    * TakeOrdered (C5) — no corpus-wide window, no RNG state, no
    * driver-side sampling pass. */
  def dsirResample(t: Tables, n: Int = 100): DataFrame =
    dsirResampleOf(nbQualityClassifier(t)
      .select(col("doc_id"), col("logodds_micro")), n)

  /** Library form over any (doc_id, logodds_micro) weight table. */
  def dsirResampleOf(scores: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (shiftrightunsigned(
      call_function("graft_mix64", col("doc_id")), 11).cast("double")
      + lit(0.5)) / lit(9007199254740992.0)
    val keyed = scores
      .withColumn("noise_u", round(-log(-log(u)) * 1e6).cast("long"))
      .withColumn("key_u", col("logodds_micro") + col("noise_u"))
    val top = keyed.orderBy(col("key_u").desc, col("doc_id")).limit(n)
    val w = Window.orderBy(col("key_u").desc, col("doc_id"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("doc_id"), col("logodds_micro"),
        col("noise_u"), col("key_u"))
      .orderBy("rnk")
  }

  /** F22 — BM25 keyword retrieval: top-k documents for a bag of query
    * terms under Okapi BM25 (k1=1.2, b=0.75, Lucene's idf form
    * ln(1+(N−df+0.5)/(df+0.5))) — the retrieval primitive behind
    * benchmark-similarity mining and targeted corpus slicing ("pull the
    * 10k docs most about X"), complementing F7's per-doc tf-idf terms
    * with a cross-doc ranked search.
    *
    * Bit-stability (SURVEY §4): ln runs ONCE PER QUERY TERM (a handful)
    * and is quantized to integer micro-nats immediately. The tf/length
    * normalization is exact-rational: with k1=6/5 and b=3/4,
    * tf·(k1+1)/(tf+k1·(1−b+b·len/avglen)) = 22·tf·L/(10·tf·L+3·L+9·len·N)
    * where L=Σlen and N=#docs — both sides exact integers, carried in
    * decimal(38,0) (HUGEINT in the oracle) because tf·L wraps int64 at
    * real corpus scale (the B25 rule). Each per-(doc,term) contribution
    * is a fixed correctly-rounded sequence — two casts, one division,
    * one multiply, one round — then an exact int64 micro-nat; per-doc
    * scores are exact integer SUMS of those, so no float accumulation
    * order can bite. Ties break on doc_id.
    *
    * Scale shape: ONE tokenization pass feeds a single doc_id-keyed
    * partial agg that carries length AND the k query-term tf columns
    * (map-side combined — the exchange is #docs rows of k+2 ints, never
    * tokens); the term table is then unpivoted in-codegen (C11b's
    * zero-exchange melt). df and the corpus stats re-aggregate those
    * partials (tiny), broadcast back, and the final top-k is
    * TakeOrdered (C5) — no single-partition window over the corpus. */
  def bm25TopKOf(docs: DataFrame, queryTerms: Seq[String],
      k: Int): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "query terms must be non-empty and distinct")
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
    // one exchange: per-doc length + one tf column per query term
    val tfCols = queryTerms.map(q =>
      sum(when(col("term") === q, 1L).otherwise(0L)).as("tf_" + q))
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("len"), tfCols: _*)
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), sum("len").as("l_total"))
    // in-codegen melt of the tf columns back to (term, tf) rows
    val termTf = perDoc.select(col("doc_id"), col("len"),
        explode(map(queryTerms.flatMap(q =>
          Seq(lit(q), col("tf_" + q))): _*)).as(Seq("term", "tf")))
      .filter(col("tf") > 0L)
    bm25Rank(termTf, stats, k)
  }

  /** The BM25 ranking core over a (doc_id, len, term, tf) posting frame
    * plus a 1-row (n_docs, l_total) stats frame — shared, arithmetic-
    * identical, between the inline F22 query (which derives postings by
    * melting a per-doc tf aggregation) and [[SearchIndex.search]]'s
    * prefit path (which reads them partition-pruned from the persisted
    * inverted index). df is the per-term posting count (postings are
    * unique per (doc, term) on both paths). */
  private[operators] def bm25Rank(termTf: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val df = termTf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("term"),
        round(log(lit(1.0)
          + ((col("n_docs") - col("df")).cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5))) * 1e6)
          .cast("long").as("idf_u"))
    val tfL = col("tf").cast(d38) * col("l_total").cast(d38)
    val num = lit(22L).cast(d38) * tfL
    val den = (lit(10L).cast(d38) * tfL) +
      (lit(3L).cast(d38) * col("l_total").cast(d38)) +
      (lit(9L).cast(d38) * col("len").cast(d38) * col("n_docs").cast(d38))
    val scored = termTf
      .join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib_u",
        round(col("idf_u").cast("double")
          * (num.cast("double") / den.cast("double"))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), max(col("len")).as("len"),
        sum(col("contrib_u")).as("score_u"))
    val top = scored.orderBy(col("score_u").desc, col("doc_id")).limit(k)
    // rank assignment over the k surviving rows only — never the corpus
    val w = Window.orderBy(col("score_u").desc, col("doc_id"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("doc_id"), col("score_u"), col("n_terms"),
        col("len"))
      .orderBy("rnk")
  }
}
