package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{words, Sketches}
import graft.sources.{Fixtures, Tables}

/** Deduplication family for training-data pipelines (SURVEY §2D).
  *
  * Scale notes: exact dedup is one hash-agg shuffle. MinHash/SimHash are
  * per-row expression trees (codegen, no shuffle) followed by ONE shuffle on
  * the LSH bucket key — the only scalable way to near-dedup 100 TB. The
  * exact-Jaccard and cosine pair operators are O(n²) verification oracles
  * for small SF; at scale they run only on LSH candidate pairs.
  */
object Dedup {

  /** D1 — exact dedup: group identical texts, keep the smallest doc_id.
    * The group key is a 128-bit composite content hash (two
    * independently-seeded xxhash64 passes), so the exchange carries
    * (h1, h2, doc_id) ≈ 24 B/row instead of every byte of the corpus —
    * at 100 TB the old groupBy("text") shuffle WAS the corpus. Collision
    * odds at 10^12 documents are n²/2^129 ≈ 10^-15, the acceptance
    * standard of content-addressed storage; the DuckDB oracle still
    * groups by raw text, so a collision at any test SF fails the hash
    * gate loudly. */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit(1L), col("text")).as("h2"))
      .groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** D12 — dedup SAVINGS census (round 13): the report a curation
    * pipeline publishes after exact dedup — per source, how many
    * documents and whitespace tokens survive when only each content
    * cluster's GLOBAL keeper (min doc_id, the D1 election) is kept.
    * Clusters span sources, so a source is charged for every copy that
    * is not the global keeper — exactly what cross-source syndication
    * costs a token budget. Plan: the D1 content-hash exchange (now
    * carrying (source, n_tok) alongside the 128-bit hash — text never
    * crosses), the keeper election as a window min on the same
    * partitioning (no second exchange), one source rollup. `docs` is
    * any (doc_id, source, text) frame. */
  def dedupSavingsOf(docs: DataFrame): DataFrame = {
    val nWs = size(call_function("regexp_extract_all",
      col("text"), lit("\\S+"), lit(0))).cast("long")
    val w = Window.partitionBy("h1", "h2")
    docs
      .select(col("doc_id"), col("source"), nWs.as("n_tok"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit(1L), col("text")).as("h2"))
      .withColumn("kept",
        (col("doc_id") === min(col("doc_id")).over(w)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("kept") === 1L, col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("saved_permille", savedPermille)
      .orderBy("source")
  }

  /** The census's derived ratio, shared with the streaming twin's
    * delta rollup so both report the identical exact-integer value. */
  private[graft] def savedPermille: Column =
    when(col("tokens_total") === 0L, 0L).otherwise(
      call_function("div",
        (col("tokens_total") - col("tokens_kept")) * 1000L,
        col("tokens_total")))

  private def tokenized(t: Tables): DataFrame = tokenizedDocs(t.documents)

  private def tokenizedDocs(docs: DataFrame): DataFrame = {
    // sorted distinct token sets: lets the pair stage use the linear-merge
    // graft_intersect_size instead of per-pair hash-set building
    docs.select(
      col("doc_id"),
      array_sort(array_distinct(words(col("text")))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
  }

  /** Size-ratio prefilter derived from the caller's threshold:
    * j = i/(na+nb-i) <= min(na,nb)/max(na,nb), so j >= t implies
    * min*1e6 >= floor(t*1e6)*max — a 2-long-mult guard that
    * short-circuits the merge kernel on most pairs. floor keeps the
    * guard WEAKER than the exact filter for non-representable t, so it
    * can never drop a pair the final j >= t filter would keep (the
    * round-3 advice: the old hardcoded 95/100 and 9/10 guards silently
    * assumed the default threshold). */
  private def sizeRatioGuard(threshold: Double): org.apache.spark.sql.Column = {
    val thrNum = math.floor(threshold * 1e6).toLong
    col("n_a") * 1000000L >= col("n_b") * thrNum &&
      col("n_b") * 1000000L >= col("n_a") * thrNum
  }

  /** D2 — exact word-shingle Jaccard near-dup pairs (j >= 0.95). Jaccard of
    * integer set sizes is an exact rational in double ⇒ bit-identical to the
    * oracle. Brute pair space, used as ground truth for D3/D4. `docs`
    * is any (doc_id, text) frame. */
  def jaccardPairsOf(docs: DataFrame, threshold: Double = 0.95): DataFrame = {
    // explicit-count repartition: (1) spreads the O(n²) nested-loop join
    // across all cores — with an advisory (no-count) repartition AQE
    // coalesces these few-KB partitions back to one and the join runs
    // single-threaded; (2) acts as a barrier so tokenization runs once per
    // doc, not per pair
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    // pre-hash tokens to sorted longs: the pair-join condition then runs a
    // primitive merge loop with zero allocation (collision odds over the
    // whole corpus ~1e-10 — accepted; the oracle stays on string sets)
    val hashed = tokenizedDocs(docs).withColumn("toks_h",
      array_sort(transform(col("toks"), tk => xxhash64(tk))))
    val a = hashed.select(
      col("doc_id").as("id_a"), col("toks_h").as("toks_a"), col("n").as("n_a"))
      .repartition(cores * 4, col("id_a"))
    val b = hashed.select(
      col("doc_id").as("id_b"), col("toks_h").as("toks_b"), col("n").as("n_b"))
    val inter = call_function("graft_intersect_long_size", col("toks_a"), col("toks_b"))
    // size-ratio prefilter implied by the final j >= threshold filter:
    // no semantic change (see sizeRatioGuard)
    a.join(broadcast(b), col("id_a") < col("id_b") && sizeRatioGuard(threshold))
      .withColumn("i", inter)
      .withColumn("j", col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard4"))
      // exchange barrier before the sort: orderBy's range sampling
      // re-executes its child, and without a shuffle in between that
      // child is the whole O(n²) join — one extra shuffle of the (tiny)
      // surviving pairs halves the query
      .repartition(cores, col("id_a"))
      .orderBy("id_a", "id_b")
  }

  /** D2b — exact character-3-gram Jaccard near-dup pairs (j >= 0.9):
    * overlapping shingles catch reorderings that word sets miss. Same
    * zero-allocation hashed-merge pair stage as D2.
    *
    * Note: AllPairs-style prefix filtering was measured 2-3x SLOWER here —
    * this corpus's 3-gram vocabulary is tiny, so prefix tokens are hot and
    * candidate generation explodes. On real Zipfian corpora, re-ranking
    * tokens by ascending document frequency before prefix-join is the
    * scale path; on near-uniform vocabularies the blocked nested loop with
    * the merge kernel wins. */
  def ngramJaccardPairs(t: Tables, threshold: Double = 0.9): DataFrame = {
    val cores = t.documents.sparkSession.sparkContext.defaultParallelism
    // native 3-gram kernel: the earlier column form (transform(sequence)
    // + substring + xxhash64) evaluated interpreted per gram and cost
    // more than the pair merge itself; mix64 of the packed chars is a
    // bijection, so |sh_h| is exactly the distinct-gram count
    val hashed = t.documents
      .select(col("doc_id"), call_function("graft_ngram3", col("text")).as("sh_h"))
      .withColumn("n", size(col("sh_h")).cast("long"))
    val a = hashed.select(col("doc_id").as("id_a"), col("sh_h").as("sh_a"), col("n").as("n_a"))
      .repartition(cores * 4, col("id_a"))
    val b = hashed.select(col("doc_id").as("id_b"), col("sh_h").as("sh_b"), col("n").as("n_b"))
    val inter = call_function("graft_intersect_long_size", col("sh_a"), col("sh_b"))
    // size-ratio prefilter implied by j >= threshold (see sizeRatioGuard)
    a.join(broadcast(b), col("id_a") < col("id_b") && sizeRatioGuard(threshold))
      .withColumn("i", inter)
      .withColumn("j", col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard4"))
      // exchange barrier before the sort (see jaccardPairsOf): without it
      // range sampling re-runs the blocked nested-loop join
      .repartition(cores, col("id_a"))
      .orderBy("id_a", "id_b")
  }

  // graft_oph_bands: 64 one-permutation bins in 8 bands of 8 — tuned for
  // j >= 0.9: P[candidate] = 1-(1-j^8)^8 ≈ 0.99 at the threshold

  /** D2c — char-3-gram near-dup pairs at SCALE: one-permutation-minhash
    * banded candidates over the gram hash sets (ONE shuffle on
    * (band, sig) — never the O(n²) blocked loop of the D2b oracle tier;
    * one-permutation because classic 64-function minhash over ~10³-gram
    * sets costs more than the brute loop it replaces), verified by the
    * exact merge kernel, so every emitted pair carries its true
    * Jaccard. Output contract matches [[ngramJaccardPairs]]; DedupSpec
    * measures recall against it and asserts emitted pairs are exact. */
  def ngramLshPairs(t: Tables, threshold: Double = 0.9): DataFrame = {
    val cores = t.documents.sparkSession.sparkContext.defaultParallelism
    val hashed = t.documents
      .select(col("doc_id"), call_function("graft_ngram3", col("text")).as("sh_h"))
      .withColumn("n", size(col("sh_h")).cast("long"))
      .filter(col("n") > 0)
    val a = hashed.select(col("doc_id").as("id_a"),
      col("sh_h").as("sh_a"), col("n").as("n_a"))
    val b = hashed.select(col("doc_id").as("id_b"),
      col("sh_h").as("sh_b"), col("n").as("n_b"))
    candidatesOfSparse(hashed.select(col("doc_id"),
        call_function("graft_oph_bands", col("sh_h")).as("sigs")))
      .join(a, "id_a").join(b, "id_b")
      // size-ratio prefilter implied by j >= threshold (sizeRatioGuard):
      // false banded candidates with incompatible set sizes die on a
      // two-multiply guard instead of a ~10³-element merge
      .filter(sizeRatioGuard(threshold))
      .withColumn("i",
        call_function("graft_intersect_long_size", col("sh_a"), col("sh_b")))
      .withColumn("j",
        col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard4"))
      .repartition(cores, col("id_a"))
      .orderBy("id_a", "id_b")
  }

  /** Band count of the default graft_minhash_bands signature (40 hashes
    * in bands of 10) — [[candidatesOf]]'s fold MUST cover exactly this
    * many bands; fewer would silently drop every pair whose first
    * agreement lies in a later band. */
  private[operators] val MinhashNumBands = 40 / 10

  /** D3 — MinHash LSH candidate pairs: 40 min-hashes in 4 bands x 10 rows
    * (tuned for the ~0.95 Jaccard target: P[candidate] = 1-(1-j^10)^4 ≈
    * 0.974 at j = 0.95 — the round-3 4×16 geometry sat at 0.90; shorter
    * rows buy recall at IDENTICAL shuffle volume, still 4 (band, sig)
    * rows per doc. Measured trade at sf0.1: 8-row bands also hit recall
    * 1.0 but tripled false candidates, costing 1-2 s of kernel verify
    * per clustering query; 10 rows keep both recall and the FP rate.)
    * Docs sharing any band signature become a candidate pair — ONE shuffle
    * on (band, sig). Signatures are the native codegen expression
    * (SketchExpressions; DedupSpec pins it to the Sketches UDF reference).
    * Hash-exact oracle (the DuckDB twin regenerates the band
    * signatures); DedupSpec checks recall vs exact Jaccard (D2). */
  def minhashCandidates(t: Tables): DataFrame = {
    val cores = t.documents.sparkSession.sparkContext.defaultParallelism
    minhashCandidateCore(t)
      // exchange barrier before the sort (see jaccardPairsOf)
      .repartition(cores, col("id_a"))
      .orderBy("id_a", "id_b")
  }

  /** First agreeing band of the two carried signature arrays: the
    * exactly-once emission key of [[candidatesOf]] — a pair agreeing on
    * several bands would surface once per band; keeping only the row
    * whose band is the first agreement needs no distinct() shuffle over
    * the duplicates. */
  private def firstAgreeingBand(nBands: Int): org.apache.spark.sql.Column =
    (0 until nBands).reverse
      .foldLeft(lit(nBands): org.apache.spark.sql.Column) { (acc, j) =>
        when(col("x.sigs").getItem(j) === col("y.sigs").getItem(j), j).otherwise(acc)
      }

  /** Candidate pairs from a (doc_id, sigs) frame — ONE shuffle on
    * (band, sig), exactly-once emission via [[firstAgreeingBand]].
    * `nBands` MUST equal the signature array's length (fewer would
    * silently drop pairs whose first agreement lies in a later band).
    *
    * WHICH DEDUP FORM depends on candidate DENSITY, and the two forms
    * were measured against each other (round 10, sf0.1): minhash's
    * loose 10-hash bands over a dup-heavy corpus yield candidate sets
    * far LARGER than the 4-long carried arrays are wide — a distinct()
    * over them shuffles more than the array carry saves (1.8× slower
    * measured) — so the dense engine keeps the carried-array election.
    * [[candidatesOfSparse]] is the opposite regime; the embedding twin
    * [[embeddingPairsLshOf]] (16-long arrays, sparse verified pairs)
    * likewise uses its distinct form. */
  private[operators] def candidatesOf(withSigs: DataFrame,
      nBands: Int = MinhashNumBands): DataFrame = {
    val sigs = withSigs.select(col("doc_id"), col("sigs"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.band") === firstAgreeingBand(nBands))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
  }

  /** [[candidatesOf]] for SPARSE candidate regimes (tight thresholds —
    * few agreeing pairs relative to corpus): the explode ships
    * (band, sig, doc_id) only and a candidate-sized DISTINCT collapses
    * multi-band agreements. Measured 36% faster than the carried-array
    * form on the 8-band OPH char-gram path (j ≥ 0.9), where candidates
    * are rare and the 8-long arrays doubled the exchange row width. */
  private[operators] def candidatesOfSparse(withSigs: DataFrame): DataFrame = {
    val sigs = withSigs.select(col("doc_id"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** Candidate generation without the public query's output contract
    * (repartition + orderBy): the edge source for [[clusterDocsLsh]],
    * where candidate order is irrelevant and the sort would be wasted. */
  private def minhashCandidateCore(t: Tables): DataFrame =
    minhashCandidateCoreOf(t.documents)

  private def minhashCandidateCoreOf(docs: DataFrame): DataFrame =
    candidatesOf(tokenizedDocs(docs)
      .filter(col("n") > 0)
      .select(col("doc_id"),
        call_function("graft_minhash_bands", col("toks")).as("sigs")))

  /** D13 — dedup CANDIDATE-QUALITY census (round 15; the D-family
    * analog of the E13 retrieval eval): precision/recall of the
    * MinHash-LSH candidate stage against the exact-Jaccard truth — the
    * number every banded-dedup deployment tunes its (hashes, bands)
    * layout against before trusting it at corpus scale. Precision
    * prices the wasted verification work (candidates that fail the
    * exact check); recall prices the silently-missed duplicates —
    * the metric that CANNOT be observed in production (the misses are
    * invisible), which is exactly why the census runs on a small
    * exact-verifiable slice.
    *
    * Exact integers end to end: membership full-outer join on the
    * (id_a, id_b) pair key (both stages emit a < b), counts, and two
    * floor-divided permilles. Scale shape: the truth tier is the D2
    * brute oracle — the census runs where truth is computable (a
    * sampled slice at 100 TB); the candidate tier is the production
    * banding. */
  def dedupEval(t: Tables, threshold: Double = 0.95): DataFrame =
    dedupEvalOf(minhashCandidateCore(t),
      jaccardPairsOf(t.documents, threshold).select(col("id_a"), col("id_b")))

  /** D13b — the census's DEPLOY form: the identical metrics over a
    * growth-stable HASH SLICE of the corpus (the F18 bucket arithmetic:
    * keep docs with mix64(doc_id) mod 2²⁰ below 2²⁰/denom), because at
    * 100 TB the exact-truth tier is only computable on a slice — and a
    * hash slice keeps each doc's membership STABLE under corpus growth,
    * so successive audits measure the same cohort. Both stages restrict
    * to the slice, so the estimate is the true precision/recall of the
    * banding ON that cohort (pairs sample at rate 1/denom²; the audit
    * trades variance for the m² cost reduction, the documented D13
    * deployment substitution). */
  def dedupEvalSampled(t: Tables, threshold: Double = 0.95,
      denom: Int = 4): DataFrame = {
    val buckets = 1L << 20
    val sliced = t.documents.filter(
      pmod(call_function("graft_mix64", col("doc_id")), lit(buckets))
        < buckets / denom)
    dedupEvalOf(minhashCandidateCoreOf(sliced),
      jaccardPairsOf(sliced, threshold).select(col("id_a"), col("id_b")))
  }

  /** Library form over any candidate / truth pair sets (id_a < id_b). */
  def dedupEvalOf(cand: DataFrame, truth: DataFrame): DataFrame = {
    val c = cand.select(col("id_a"), col("id_b"), lit(1L).as("in_c"))
    val tr = truth.select(col("id_a"), col("id_b"), lit(1L).as("in_t"))
    c.join(tr, Seq("id_a", "id_b"), "full")
      .select(coalesce(col("in_c"), lit(0L)).as("in_c"),
        coalesce(col("in_t"), lit(0L)).as("in_t"))
      .agg(sum(col("in_c")).as("n_cand"),
        sum(col("in_t")).as("n_truth"),
        sum(col("in_c") * col("in_t")).as("n_hit"))
      .select(col("n_cand"), col("n_truth"), col("n_hit"),
        when(col("n_cand") === 0L, 0L).otherwise(
          call_function("div", col("n_hit") * 1000L, col("n_cand")))
          .as("precision_permille"),
        when(col("n_truth") === 0L, 0L).otherwise(
          call_function("div", col("n_hit") * 1000L, col("n_truth")))
          .as("recall_permille"))
  }

  /** Band layout for [[simhashPairs]]: 7 bands over 64 bits (widths
    * 10,9,9,9,9,9,9 as (offset, width)). A pair at Hamming distance d has
    * differing bits in at most d bands, so with 7 bands any pair at
    * Hamming <= 6 shares at least one full band by pigeonhole —
    * candidate generation is COMPLETE for the default maxHamming = 6.
    * (Round-1 defect: 4 x 16-bit chunks were complete only for <= 3.) */
  private[operators] val simhashBandLayout: Seq[(Int, Int)] = {
    val widths = Seq(10, 9, 9, 9, 9, 9, 9)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** D4 — SimHash: 64-bit signature from token hashes (sign-aggregated
    * bits); candidates = pairs sharing one of the 7 pigeonhole bands
    * ([[simhashBandLayout]]), verified at Hamming <= maxHamming inside the
    * join condition. Hash-exact oracle (the DuckDB twin recomputes the
    * signature and filters on bit_count directly); DedupSpec checks
    * completeness against brute-force Hamming pairs.
    *
    * Skew: near-uniform corpora make some band values very hot (measured
    * round 1: one group holding 30% of docs ⇒ one quadratic sort-merge
    * group on one task). Round 1 statically replicated the build side 16x
    * for ALL rows — 22 s of bench time to cure a few hot groups. Now a
    * cheap pre-count finds the hot (k,cv) groups (tiny agg, broadcast
    * back) and ONLY those are salted: probe side takes a deterministic
    * block, build side is replicated into every block. Each pair is still
    * produced exactly once; cold groups pay zero replication. */
  def simhashPairs(t: Tables, maxHamming: Int = 6,
                   hotGroupSize: Int = 1024, blocks: Int = 16): DataFrame = {
    val bands = array(simhashBandLayout.zipWithIndex.map { case ((off, w), k) =>
      struct(lit(k).as("k"),
        call_function("shiftright", col("sig"), lit(off))
          .bitwiseAND(lit((1L << w) - 1L)).as("cv"))
    }: _*)
    val sigs = tokenized(t)
      .filter(col("n") > 0)
      .withColumn("sig", call_function("graft_simhash", col("toks")))
      .select(col("doc_id"), col("sig"), explode(bands).as("c"))
      .select(col("doc_id"), col("sig"), col("c.k").as("k"), col("c.cv").as("cv"))
    // hot bands as a driver-side list — model-sized (only groups over the
    // threshold), like the IVF centroids: the probe/build sides then tag
    // hotness with a literal lookup instead of two extra joins. No
    // persist: an in-operator cache cannot be released once the lazy
    // plan escapes (an earlier version leaked one cached copy per call);
    // the native sig kernel makes the three derivations cheap, and a
    // caller looping over corpora can cache outside.
    val hotKeys: Seq[Long] = sigs.groupBy("k", "cv")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= hotGroupSize)
      .select((col("k").cast("long") * 1024L + col("cv")).as("hk"))
      .collect().map(_.getLong(0)).toSeq
    val keyCol = col("k").cast("long") * 1024L + col("cv")
    // a literal isin is the cheapest tag for the usual handful of hot
    // groups (the optimizer rewrites larger lists to an InSet hash
    // lookup, so codegen stays bounded at any size). The join branch
    // exists for PATHOLOGICAL corpora where the hot list itself gets
    // big: a plan-embedded literal set ships with every task closure
    // and lives in the driver plan, while a broadcast frame ships once
    // per executor. Same semantics either way; the hotGroupSize=1
    // completeness spec exercises the join branch.
    val tagged =
      if (hotKeys.isEmpty) sigs.withColumn("hot", lit(false))
      else if (hotKeys.length <= 1000)
        sigs.withColumn("hot", keyCol.isin(hotKeys: _*))
      else {
        val session = t.documents.sparkSession
        val hotDf = session.createDataFrame(
          session.sparkContext.parallelize(hotKeys.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("hk",
              org.apache.spark.sql.types.LongType, nullable = false))))
          .withColumn("is_hot", lit(true))
        sigs.withColumn("hk", keyCol)
          .join(broadcast(hotDf), Seq("hk"), "left")
          .withColumn("hot", coalesce(col("is_hot"), lit(false)))
          .drop("hk", "is_hot")
      }
    // spread the probe side: the documents scan is a handful of input
    // splits at small SF, which would run the whole bucket-probe loop on
    // as few tasks — explicit-count repartition (AQE-proof) fans the
    // candidate iteration across every core
    val cores = t.documents.sparkSession.sparkContext.defaultParallelism
    val x = tagged.repartition(cores * 4, col("doc_id"))
      .withColumn("bx",
        when(col("hot"), pmod(xxhash64(col("doc_id")), lit(blocks.toLong)))
          .otherwise(lit(0L)))
    val y = tagged.withColumn("by",
      explode(when(col("hot"), sequence(lit(0L), lit(blocks.toLong - 1L)))
        .otherwise(array(lit(0L)))))
    // exactly-once emission: a close pair shares EVERY band its xor
    // leaves clean, so it would surface once per clean band (up to 7x —
    // measured 5x row inflation into a distinct() shuffle). Keep only the
    // row whose band k is the FIRST clean band of the xor — pure codegen
    // arithmetic, no distinct, no duplicate shuffle volume.
    val xorSig = col("x.sig").bitwiseXOR(col("y.sig"))
    def bandClean(j: Int): org.apache.spark.sql.Column = {
      val (off, w) = simhashBandLayout(j)
      call_function("shiftright", xorSig, lit(off))
        .bitwiseAND(lit((1L << w) - 1L)) === 0L
    }
    val firstCleanBand = simhashBandLayout.indices.reverse
      .foldLeft(lit(simhashBandLayout.length)) {
        (acc, j) => when(bandClean(j), j).otherwise(acc)
      }
    x.as("x").join(y.as("y"),
        col("x.k") === col("y.k") && col("x.cv") === col("y.cv") &&
          col("bx") === col("by") &&
          col("x.doc_id") < col("y.doc_id") &&
          call_function("bit_count", xorSig) <= maxHamming)
      .filter(col("x.k") === firstCleanBand)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        call_function("bit_count", xorSig).cast("long").as("hamming"))
      // exchange barrier before the sort (see jaccardPairsOf)
      .repartition(t.documents.sparkSession.sparkContext.defaultParallelism,
        col("id_a"))
      .orderBy("id_a", "id_b")
  }

  /** D6 — near-dup CLUSTERING: the step after pair generation — group
    * near-duplicate documents into connected components and name each by
    * its smallest doc_id (a curation pipeline then keeps one doc per
    * cluster). Distributed min-label propagation: every iteration is one
    * join + one min-agg (labels flow along edges until fixpoint), the
    * standard connected-components shape at 100 TB — no driver-side
    * graph, O(component diameter) rounds, convergence checked exactly.
    * Near-dup components are near-cliques, so 2-4 rounds suffice. Oracle:
    * recursive transitive closure over the same pair query. */
  def dedupClusters(t: Tables, maxIters: Int = 50): DataFrame =
    connectedComponents(
      t.documents.select(col("doc_id")),
      jaccardPairsOf(t.documents).select(col("id_a"), col("id_b")),
      maxIters)

  /** D6c — canonical-member election by QUALITY: production dedup
    * keeps each near-dup cluster's BEST document, not its first —
    * near-dup clusters typically mix a clean original with mangled
    * re-crawls, and electing by doc_id keeps whichever leaked in
    * first. The election key is (stop_ratio DESC, doc_id) over the
    * cluster labels, stop_ratio being the shared F1/F16 score builder,
    * so cluster membership, score, and election all replay
    * bit-identically in the oracle.
    *
    * Scale shape: clusters come from the D6b LSH tier
    * ([[clusterDocsLsh]] — banded candidates verified at exact
    * Jaccard, the edge source that runs at 100 TB; the O(n²) D6 tier
    * stays reachable through [[dedupKeepBestOf]], and DedupSpec
    * replays its election driver-side as the equality twin); the
    * score is one documents-scan projection; the join keys on doc_id
    * and the election is ONE window pass over rows already shuffled
    * by cluster — no O(n²) stage, no driver state. */
  def dedupKeepBest(t: Tables, maxIters: Int = 50): DataFrame =
    dedupKeepBestOf(clusterDocsLsh(t.documents, maxIters = maxIters), t.documents)

  /** Library form of the D6c election over any (doc_id, cluster_id)
    * labeling and any (doc_id, text) corpus. */
  def dedupKeepBestOf(clusters: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(col("doc_id"),
      graft.operators.TextOps.stopRatioCol.as("stop_ratio"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("stop_ratio").desc, col("doc_id"))
    clusters.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("stop_ratio"))
      .orderBy("cluster_id")
  }

  /** D9 — corpus SNAPSHOT DIFF: classify every doc_id across two corpus
    * versions as added / removed / changed / unchanged — the audit pass
    * run before promoting a new corpus drop (paired with C20's profile:
    * the profile says whether the new version is trustworthy, the diff
    * says what it changed). The test shape derives both versions
    * deterministically from the one table: v1 lacks doc_id%7==3 (added
    * later) and carries a mangled %7==5 (changed later); v2 lacks %7==4
    * (removed).
    *
    * Scale shape: the D1 exchange discipline — each side reduces to
    * (doc_id, 128-bit content hash) at the scan, so the full-outer join
    * shuffles ~24 B/row, never text; both sides hash-partition on
    * doc_id, the partitioning every keyed table already has. The oracle
    * compares RAW text, so a hash collision at any SF fails loudly. */
  def snapshotDiff(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"), col("text"))
    val v1 = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7L)) === 5L,
          concat(col("text"), lit(" draft"))).otherwise(col("text")))
    val v2 = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 4L)
    snapshotDiffOf(v1, v2)
  }

  /** Library form over any two (doc_id, text) snapshots. */
  def snapshotDiffOf(old: DataFrame, neu: DataFrame): DataFrame = {
    def hashed(df: DataFrame, p: String) = df.select(col("doc_id"),
      xxhash64(col("text")).as(s"${p}h1"),
      xxhash64(lit(1L), col("text")).as(s"${p}h2"))
    hashed(old, "o_")
      .join(hashed(neu, "n_"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("o_h1").isNull, "added")
          .when(col("n_h1").isNull, "removed")
          .when(col("o_h1") === col("n_h1") && col("o_h2") === col("n_h2"),
            "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"))
      .orderBy("doc_id")
  }

  /** D10 — INCREMENTAL connected components: extend the settled corpus's
    * clustering with a new ingest batch WITHOUT regenerating any
    * settled×settled edge. Prior state enters the propagation as label
    * edges — each settled component collapses to a star on its label —
    * and only pairs TOUCHING a fresh doc are candidate-generated, so the
    * per-batch cost scales with |fresh| × (candidates per doc), never
    * with the settled corpus (the D7/TextIndex discipline applied to
    * clustering: at deploy scale the fresh-touching edges come from
    * probing the persisted band index; here the oracle-tier verified
    * Jaccard join plays that role at test SF).
    *
    * Correctness: replacing a component's internal edges by a spanning
    * star preserves connectivity, and every fresh-touching edge is
    * present, so the components — and their min-doc_id labels — equal
    * the full recompute's exactly. A fresh doc near-dup to TWO settled
    * clusters merges them, exactly as a full recompute would
    * (DedupSpec plants this case). `isFresh` marks the new ingest slice
    * of `docs`.
    *
    * The merge step runs on the QUOTIENT graph: each settled component
    * contracts to its label node (labels are min-member ids, so quotient
    * minima ARE corpus minima), fresh docs are their own nodes, and the
    * fresh edges map endpoint → its label. Components of the contracted
    * graph expanded back equal components of (label stars ∪ fresh edges)
    * — the standard contraction argument — but the closure now runs over
    * the fresh-TOUCHING subgraph only, not the whole corpus: round 12
    * measured the full-corpus final propagation at ~6 s of the 16 s
    * harness at sf0.1, all of it spent re-converging labels that could
    * not change. This is also the true deployment shape: prior labels
    * arrive as a (doc_id → label) table, and the batch's work is
    * edges + a quotient closure sized by the batch. */
  def dedupClustersIncrementalOf(docs: DataFrame, isFresh: Column,
      threshold: Double = 0.95, maxIters: Int = 50): DataFrame = {
    val settled = docs.filter(!isFresh)
    val fresh = docs.filter(isFresh)
    // prior state: the settled corpus's labels — computed here so the
    // query is self-contained; a deployment reads the previous run's
    // output instead (the settled side then never re-tokenizes)
    // label-table-sized checkpoint: the labels feed THREE consumers
    // (both qEdges endpoint maps + the settled re-label), and without
    // it each re-executes the closure's tail joins and a documents
    // rescan
    val settledLabels = connectedComponents(
      settled.select(col("doc_id")),
      jaccardEdgesBetween(settled, settled, threshold), maxIters)
      .localCheckpoint()
    // every edge with >=1 fresh endpoint (all×fresh covers settled-fresh
    // once and fresh-fresh twice — connectedComponents symmetrizes, so
    // duplicate/directed edges are harmless). Argument order matters:
    // jaccardEdgesBetween broadcasts its SECOND side, which must be the
    // small fresh batch, never the settled corpus — the per-batch cost
    // claim (scales with |fresh|) only holds with fresh on the broadcast
    // side (round-11 advice: the swapped form hit broadcast limits as
    // soon as the settled corpus outgrew the batch). Checkpointed
    // (edge-list-sized) because qNodes and the quotient closure's edge
    // materialization would otherwise each rerun the verify join.
    val freshEdges = jaccardEdgesBetween(docs, fresh, threshold)
      .localCheckpoint()
    quotientMerge(fresh, settledLabels, freshEdges, maxIters)
  }

  /** The quotient-merge step shared by both incremental forms: prior
    * settled labels + verified fresh-touching edges → final labels for
    * the whole corpus. Every stage is sized by the batch (quotient
    * nodes/edges) or the label table — never by settled edges. */
  private def quotientMerge(fresh: DataFrame, settledLabels: DataFrame,
      freshEdges: DataFrame, maxIters: Int): DataFrame = {
    val la = settledLabels.select(col("doc_id").as("a_id"), col("cluster_id").as("a_lab"))
    val lb = settledLabels.select(col("doc_id").as("b_id"), col("cluster_id").as("b_lab"))
    val qEdges = freshEdges
      .join(la, col("id_a") === col("a_id"), "left")
      .join(lb, col("id_b") === col("b_id"), "left")
      .select(coalesce(col("a_lab"), col("id_a")).as("id_a"),
        coalesce(col("b_lab"), col("id_b")).as("id_b"))
    val qNodes = qEdges.select(col("id_a").as("doc_id"))
      .unionByName(qEdges.select(col("id_b").as("doc_id")))
      .distinct()
    // quotient closure: fresh-touching nodes only — batch-sized
    val qLabels = connectedComponents(qNodes, qEdges, maxIters)
      .select(col("doc_id").as("q_id"), col("cluster_id").as("q_lab"))
    val settledFinal = settledLabels
      .join(qLabels, col("cluster_id") === col("q_id"), "left")
      .select(col("doc_id"), coalesce(col("q_lab"), col("cluster_id")).as("cluster_id"))
    val freshFinal = fresh.select(col("doc_id"))
      .join(qLabels, col("doc_id") === col("q_id"), "left")
      .select(col("doc_id"), coalesce(col("q_lab"), col("doc_id")).as("cluster_id"))
    settledFinal.unionByName(freshFinal).orderBy("doc_id")
  }

  /** D10 DEPLOYMENT shape (round 14 — the round-13 verdict's top item):
    * incremental components where the settled corpus contributes ONLY
    * two persisted artifacts — its label table and its [[TextIndex]]
    * band/hash index — and the per-batch work is an index PROBE plus a
    * quotient closure. No settled×settled stage exists anywhere in the
    * query: fresh-touching candidates come from [[TextIndex.dedupBatch]]'s
    * band tier (pinned by TextIndexSpec to equal the full-corpus minhash
    * candidates involving a batch doc), are verified by the exact
    * Jaccard kernel (tokenizing ONLY candidate-endpoint documents — the
    * id join prunes the corpus scan before the tokenize projection), and
    * merge into the prior labels on the quotient graph.
    *
    * Correctness is exact BY CONSTRUCTION against the full LSH
    * recompute ([[clusterDocsLsh]]'s closure): candidate generation is
    * a pure pair function (two docs share a band or not, independent of
    * the rest of the corpus), so settled-only clustering + fresh-probe
    * candidates partition the full candidate set exactly, and the
    * contraction argument does the rest — unlike a recall-based claim,
    * no borderline pair can break the equality. The oracle is therefore
    * dedup_clusters_lsh's full-recompute closure, and hash equality IS
    * the incremental claim. */
  def dedupClustersIncrementalIndexed(docs: DataFrame, isFresh: Column,
      settledLabels: DataFrame, indexDir: String,
      threshold: Double = 0.95, maxIters: Int = 50): DataFrame = {
    val fresh = docs.filter(isFresh)
    // the index-probe joins materialize in this eager checkpoint: size
    // their reducer count from the settled index bytes (the corpus-
    // scaled side of the exchange), exactly as curateKeepers does —
    // the constant-width probe OOMs the 8 g heap at the sf10 rung
    val spark0 = docs.sparkSession
    val cand = withInitialPartitions(spark0, sizedShufflePartitions(
        spark0, TextIndex.indexBytes(spark0, indexDir))) {
      val c0 = TextIndex.dedupBatchCore(fresh, indexDir)
        .filter(col("reason") === "band")
        .select(col("id_a"), col("id_b"))
      graft.tools.StagePlans.record(c0, "incr/band_probe")
      c0.localCheckpoint(true) // candidate-sized; feeds verify + id list
    }
    val ids = cand.select(col("id_a").as("doc_id"))
      .unionByName(cand.select(col("id_b").as("doc_id")))
      .distinct()
    // tokenize AFTER the id join: only candidate-endpoint documents pay
    // the tokenize+hash projection (at deploy scale the broadcast semi
    // join prunes a keyed table's scan to point lookups; the settled
    // corpus is never re-signed — that is the index's job)
    val toks = tokenizedDocs(docs.join(broadcast(ids), Seq("doc_id")))
      .select(col("doc_id"),
        array_sort(transform(col("toks"), tk => xxhash64(tk))).as("toks_h"),
        col("n"))
      .localCheckpoint(true)
    val a = toks.select(col("doc_id").as("id_a"),
      col("toks_h").as("toks_a"), col("n").as("n_a"))
    val b = toks.select(col("doc_id").as("id_b"),
      col("toks_h").as("toks_b"), col("n").as("n_b"))
    // same j arithmetic as clusterDocsLshCore — the verified edge rule
    // the oracle replays
    val freshEdges = cand.join(a, "id_a").join(b, "id_b")
      .withColumn("i",
        call_function("graft_intersect_long_size", col("toks_a"), col("toks_b")))
      .withColumn("j",
        col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    quotientMerge(fresh, settledLabels, freshEdges, maxIters)
  }

  /** Builds (once per source generation, [[graft.sources.Fixtures.once]])
    * the SETTLED corpus's LSH-closure label table for `sfDir` and
    * returns its parquet path: the prior-state artifact
    * [[dedupClustersIncrementalIndexed]] reads, exactly what a
    * deployment carries forward from its previous run. Settled = the
    * doc_id % 8 != 7 slice, matching [[TextIndex.materialize]]'s index
    * coverage so the two artifacts describe the same corpus version. */
  def materializeSettledLabels(t: Tables, sfDir: String): String = {
    val spark = t.documents.sparkSession
    val out = Fixtures.once(spark, "settled_labels_v1", sfDir) { dir =>
      clusterDocsLsh(t.documents.filter(pmod(col("doc_id"), lit(8L)) =!= 7L))
        .write.mode("overwrite").parquet(s"$dir/labels")
    }
    s"$out/labels"
  }

  /** Verified-Jaccard edges between two doc sets (directed a×b,
    * id_a != id_b) — the D2 hashed-merge pair stage generalized off the
    * self-join. Small-SF tier: the b side broadcasts like
    * [[jaccardPairsOf]]'s; the 100 TB path generates candidates from the
    * persisted band index instead (TextIndex.dedupBatch). */
  private[operators] def jaccardEdgesBetween(a0: DataFrame, b0: DataFrame,
      threshold: Double): DataFrame = {
    val cores = a0.sparkSession.sparkContext.defaultParallelism
    def hashed(df: DataFrame) = tokenizedDocs(df).withColumn("toks_h",
      array_sort(transform(col("toks"), tk => xxhash64(tk))))
    val a = hashed(a0).select(
      col("doc_id").as("id_a"), col("toks_h").as("toks_a"), col("n").as("n_a"))
      .repartition(cores * 4, col("id_a"))
    val b = hashed(b0).select(
      col("doc_id").as("id_b"), col("toks_h").as("toks_b"), col("n").as("n_b"))
    a.join(broadcast(b), col("id_a") =!= col("id_b") && sizeRatioGuard(threshold))
      .withColumn("i",
        call_function("graft_intersect_long_size", col("toks_a"), col("toks_b")))
      .withColumn("j",
        col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** D6b — near-dup clustering at SCALE: same output contract as
    * [[dedupClusters]], but the edge list comes from MinHash LSH
    * candidates (D3, one shuffle on (band, sig)) verified by the exact
    * Jaccard kernel — never from the O(n²) pair join. This is the form
    * that runs at 100 TB; [[dedupClusters]] stays as its small-SF oracle
    * (DedupSpec asserts the two produce identical clusters at sf0.001).
    *
    * Verification re-joins the candidate ids against the hashed token
    * sets instead of carrying tokens through the band explode: carried
    * tokens would cross the LSH exchange once PER BAND (4× corpus token
    * volume); the join-back moves the candidate ids (16 B/row) plus each
    * side's tokens exactly once. False LSH candidates die at the j <
    * threshold filter, so only true near-dup edges reach the components
    * loop. `docs` is any (doc_id, text) frame — e.g. the survivors of a
    * quality/exact-dedup pass ([[TextOps.curationFull]]). */
  def clusterDocsLsh(docs: DataFrame, threshold: Double = 0.95,
      maxIters: Int = 50): DataFrame =
    clusterDocsLshCore(docs, docs.select(col("doc_id")), threshold, maxIters)

  /** [[clusterDocsLsh]] with the components node list supplied
    * separately: a caller holding the doc ids as a small materialized
    * frame (curationFull) passes it here so the big text-carrying
    * working set is referenced ONLY by stages that run eagerly inside
    * this call — and can therefore be freed before the lazy result
    * plan escapes. */
  private[operators] def clusterDocsLshCore(docs: DataFrame, nodes: DataFrame,
      threshold: Double, maxIters: Int): DataFrame = {
    // the tokenized corpus is needed THREE times (both sides of the
    // band self-join, then both sides of the verify join-back), and the
    // operator is eager anyway — the components loop runs jobs — so one
    // materialized pass replaces three scan+tokenize+hash subtrees (no
    // lazy-plan cache leak; measured ~25% of the query at sf0.1)
    val hashed0 = tokenizedDocs(docs)
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        array_sort(transform(col("toks"), tk => xxhash64(tk))).as("toks_h"),
        call_function("graft_minhash_bands", col("toks")).as("sigs"))
    graft.tools.StagePlans.record(hashed0, "lsh/hashed")
    val hashed = hashed0.localCheckpoint(true)
    val a = hashed.select(col("doc_id").as("id_a"),
      col("toks_h").as("toks_a"), col("n").as("n_a"))
    val b = hashed.select(col("doc_id").as("id_b"),
      col("toks_h").as("toks_b"), col("n").as("n_b"))
    // same j arithmetic as jaccardPairs: exact rational in double, so
    // the verified edge set equals the brute pair set wherever LSH recall
    // is 1 (the spec's equality condition)
    val edges = candidatesOf(hashed.select(col("doc_id"), col("sigs")))
      .join(a, "id_a").join(b, "id_b")
      .withColumn("i",
        call_function("graft_intersect_long_size", col("toks_a"), col("toks_b")))
      .withColumn("j",
        col("i").cast("double") / (col("n_a") + col("n_b") - col("i")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"))
    // the band self-join + verify join-back shuffle token-array-sized
    // rows: size their reducer count from the measured corpus bytes
    // (the components loop re-sizes itself from the smaller edge set)
    val out = withInitialPartitions(docs.sparkSession,
        sizedShufflePartitions(docs.sparkSession, materializedBytes(hashed))) {
      connectedComponents(nodes, edges, maxIters)
    }
    // connectedComponents materialized the edge list eagerly before
    // returning, so the hashed working set (tokens + signatures — the
    // bulk of the corpus) is fully consumed: free its blocks NOW
    // instead of leaving them to driver GC (the round-3 bench held one
    // hashed corpus per clustering query for the whole 59-query run)
    freeLocalCheckpoint(hashed)
    out
  }

  /** Frees the executor blocks behind a localCheckpoint'd frame. A local
    * checkpoint truncates lineage, so freed blocks CANNOT be recomputed —
    * call only once every consumer of the frame has materialized. The
    * explicit release matters because ContextCleaner only unpersists on
    * driver GC: a long session (the 59-query bench) otherwise pins every
    * superseded working set in block storage indefinitely (r3 verdict). */
  private[operators] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Planner bytes of a frame's source relations — for parquet scans
    * this is the on-disk file size (exact, from the file listing, no
    * job): the sizing input where an operator's working set is a source
    * table rather than an already-materialized block set. */
  private[operators] def scanBytes(df: DataFrame): Long = {
    val s = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (s.isValidLong) s.toLong else Long.MaxValue
  }

  /** Exact stored size of a localCheckpoint'd frame — free driver-side
    * metadata (the blocks are already materialized), the honest input
    * to [[sizedShufflePartitions]]. Reliable checkpoints and
    * non-checkpointed frames report 0, which sizes to the session floor
    * (today's behavior). */
  private[operators] def materializedBytes(df: DataFrame): Long =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val id = l.rdd.id
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == id).map(i => i.memSize + i.diskSize).getOrElse(0L)
      case _ => 0L
    }

  /** Scale-adaptive shuffle width (guide §2.2): reducer count derived
    * from the measured bytes of the working set, never a constant —
    * `spark.sql.shuffle.partitions` is sized for the SESSION (the bench
    * contract pins it to the core count), but an iterative operator's
    * per-round exchanges must grow with ITS data or per-task state grows
    * linearly with the corpus (the sf10 rung needed an 8×-the-default
    * heap purely because 100× the rows still landed on the session's 32
    * reducers). Floor = the session width, so at bench SF the value is
    * exactly today's and plans/times are untouched; the ceiling only
    * engages when the operator's materialized input outgrows the floor ×
    * target product. `spark.graft.shuffle.targetPartitionBytes` (default 2 MB
    * local, A/B-probed at the sf10 rung: with the rule disabled the
    * fixpoint dies on SparkOutOfMemoryError at the 8 g bench heap, with
    * the 2 MB target it completes in 90.5 s — 1.7× faster than the same
    * query on a 64 g heap at the session width; 2 MB of stored
    * localCheckpoint bytes expands ~10× into per-task hash state, which
    * across 32 concurrent local tasks stays under the heap. Clusters
    * raise it toward the guide's 100 MB–1 GB post-shuffle range per
    * executor sizing) parameterizes the target. */
  private[graft] def sizedShufflePartitions(
      spark: org.apache.spark.sql.SparkSession, bytes: Long): Int = {
    val target = spark.conf
      .get("spark.graft.shuffle.targetPartitionBytes", (2L * 1024 * 1024).toString)
      .toLong
    // the TRUE session width (spark.sql.shuffle.partitions), not
    // SQLConf.numShufflePartitions — the latter returns the AQE
    // initialPartitionNum when coalescing is on, so a nested sizing
    // call (connectedComponents inside clusterDocsLshCore's pinned
    // block) would read the OUTER corpus-sized pin as its floor and
    // could never size down to its own (smaller) edge set
    val floor = spark.sessionState.conf.defaultNumShufflePartitions.toLong
    math.max(floor, math.min(32768L, bytes / math.max(1L, target) + 1L)).toInt
  }

  /** Runs `body` with AQE's pre-coalesce partition count pinned to `n`,
    * restoring the caller's setting after. AQE's coalescing still
    * right-sizes DOWN per exchange (parallelismFirst keeps at least the
    * default parallelism), so a raised ceiling never fragments a small
    * shuffle — it only lets a large one use more reducers. No-op when
    * AQE is off.
    *
    * SINGLE-THREADED DRIVER ASSUMPTION: the pin mutates session-global
    * conf around `body`, so a query planned concurrently on the SAME
    * SparkSession (e.g. a streaming micro-batch overlapping a
    * clustering call) would plan under this operator's width, and
    * interleaved nesting from two threads can restore the wrong
    * previous value. Every driver in this repo (Bench, Verify, PlanDump,
    * entry()) submits queries sequentially; a concurrent caller must
    * isolate with `SparkSession.newSession()` per thread. */
  private[graft] def withInitialPartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** Monotone per-call id: namespaces each reliable-checkpoint run under
    * its own subdirectory so concurrent/subsequent calls (or any other
    * df.checkpoint in the same context) never write into a directory
    * this call deletes. */
  private val ccCallId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Min-label propagation over an undirected pair graph: every node
    * takes the smallest label among itself and its neighbors until no
    * label changes (exact fixpoint, checked each round). Each round's
    * labels are eagerly checkpointed — an iterative plan otherwise
    * grows exponentially (each round references the previous plan
    * several times) and OOMs the planner itself.
    *
    * `checkpointDir`: None uses localCheckpoint (executor-local blocks —
    * fastest, right for a single-JVM or preemption-free cluster); Some
    * writes reliable checkpoints to that directory (object store/DFS),
    * so a lost executor costs a task retry instead of the whole
    * iteration history — the right setting for long dedup jobs on spot
    * instances. The algorithm is identical either way (the spec runs
    * both).
    *
    * Throws IllegalStateException when labels still move after
    * `maxIters` rounds: unconverged labels are not components. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // reliable mode mutates the SparkContext-global checkpoint dir per
    // round; remember the caller's setting and restore it on exit so a
    // later df.checkpoint elsewhere doesn't land in (and lose to) this
    // call's tree. Reliable mode remains single-writer per context
    // DURING the call — concurrent checkpoints interleave directories.
    val prevCheckpointDir = sc.getCheckpointDir
    val callNs = s"cc_${ccCallId.incrementAndGet()}"
    // every materialization gets its own subdirectory so a SUPERSEDED
    // round is released as soon as its successor is safely stored —
    // df.checkpoint never cleans up after itself (cleanCheckpoints is
    // off by default and GC-driven even when on), and a 50-round run
    // would otherwise leave 50 full label sets on the object store.
    // Local mode has the same leak in block storage; release() is its
    // twin via rdd.unpersist. Only the final round outlives the call
    // (the returned plan reads it).
    def materializeIn(df: DataFrame, sub: String): DataFrame = {
      // plan evidence for the dump tool: the final query plan reads an
      // ExistingRDD, so the per-stage plans are recorded here (no-op
      // unless PlanDump enables the capture conf)
      graft.tools.StagePlans.record(df, s"cc/$sub")
      checkpointDir match {
        case Some(root) =>
          sc.setCheckpointDir(s"$root/$callNs/$sub")
          df.checkpoint(eager = true)
        case None => df.localCheckpoint(true)
      }
    }
    def release(df: DataFrame, sub: String): Unit = checkpointDir match {
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(s"$root/$callNs/$sub")
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      case None => freeLocalCheckpoint(df)
    }
    try {
      val ids = pairs.toDF("id_a", "id_b")
      val edges = materializeIn(ids
        .union(ids.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .toDF("src", "dst"), "edges")
      // every per-round join/agg below shuffles edge/label-sized rows;
      // size their reducer count from the measured edge bytes (free —
      // the blocks are already stored) instead of the session constant
      val roundWidth = sizedShufflePartitions(spark, materializedBytes(edges))
      withInitialPartitions(spark, roundWidth) {
      // propagate only over nodes that HAVE an edge: on a deduped corpus
      // the overwhelming majority of documents are isolated and their
      // label can never change — keeping them out of the loop shrinks
      // every round's shuffle to the connected subgraph. Isolated nodes
      // rejoin as their own cluster at the end.
      // Init at min(self, direct neighbors) — the same one-agg shuffle a
      // distinct() node list would cost, but it IS the first propagation
      // round: near-clique components (the near-dup case) then converge
      // in the first checked round instead of the second.
      var labelsSub = "labels_init"
      var labels = materializeIn(
        edges.groupBy(col("src")).agg(min(col("dst")).as("nbr"))
          .select(col("src").as("doc_id"),
            least(col("src"), col("nbr")).as("label")), labelsSub)
      var converged = false
      var moved = 0L
      var it = 0
      while (!converged && it < maxIters) {
        // one job per round: the eager checkpoint materializes the new
        // labels AND the observed change count in the same pass
        val nbrMin = edges.join(labels, col("dst") === col("doc_id"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr"))
        val obs = org.apache.spark.sql.Observation(s"cc_round_$it")
        val next = materializeIn(
          labels.join(nbrMin, col("doc_id") === col("src"), "left")
            .select(col("doc_id"),
              least(col("label"), col("nbr")).as("label"),
              (col("nbr") < col("label")).as("moved"))
            .observe(obs, sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"))
            .select("doc_id", "label"),
          s"labels_$it")
        release(labels, labelsSub) // superseded round — next is stored
        labels = next
        labelsSub = s"labels_$it"
        val n = obs.get("n_moved")
        moved = if (n == null) 0L else n.asInstanceOf[Long]
        converged = moved == 0L
        it += 1
      }
      release(edges, "edges") // the returned plan reads only the last labels
      if (!converged) {
        release(labels, labelsSub)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds: " +
            s"$moved labels moved in the last round")
      }
      nodes.toDF("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
      } // withInitialPartitions — the returned plan executes under the
        // caller's conf (its exchanges are final-label-sized)
    } finally {
      // restore the caller's checkpoint dir so later df.checkpoint calls
      // elsewhere never land in a directory this call deletes; if the
      // caller had none, park it on this call's (now-quiescent) namespace
      // — stable, never deleted after the call returns
      checkpointDir.foreach { root =>
        sc.setCheckpointDir(prevCheckpointDir.getOrElse(s"$root/$callNs"))
      }
    }
  }

  /** D5b — embedding near-dup at SCALE: random-hyperplane LSH buckets
    * (16 tables × [[sizedLshBits]] bits) confine candidate generation to
    * bucket-local pairs — ONE shuffle on bucket id instead of the
    * all-pairs loop — then the exact cosine kernel verifies candidates.
    * Pairs sharing several table buckets are emitted once: the bucket
    * explode carries (bucket, id) ONLY (~16 B/row), and a candidate-sized
    * DISTINCT after the bucket join collapses multi-table agreements —
    * candidates are orders of magnitude fewer than exploded rows, so the
    * dedup agg is cheap where slimming the 16× bucket exchange is not.
    * The 64-dim vectors are joined back by id for the candidate-sized
    * exact verify, the rerankExact pattern ([[Similarity.annLshTopKOf]]):
    * at 100 TB the bucket exchange is 16× the ID volume, not 16× the
    * corpus.
    *
    * The width comes from the live corpus count (one columnar-metadata
    * job before planning) — the knn_join_sized precedent: the benched
    * query carries the occupancy rule, not a toy-SF constant.
    * [[embeddingPairsLshOf]] takes an explicit width. Rows-only; DedupSpec
    * measures recall against the exact D5 oracle. */
  def embeddingPairsLsh(t: Tables, threshold: Double = 0.4,
      tables: Int = 16): DataFrame =
    embeddingPairsLshOf(t.embeddings, threshold, tables,
      sizedLshBits(t.embeddings.count()))

  /** Corpus-sized LSH bit-width: the smallest b ≥ 1 with n ≤ 32·2^b,
    * i.e. expected per-table bucket occupancy capped at 32 as the
    * corpus grows. Per-bucket candidate volume is occupancy², so a
    * FIXED width turns the bucket self-join quadratic past its design
    * size (bits=6 saturates at ~2k vectors: measured 7.1× wall at 10×
    * data, and the 64-bucket tables would emit ~5·10⁹ raw candidates
    * at 200k vectors); the occupancy rule keeps candidate volume
    * linear in n. Pure integer arithmetic — the DuckDB oracle replays
    * the same shifts exactly, no float log2 at either side. Because
    * hyperplane j of a b-bit table is hyperplane j of the wider table
    * (the seed ignores the width), a b-bit bucket is a PREFIX of the
    * 6-bit bucket: narrower widths collide strictly more, so sizing
    * down can only raise recall (DedupSpec pins the containment). */
  def sizedLshBits(n: Long): Int =
    (1 to 32).find(b => (32L << b) >= n).getOrElse(32)

  /** [[embeddingPairsLsh]] over an explicit embeddings frame and width —
    * the form [[VectorIndex.curateKeepers]] runs over an ingest batch for
    * its within-batch tier.
    *
    * Sizing at scale: `bits` should grow ~log2(n) so per-table bucket
    * occupancy (hence candidate pairs per bucket, hence the post-join
    * verify volume) stays constant as the corpus grows — measured at 10×
    * data, bits 6→9 cut wall time 2.6× (PROGRESS round-10). Precision is
    * always 1.0 (every emitted pair is exact-cosine-verified); recall is
    * governed by `tables` at the operating threshold — at near-dup
    * thresholds (cos ≥ 0.9) 16 tables × 9 bits retain ~99% pair recall,
    * while loose thresholds (≤0.5) need the lower default bits. */
  def embeddingPairsLshOf(embeddings: DataFrame, threshold: Double = 0.4,
      tables: Int = 16, bits: Int = 6): DataFrame = {
    val cores = embeddings.sparkSession.sparkContext.defaultParallelism
    val vecs = Similarity.withNorm(embeddings)
    val bucketed = vecs.select(col("vec_id"),
      call_function("graft_lsh_buckets", col("v"), lit(tables), lit(bits))
        .as("buckets"))
    val e = bucketed.select(col("vec_id"), explode(col("buckets")).as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("id_a"))
    val b = e.select(col("bucket"), col("vec_id").as("id_b"))
    val cand = a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("id_a"), col("v").as("v_a"),
        col("norm").as("norm_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("v").as("v_b"),
        col("norm").as("norm_b")), "id_b")
      .withColumn("cos",
        call_function("graft_dot", col("v_a"), col("v_b")) /
          (sqrt(col("norm_a")) * sqrt(col("norm_b"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos4"))
      .repartition(cores, col("id_a"))
      .orderBy("id_a", "id_b")
  }

  /** D5c — embedding near-dup CLUSTERING at scale: the LSH-verified
    * cosine pairs of [[embeddingPairsLsh]] (sized width, one shuffle on
    * bucket id, exact-cosine verification) feed the same components
    * engine as the text paths. Every emitted edge is a true edge, so each
    * cluster is a REFINEMENT of the brute-force clustering (DedupSpec
    * asserts the containment); missed bucket collisions can only split
    * clusters, never merge unrelated vectors. */
  def embedClustersLsh(t: Tables, threshold: Double = 0.4,
      maxIters: Int = 50): DataFrame = {
    val spark = t.embeddings.sparkSession
    // the LSH bucket join + vector-payload verify join execute inside
    // connectedComponents' eager edge checkpoint: size that exchange
    // width from the embeddings source bytes (the clusterDocsLshCore
    // rule applied to the embed path — unsized, the verify join's
    // spill/GC cost at the sf10 rung quadruples the wall on the 8 g
    // bench heap)
    withInitialPartitions(spark,
        sizedShufflePartitions(spark, scanBytes(t.embeddings))) {
      connectedComponents(
        t.embeddings.select(col("vec_id").as("doc_id")),
        embeddingPairsLsh(t, threshold).select(col("id_a"), col("id_b")),
        maxIters)
    }
  }

  /** D5 — embedding-cosine near-dup pairs (cos >= 0.4 on this synthetic
    * set). Double-precision left-fold dot product — bit-identical to the
    * oracle's list_reduce. Norms precomputed per row (not per pair). */
  def embeddingPairs(t: Tables, threshold: Double = 0.4): DataFrame = {
    val cores = t.embeddings.sparkSession.sparkContext.defaultParallelism
    val vecs = Similarity.withNorm(t.embeddings)
    val a = vecs.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("norm").as("norm_a"))
      // spread the pair loop: the embeddings scan is few splits (see
      // jaccardPairsOf)
      .repartition(cores * 4, col("id_a"))
    val b = vecs.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("norm").as("norm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        call_function("graft_dot", col("v_a"), col("v_b")) / (sqrt(col("norm_a")) * sqrt(col("norm_b"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos4"))
      // exchange barrier before the sort (see jaccardPairsOf)
      .repartition(cores, col("id_a"))
      .orderBy("id_a", "id_b")
  }

  /** Blank-line paragraph splitter for [[dedupParagraphs]]: trimmed
    * paragraphs between runs of blank lines, empties dropped — the
    * conventional normalization for prose corpora. */
  def blankLineParas(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(transform(split(text, "\\n\\s*\\n"), p => trim(p)), p => p =!= "")

  /** Fixed word-block splitter: consecutive runs of `n` space-separated
    * words. The synthetic corpus has no newlines, so the driver query
    * uses word blocks as its deterministic paragraph surrogate —
    * joining the blocks back with " " reconstructs the original text
    * exactly, which makes the no-drop case a round-trip identity. */
  def wordBlockParas(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val ws = split(text, " ")
    transform(
      // "/" on int columns is double division — cast back for sequence
      sequence(lit(0), ((size(ws) + (n - 1)) / n).cast("int") - 1),
      i => array_join(slice(ws, i * n + 1, lit(n)), " "))
  }

  /** D8 — sub-document (paragraph) exact dedup: boilerplate removal.
    * Repeated headers/footers/license blocks recur VERBATIM across a
    * corpus (the role suffix-array substring dedup plays in published
    * curation pipelines, in its shuffle-friendly unit-hash form): split
    * every document into paragraphs, keep only the globally FIRST
    * occurrence of each distinct paragraph — first in (doc_id, idx)
    * order — and reassemble what survives, preserving in-document
    * order. Output per document: (doc_id, n_kept, n_dropped, text).
    *
    * Scale shape (the D1 exchange discipline — hashes cross the wire,
    * never text):
    *   1. one corpus scan splits and hashes; the exploded frame is
    *      slimmed to (doc_id, idx, h1, h2) ≈ 28 B/paragraph and
    *      persisted so the scan+split runs once;
    *   2. the keeper election is ONE hash-partial-aggregated groupBy on
    *      the 128-bit paragraph hash (min struct(doc_id, idx) +
    *      count) — no window over the hash key, so a boilerplate
    *      paragraph duplicated 10⁹× costs a combiner tree, not a
    *      single-task sort;
    *   3. only hash groups with >1 copy survive into the drop join —
    *      at real corpus dup rates that side is a small fraction of
    *      the corpus, so AQE broadcasts it and the slim frame is
    *      probed in place;
    *   4. the per-doc drop lists (ints, bounded by paragraphs-per-doc)
    *      join back to the SOURCE docs — again broadcast-sized —
    *      and reassembly is a per-row array filter + join. The
    *      document text itself never enters any exchange.
    *
    * Ref: SergiyStoyan/AwsKinesisConsumer has no analog (parser.py
    * consumes streams); this extends the D-family curation surface. */
  def dedupParagraphs(docs: DataFrame,
      paras: org.apache.spark.sql.Column,
      delim: String): DataFrame = {
    val base = docs.select(col("doc_id"), paras.as("paras"))
    // LAZY localCheckpoint: the scan+split+hash runs once per action
    // (both the election and the drop probe read the checkpointed
    // frame), without the extra eager materialization job — and unlike
    // persist() the block is private to this call's plan, so repeated
    // calls (bench iterations) cannot silently reuse a warm cache
    val slim = base
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("idx", "para")))
      .select(col("doc_id"), col("idx"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
      .localCheckpoint(false)
    val dupFirsts = slim
      .groupBy("h1", "h2")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1L)
    val drops = slim.as("p")
      .join(dupFirsts.as("w"),
        col("p.h1") === col("w.h1") && col("p.h2") === col("w.h2"))
      .filter(struct(col("p.doc_id"), col("p.idx")) =!= col("first"))
      .groupBy(col("p.doc_id"))
      .agg(collect_list(col("p.idx")).as("drop_idxs"))
    base.join(drops, Seq("doc_id"), "left")
      .withColumn("kept",
        filter(col("paras"),
          (p, i) => !coalesce(array_contains(col("drop_idxs"), i), lit(false))))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        coalesce(size(col("drop_idxs")), lit(0)).cast("long").as("n_dropped"),
        array_join(col("kept"), delim).as("text"))
      .orderBy("doc_id")
  }

  /** D8b — frequency-thresholded boilerplate REMOVAL: drop EVERY
    * occurrence of any paragraph appearing in >= `minDocs` distinct
    * documents. D8 keeps one canonical copy of each repeated paragraph
    * (dedup); this is the complementary curation pass published
    * pipelines run on headers/footers/cookie banners — text that
    * recurs across enough documents is template noise, and the first
    * copy is as worthless as the rest. In-document repetition alone
    * (a chorus, a refrain) never crosses the doc threshold and is
    * preserved verbatim.
    *
    * Scale shape (shares D8's exchange discipline): one scan splits
    * and hashes; the slim (doc_id, idx, h1, h2) frame is checkpointed;
    * the boilerplate election is a hash-partial-aggregated
    * count_distinct(doc_id) per 128-bit hash — a repeated-in-one-doc
    * paragraph combines map-side to a single (hash, doc) pair, so even
    * a per-doc chorus costs nothing extra; the surviving hash set is
    * corpus-dup-rate-sized, AQE broadcasts it into the drop probe, and
    * reassembly joins int drop lists back to the source docs. Text
    * never crosses an exchange.
    *
    * Ref: no analog in SergiyStoyan/AwsKinesisConsumer (parser.py
    * consumes streams); extends the D-family curation surface. */
  def removeBoilerplate(docs: DataFrame,
      paras: org.apache.spark.sql.Column,
      delim: String,
      minDocs: Int): DataFrame = {
    val base = docs.select(col("doc_id"), paras.as("paras"))
    val slim = base
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("idx", "para")))
      .select(col("doc_id"), col("idx"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
      .localCheckpoint(false)
    val boiler = slim
      .groupBy("h1", "h2")
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs.toLong)
    val drops = slim.as("p")
      .join(boiler.as("w"),
        col("p.h1") === col("w.h1") && col("p.h2") === col("w.h2"))
      .groupBy(col("p.doc_id"))
      .agg(collect_list(col("p.idx")).as("drop_idxs"))
    base.join(drops, Seq("doc_id"), "left")
      .withColumn("kept",
        filter(col("paras"),
          (p, i) => !coalesce(array_contains(col("drop_idxs"), i), lit(false))))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        coalesce(size(col("drop_idxs")), lit(0)).cast("long").as("n_dropped"),
        array_join(col("kept"), delim).as("text"))
      .orderBy("doc_id")
  }

  /** The D8b boilerplate election as a driver-side SORTED hash list —
    * MODEL-SIZED (boilerplate is the corpus's repeated template text:
    * headers, footers, license blocks — a bounded vocabulary no matter
    * the corpus size), the same class of pinned state as
    * [[graft.operators.TextOps.benchmarkGrams]]. Feed to
    * [[removeBoilerplateWith]] or the streaming gate. Hashes are the
    * 64-bit h1 half of the election's 128-bit key (the repo-wide
    * ~1e-10 hash-join acceptance). */
  def boilerplateHashes(docs: DataFrame,
      paras: org.apache.spark.sql.Column, minDocs: Int): Array[Long] = {
    val hs = docs.select(posexplode(paras).as(Seq("idx", "para")),
        col("doc_id"))
      .select(col("doc_id"), xxhash64(col("para")).as("h1"))
      .groupBy("h1")
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs.toLong)
      .select("h1").collect().map(_.getLong(0))
    java.util.Arrays.sort(hs)
    hs
  }

  /** D8b with a PINNED boilerplate list — the per-row half of the
    * operator, shared by the streaming twin: split, probe each
    * paragraph's hash against the sorted list (graft_sorted_contains —
    * binary search, log(list) per paragraph), reassemble survivors.
    * Pure projection: no exchange, no state, so it runs identically
    * over a batch frame or a streaming one (append mode, no state
    * store). */
  def removeBoilerplateWith(docs: DataFrame,
      paras: org.apache.spark.sql.Column,
      delim: String,
      sortedHashes: Array[Long]): DataFrame = {
    val lst = typedLit(sortedHashes.toSeq)
    docs.select(col("doc_id"), paras.as("paras"))
      .withColumn("kept", filter(col("paras"),
        p => !call_function("graft_sorted_contains", lst, xxhash64(p))))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("paras")) - size(col("kept"))).cast("long").as("n_dropped"),
        array_join(col("kept"), delim).as("text"))
  }

  /** D11 — duplicated-SPAN coverage (exact substring dedup at the
    * token level, the Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better" operator): every k-token span that
    * occurs ≥ 2 times anywhere in the corpus (across documents OR
    * repeated inside one) is a duplicated span; per document, report
    * how many of its tokens are covered by the union of its duplicated
    * spans. This is the sub-document complement of D1/D3: a crawl dump
    * can be 0% doc-level duplicate yet 30% span-level duplicate
    * (boilerplate sentences, quoted passages), and span coverage is
    * the signal ExactSubstr-style pipelines cut on.
    *
    * Spark shape: span extraction is ROW-LOCAL (the token array and
    * the k-slide both live inside the row — `transform` over
    * `sequence`, no per-token explode before hashing), so the only
    * corpus-sized exchanges carry (h1, h2, doc_id, s) ≈ 28 B per span
    * — the D1 discipline: the span's 128-bit composite hash crosses
    * the wire, never its text. Exchange 1 hash-partitions spans once
    * for a WINDOW-count duplicate census (a groupBy+self-join census
    * would extract spans twice and either broadcast the dup set —
    * billions of rows at crawl scale — or shuffle the span table a
    * second time); exchange 2 re-partitions surviving hits by doc_id
    * for the interval-union window (hits only — typically a small
    * fraction of spans). Interval union is the classic
    * running-max subtraction: a hit at start s covers
    * max(0, e − max(prevMaxE, s−1)) NEW tokens, summed per doc —
    * O(hits log hits) per doc, never materializing per-token rows.
    * A suffix-array build (the paper's single-node tool) does not
    * distribute; the k-gram census is the shape that does.
    *
    * Collision note (the D1 rule): odds at 10^12 spans are ~10^-15;
    * the DuckDB oracle groups by the RAW span text, so any collision
    * at test SF fails the hash gate loudly. `docs` is any (doc_id,
    * text) frame. */
  def spanCoverageOf(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spanToks(docs)
    val grams = spanHashes(toks, k)
    // duplicate census as a WINDOW count, not a groupBy+self-join: one
    // span extraction and exactly ONE span-sized exchange however many
    // spans turn out duplicated (the join form either broadcasts the
    // dup set — billions of rows at crawl scale — or re-shuffles the
    // span table a second time)
    val wDup = Window.partitionBy("h1", "h2")
    val hits = grams
      .withColumn("n_occ", count(lit(1)).over(wDup))
      .filter(col("n_occ") >= 2L)
      .select(col("doc_id"), col("s"))
    spanCoverageFromHits(toks, hits, k)
  }

  /** The (doc_id, w: array<string>) tokenization both span stages
    * derive from — [[SpanIndex.coverageBatch]] checkpoints one of
    * these per batch so spans and token counts come from a single
    * extraction pass. */
  private[operators] def spanToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("w"))

  /** (doc_id, s, h1, h2): one row per k-token span, built row-locally
    * (token array + k-slide live inside the row); s is the 0-based
    * start offset, (h1, h2) the 128-bit composite span hash — the only
    * columns that ever cross an exchange. Shared by [[spanCoverageOf]]
    * and the [[SpanIndex]] incremental probe. */
  private[operators] def spanHashes(toks: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    toks.filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', slice(w, i + 1, $k)))")))
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        xxhash64(col("col")).as("h1"), xxhash64(lit(1L), col("col")).as("h2"))
  }

  /** Per-doc union-of-intervals coverage from duplicated-span hit
    * offsets: each hit at start s covers [s, s+k-1]; the running-max
    * window subtracts overlap, so tokens are counted once however many
    * hits cover them. Emits every doc of `toks` (zero coverage
    * included). */
  private[operators] def spanCoverageFromHits(toks: DataFrame,
      hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = hits
      .select(col("doc_id"), col("s"), (col("s") + (k - 1).toLong).as("e"))
      .withColumn("prev_e", coalesce(max(col("e")).over(wPrev), lit(-1L)))
      .withColumn("c", greatest(lit(0L),
        col("e") - greatest(col("prev_e"), col("s") - 1L)))
      .groupBy("doc_id").agg(sum(col("c")).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0L, lit(0.0)).otherwise(
          round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double"), 4)).as("dup_ratio4"))
      .orderBy("doc_id")
  }

  /** D11c — duplicated-span REMOVAL (round 13, the other half of
    * ExactSubstr: Lee et al. 2022 don't just MEASURE span duplication,
    * they cut it from the corpus): every duplicated k-token span keeps
    * exactly its globally FIRST occurrence (min (doc_id, start) — the
    * D8 keep-first election at token granularity); tokens covered by
    * the union of a document's NON-first duplicated spans are removed
    * and the survivors reassemble in order. D8 does this cut at
    * paragraph granularity; this is the token-granular form that
    * catches boilerplate sentences and quoted passages no paragraph
    * boundary isolates.
    *
    * Spark shape — [[spanCoverageOf]]'s census composed with
    * [[dedupParagraphs]]'s reassembly discipline:
    *   1. span extraction is row-local (the D11 rule); the census
    *      exchange carries (h1, h2, doc_id, s) ≈ 28 B/span, never
    *      span text;
    *   2. census + first-occurrence election are ONE window pass:
    *      row_number over (h1, h2) ordered by (doc_id, s) — rn ≥ 2 IS
    *      "duplicated AND not the first occurrence", so no separate
    *      count column and no second pass;
    *   3. cut intervals aggregate per doc ((doc_id, s, e) int rows,
    *      corpus-dup-rate-sized — the D8 drop-list class), and AQE
    *      broadcasts them back onto the source scan;
    *   4. removal is a per-row array filter against the interval list
    *      + array_join — document text never enters an exchange. The
    *      per-token interval probe is linear in (tokens × intervals)
    *      per row; a pathological million-hit document would merge its
    *      intervals first, but real drop lists are short (the D8
    *      observation).
    *
    * Ref: no analog in SergiyStoyan/AwsKinesisConsumer (parser.py
    * consumes streams); extends the D-family curation surface. `docs`
    * is any (doc_id, text) frame. */
  def spanRemovalOf(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spanToks(docs)
    // rn >= 2 over the (h1,h2) span group == "duplicated, not the
    // global first occurrence" — one window pass on one span exchange
    val wRn = Window.partitionBy("h1", "h2").orderBy("doc_id", "s")
    val cut = spanHashes(toks, k)
      .withColumn("rn", row_number().over(wRn))
      .filter(col("rn") >= 2L)
      .select(col("doc_id"), col("s"), (col("s") + (k - 1).toLong).as("e"))
    val ivs = cut.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    toks.join(ivs, Seq("doc_id"), "left")
      .withColumn("kept", filter(col("w"),
        (tok, i) => !coalesce(exists(col("ivs"), iv =>
          i.cast("long") >= iv.getField("s")
            && i.cast("long") <= iv.getField("e")), lit(false))))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text"))
      .orderBy("doc_id")
  }
}
