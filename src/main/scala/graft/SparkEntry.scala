package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import graft.operators._
import graft.sources.Tables

/** Driver contract — see SURVEY.md §2/§4.
  *
  * The catalog is one table, [[catalog]]: each implemented operator is one
  * [[SparkEntry.Query]] row holding its Spark builder and its DuckDB
  * oracle, with identical column names and identical
  * exact-integer/single-division arithmetic (SURVEY §4), so the hash
  * compare is bit-stable across engines. [[queries]] and
  * [[oracleSql]] are the table's two views by name, and [[runTool]] is the
  * one per-query loop of the tool mains (Bench, Verify, CostReport,
  * PlanDump).
  */
object SparkEntry {

  private def tables(s: SparkSession, dir: String): Tables = Tables(s, dir)

  /** The decontamination split over the test corpus: every 100th
    * document plays the benchmark set, the rest are the corpus. */
  private def corpusDocs(t: Tables): DataFrame =
    t.documents.filter(col("doc_id") % 100L =!= 0L)
  private def benchDocs(t: Tables): DataFrame =
    t.documents.filter(col("doc_id") % 100L === 0L)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q3ShippingPriority(tables(spark, "/root/testdata/sf0.001"))

  /** The query names a tool runs, sorted: all of [[queries]], or the
    * subset named in the comma-separated `only`. Names are trimmed; a
    * blank or absent value selects all; an unknown name throws. */
  def select(only: Option[String]): Seq[String] = {
    val all = queries.keySet
    val named = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = named -- all
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    (if (named.isEmpty) all else named).toSeq.sorted
  }

  /** One catalog row: the query's name, its builder over (session, sf
    * dir), and its DuckDB twin over the same parquet tables. */
  final case class Query(
      name: String, build: (SparkSession, String) => DataFrame, oracle: String)

  /** Each catalog row's builder, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(catalog).map { case (n, q) => n -> q.build }

  /** Each catalog row's DuckDB oracle, by name. */
  lazy val oracleSql: Map[String, String] =
    byName(catalog).map { case (n, q) => n -> q.oracle }

  /** `rows` keyed by name; throws naming every name two rows share (a
    * map literal would silently keep the last). */
  private[graft] def byName(rows: Seq[Query]): Map[String, Query] = {
    val dup = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"duplicate catalog queries: ${dup.toSeq.sorted.mkString(", ")}")
    rows.map(q => q.name -> q).toMap
  }

  /** A tool main's session and the names it runs. */
  final class ToolRun private[graft] (
      val spark: SparkSession, val names: Seq[String], tag: String) {

    /** Runs `body` for each name, in order. A body that throws is reported
      * on stderr as `[tag] name failed: msg` and the loop goes on; returns
      * the names that threw. */
    def each(body: String => Unit): Seq[String] = names.filter { name =>
      try { body(name); false }
      catch { case e: Throwable =>
        Console.err.println(s"[$tag] $name failed: ${e.getMessage}")
        true
      }
    }
  }

  /** The loop of the tool mains: selects the names `only` picks (an
    * unknown name throws before any session starts), builds the `app`
    * session at `logLevel`, runs `main` on them and stops the session. */
  def runTool[A](app: String, tag: String, only: Option[String],
      logLevel: String = "ERROR")(main: ToolRun => A): A = {
    val names = select(only)
    val spark = graft.core.GraftSession.builder(app).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    try main(new ToolRun(spark, names, tag)) finally spark.stop()
  }

  /** The D6 word-set-Jaccard + recursive-closure CTE chain, shared by
    * every oracle that needs the near-dup cluster labels. */
  private val closureCtes: String =
    """t AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text),'[a-z]+')) AS toks,
        cast(len(list_distinct(regexp_extract_all(lower(text),'[a-z]+'))) as bigint) AS n FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.toks,b.toks)) as bigint)
          / (a.n + b.n - cast(len(list_intersect(a.toks,b.toks)) as bigint)) >= 0.95),
      e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
      )"""

  /** F21's per-doc NB log-odds as a shared CTE chain (terminal CTE
    * `nbs`: doc_id, n_tokens, logodds_micro) — quality_classifier and
    * the F25 resampler both derive from it. */
  private val nbScoreCtes: String =
    """tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
        lab AS (SELECT doc_id, source IN ('src0','src1','src2') AS pos FROM documents),
        cnt AS (SELECT word,
            cast(sum(CASE WHEN pos THEN 1 ELSE 0 END) as bigint) AS n_pos,
            cast(sum(CASE WHEN pos THEN 0 ELSE 1 END) as bigint) AS n_neg
          FROM tok JOIN lab USING (doc_id) GROUP BY word),
        tot AS (SELECT cast(sum(n_pos) as bigint) AS t_pos,
            cast(sum(n_neg) as bigint) AS t_neg,
            cast(count(*) as bigint) AS v FROM cnt),
        c AS (SELECT word,
            cast(round((ln(cast(n_pos + 1 as double) / cast(t_pos + v as double))
                      - ln(cast(n_neg + 1 as double) / cast(t_neg + v as double))) * 1000000.0) as bigint) AS lo_u
          FROM cnt CROSS JOIN tot),
        nbs AS (SELECT t.doc_id, count(*) AS n_tokens,
            cast(sum(c.lo_u) as bigint) AS logodds_micro
          FROM tok t JOIN c USING (word) GROUP BY t.doc_id)"""

  private val clustersClosureOracle: String =
    s"""WITH RECURSIVE
      $closureCtes
      SELECT src AS doc_id, cast(min(dst) as bigint) AS cluster_id
      FROM reach GROUP BY src ORDER BY doc_id"""

  private val centsQty = "cast(round(l_quantity*100) as bigint)"
  private val centsExt = "cast(round(l_extendedprice*100) as bigint)"
  private val centsDisc = "cast(round(l_discount*100) as bigint)"
  private val centsTotal = "cast(round(o_totalprice*100) as bigint)"
  private val centsValue = "cast(round(value*100) as bigint)"

  private val bm25Sql =
    """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z]+')) AS term FROM documents),
        lens AS (SELECT doc_id, cast(count(*) as bigint) AS len FROM toks GROUP BY 1),
        stats AS (SELECT cast(count(*) as bigint) AS n_docs, cast(sum(len) as bigint) AS l_total FROM lens),
        tf AS (SELECT doc_id, term, cast(count(*) as bigint) AS tf FROM toks
          WHERE term IN ('stream','vector','customer') GROUP BY 1, 2),
        df AS (SELECT term, cast(count(*) as bigint) AS df FROM tf GROUP BY 1),
        idf AS (SELECT term, cast(round(ln(1.0
              + (cast(n_docs - df as double) + 0.5) / (cast(df as double) + 0.5)) * 1000000.0) as bigint) AS idf_u
          FROM df CROSS JOIN stats),
        scored AS (SELECT tf.doc_id,
            cast(count(*) as bigint) AS n_terms,
            max(lens.len) AS len,
            cast(sum(cast(round(cast(idf.idf_u as double)
              * (cast(22::HUGEINT * tf.tf * s.l_total as double)
                / cast(10::HUGEINT * tf.tf * s.l_total + 3::HUGEINT * s.l_total
                    + 9::HUGEINT * lens.len * s.n_docs as double))) as bigint)) as bigint) AS score_u
          FROM tf JOIN idf USING (term) JOIN lens USING (doc_id) CROSS JOIN stats s
          GROUP BY tf.doc_id),
        ranked AS (SELECT *, cast(row_number() OVER (ORDER BY score_u DESC, doc_id) as bigint) AS rnk FROM scored)
        SELECT rnk, doc_id, score_u, n_terms, len FROM ranked WHERE rnk <= 10 ORDER BY rnk"""
  private val revenue = s"cast(sum($centsExt*(100-$centsDisc)) as bigint)"
  private val bpePat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Shared body of the text_quality oracle — quality_melt unpivots the
    * same wide row, so both twins derive from one definition. */
  private val qualityBody =
    """WITH d AS (SELECT doc_id, text, regexp_extract_all(lower(text),'[a-z]+') AS toks FROM documents),
        m AS (SELECT doc_id,
          cast(length(text) as bigint) AS n_chars,
          cast(len(toks) as bigint) AS n_words,
          cast(len(list_filter(toks, tk -> tk IN ('the','a','an','of','in','on','and','to','is','it'))) as bigint) AS n_stop,
          cast(length(regexp_replace(text,'[^a-zA-Z]','','g')) as bigint) AS n_alpha,
          cast(length(regexp_replace(text,'[^ ]','','g')) as bigint) AS n_space
        FROM d)
        SELECT doc_id, n_chars, n_words, n_stop, n_alpha, n_space,
          CASE WHEN n_words=0 THEN cast(0.0 as double) ELSE n_stop/n_words END AS stop_ratio,
          CASE WHEN n_chars=0 THEN cast(0.0 as double) ELSE n_alpha/n_chars END AS alpha_ratio
        FROM m"""

  // D13/D13b census: an optional leading CTE (e.g. the hash-slice
  // shadow of `documents`) prefixes the shared body
  private def dedupEvalSql(prefixCte: String): String =
    s"""WITH ${prefixCte}cand AS (SELECT id_a, id_b FROM (${OracleSql.dedupMinhash})),
        truth AS (SELECT id_a, id_b FROM ($JaccardPairsSql)),
        j AS (SELECT coalesce(c.id_a, t.id_a) AS id_a,
            CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS in_c,
            CASE WHEN t.id_a IS NULL THEN 0 ELSE 1 END AS in_t
          FROM cand c FULL OUTER JOIN truth t
            ON c.id_a = t.id_a AND c.id_b = t.id_b)
        SELECT cast(sum(in_c) as bigint) AS n_cand,
          cast(sum(in_t) as bigint) AS n_truth,
          cast(sum(in_c * in_t) as bigint) AS n_hit,
          CASE WHEN sum(in_c) = 0 THEN 0
            ELSE (cast(sum(in_c * in_t) as bigint) * 1000)
              // cast(sum(in_c) as bigint) END AS precision_permille,
          CASE WHEN sum(in_t) = 0 THEN 0
            ELSE (cast(sum(in_c * in_t) as bigint) * 1000)
              // cast(sum(in_t) as bigint) END AS recall_permille
        FROM j"""

  // D2 oracle body, shared with the D13 dedup-eval replay
  private val JaccardPairsSql: String =
    """WITH t AS (SELECT doc_id,
          list_distinct(regexp_extract_all(lower(text),'[a-z]+')) AS toks,
          cast(len(list_distinct(regexp_extract_all(lower(text),'[a-z]+'))) as bigint) AS n
          FROM documents)
        SELECT id_a, id_b, round(j,4) AS jaccard4 FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            cast(len(list_intersect(a.toks,b.toks)) as bigint)
              / (a.n + b.n - cast(len(list_intersect(a.toks,b.toks)) as bigint)) AS j
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
        WHERE j >= 0.95 ORDER BY id_a, id_b"""

  // E1 oracle body, shared with the E13 retrieval-quality replay
  private val AnnBruteSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v, list_reduce(list_prepend(cast(0.0 as double),
          list_transform(v, x -> x*x)), (s,x) -> s+x) AS norm FROM e),
        q AS (SELECT vec_id AS q_id, v, norm FROM n WHERE vec_id < 10),
        s AS (SELECT q.q_id, c.vec_id AS n_id,
          list_reduce(list_prepend(cast(0.0 as double),
            list_transform(list_zip(q.v,c.v), p -> p[1]*p[2])), (s,x) -> s+x)
            / (sqrt(q.norm)*sqrt(c.norm)) AS cos
          FROM q JOIN n c ON q.q_id <> c.vec_id)
        SELECT q_id, rnk, n_id, round(cos,4) AS cos4 FROM (
          SELECT q_id, n_id, cos,
            cast(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) as bigint) AS rnk
          FROM s)
        WHERE rnk <= 5 ORDER BY q_id, rnk"""

  // E16 oracle: the E1 scored pass split by label agreement — nearest
  // same-label positive (pr = 1) joined to the k hardest
  // different-label negatives; same fold, same tie rule, so the pair
  // table is hash-exact
  private val ContrastivePairsSql: String =
    """WITH e AS (SELECT vec_id, cast(label as bigint) AS label,
          list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, label, v, list_reduce(list_prepend(cast(0.0 as double),
          list_transform(v, x -> x*x)), (s,x) -> s+x) AS norm FROM e),
        q AS (SELECT vec_id AS q_id, label AS q_label, v, norm FROM n WHERE vec_id < 10),
        s AS (SELECT q.q_id, q.q_label, c.vec_id AS n_id, c.label AS n_label,
          list_reduce(list_prepend(cast(0.0 as double),
            list_transform(list_zip(q.v,c.v), p -> p[1]*p[2])), (s,x) -> s+x)
            / (sqrt(q.norm)*sqrt(c.norm)) AS cos
          FROM q JOIN n c ON q.q_id <> c.vec_id),
        pos AS (SELECT q_id, n_id AS pos_id, round(cos,4) AS pos_cos4,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS pr
          FROM s WHERE n_label = q_label),
        neg AS (SELECT q_id, n_id AS neg_id, round(cos,4) AS neg_cos4,
            cast(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) as bigint) AS rnk
          FROM s WHERE n_label <> q_label)
        SELECT q_id, pos_id, pos_cos4, rnk, neg_id, neg_cos4
        FROM pos JOIN neg USING (q_id)
        WHERE pr = 1 AND rnk <= 5 ORDER BY q_id, rnk"""

  // F19b oracle body, shared with the F19c tercile replay
  private val Lm2Sql: String =
    """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        tok AS (SELECT unnest(ws) AS word FROM d),
        v AS (SELECT word, count(*) AS n_w FROM tok GROUP BY word),
        tot AS (SELECT cast(sum(n_w) as bigint) AS n_total FROM v),
        uni AS (SELECT word, cast(round(-ln(cast(n_w as double) / cast(n_total as double)) * 1000000.0) as bigint) AS uni_u
          FROM v CROSS JOIN tot),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM d)),
        bc AS (SELECT w1, w2, count(*) AS n_big FROM bg GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(n_big) AS n_ctx FROM bc GROUP BY 1),
        bcost AS (SELECT w1, w2,
            cast(round(-ln(cast(n_big as double) / cast(n_ctx as double)) * 1000000.0) as bigint) AS cost_u
          FROM bc JOIN ctx USING (w1)),
        fc AS (SELECT doc_id, uni_u AS c FROM
          (SELECT doc_id, ws[1] AS word FROM d WHERE len(ws) > 0) f JOIN uni USING (word)),
        gc AS (SELECT doc_id, cost_u AS c FROM bg JOIN bcost USING (w1, w2)),
        allc AS (SELECT * FROM fc UNION ALL SELECT * FROM gc)
        SELECT doc_id, count(*) AS n_tokens, cast(sum(c) as bigint) AS nll_micro,
          round(cast(sum(c) as double) / cast(count(*) as double) / 1000000.0, 4) AS avg_nll4
        FROM allc GROUP BY doc_id ORDER BY doc_id"""

  // F19b holdout: the SAME chain trained on the %10≠0 cohort and
  // scored on the held-out docs — unseen-bigram and OOV tiers land in
  // the hash gate (the self-trained Lm2Sql never exercises them)
  private val Lm2HoldoutSql: String =
    """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        tr AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
        sc AS (SELECT * FROM d WHERE doc_id % 10 = 0),
        tok AS (SELECT unnest(ws) AS word FROM tr),
        v AS (SELECT word, count(*) AS n_w FROM tok GROUP BY word),
        tot AS (SELECT cast(sum(n_w) as bigint) AS n_total FROM v),
        uni AS (SELECT word,
            cast(round(-ln(cast(n_w as double) / cast(n_total as double)) * 1000000.0) as bigint) AS uni_u,
            cast(round(-ln(0.4 * cast(n_w as double) / cast(n_total as double)) * 1000000.0) as bigint) AS back_u
          FROM v CROSS JOIN tot),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM tr)),
        bc AS (SELECT w1, w2, count(*) AS n_big FROM bg GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(n_big) AS n_ctx FROM bc GROUP BY 1),
        bcost AS (SELECT w1, w2,
            cast(round(-ln(cast(n_big as double) / cast(n_ctx as double)) * 1000000.0) as bigint) AS cost_u
          FROM bc JOIN ctx USING (w1)),
        sbg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM sc)),
        fc AS (SELECT f.doc_id, coalesce(uni.uni_u,
            cast(round(-ln(1.0 / cast(tot.n_total as double)) * 1000000.0) as bigint)) AS c
          FROM (SELECT doc_id, ws[1] AS word FROM sc WHERE len(ws) > 0) f
          LEFT JOIN uni USING (word) CROSS JOIN tot),
        gc AS (SELECT sbg.doc_id, coalesce(bcost.cost_u, u2.back_u,
            cast(round(-ln(0.4 / cast(tot.n_total as double)) * 1000000.0) as bigint)) AS c
          FROM sbg LEFT JOIN bcost USING (w1, w2)
          LEFT JOIN (SELECT word AS w2, back_u FROM uni) u2 USING (w2)
          CROSS JOIN tot),
        allc AS (SELECT * FROM fc UNION ALL SELECT * FROM gc)
        SELECT doc_id, count(*) AS n_tokens, cast(sum(c) as bigint) AS nll_micro,
          round(cast(sum(c) as double) / cast(count(*) as double) / 1000000.0, 4) AS avg_nll4
        FROM allc GROUP BY doc_id ORDER BY doc_id"""

  // F19d: token 1 priced by the unigram model, token 2 by the bigram
  // model, tokens >= 3 by the trigram model; self-trained, so every
  // gram is seen and the backoff tiers legitimately stay quiet (the
  // Lm2Sql precedent — the spec exercises all four price tiers on an
  // external score set); same micro-nat quantization per distinct gram
  private val Lm3Sql: String =
    """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        tok AS (SELECT unnest(ws) AS word FROM d),
        v AS (SELECT word, count(*) AS n_w FROM tok GROUP BY word),
        tot AS (SELECT cast(sum(n_w) as bigint) AS n_total FROM v),
        uni AS (SELECT word, cast(round(-ln(cast(n_w as double) / cast(n_total as double)) * 1000000.0) as bigint) AS uni_u
          FROM v CROSS JOIN tot),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM d)),
        bc AS (SELECT w1, w2, count(*) AS n_big FROM bg GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(n_big) AS n_ctx FROM bc GROUP BY 1),
        bcost AS (SELECT w1, w2,
            cast(round(-ln(cast(n_big as double) / cast(n_ctx as double)) * 1000000.0) as bigint) AS big_u
          FROM bc JOIN ctx USING (w1)),
        tg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM d WHERE len(ws) >= 3)),
        tc AS (SELECT w1, w2, w3, count(*) AS n_tri FROM tg GROUP BY 1, 2, 3),
        ctx2 AS (SELECT w1, w2, sum(n_tri) AS n_ctx2 FROM tc GROUP BY 1, 2),
        tcost AS (SELECT w1, w2, w3,
            cast(round(-ln(cast(n_tri as double) / cast(n_ctx2 as double)) * 1000000.0) as bigint) AS tri_u
          FROM tc JOIN ctx2 USING (w1, w2)),
        fc AS (SELECT doc_id, uni_u AS c FROM
          (SELECT doc_id, ws[1] AS word FROM d WHERE len(ws) > 0) f JOIN uni USING (word)),
        sc AS (SELECT doc_id, big_u AS c FROM
          (SELECT doc_id, ws[1] AS w1, ws[2] AS w2 FROM d WHERE len(ws) >= 2) s JOIN bcost USING (w1, w2)),
        gc AS (SELECT doc_id, tri_u AS c FROM tg JOIN tcost USING (w1, w2, w3)),
        allc AS (SELECT * FROM fc UNION ALL SELECT * FROM sc UNION ALL SELECT * FROM gc)
        SELECT doc_id, count(*) AS n_tokens, cast(sum(c) as bigint) AS nll_micro,
          round(cast(sum(c) as double) / cast(count(*) as double) / 1000000.0, 4) AS avg_nll4
        FROM allc GROUP BY doc_id ORDER BY doc_id"""

  /** The catalog: one row per implemented operator from SURVEY.md §2, so
    * adding a query is adding one row. Every row has a DuckDB oracle
    * (since round 7). The two sketch ESTIMATES (HLL/KLL) can't be
    * replayed in SQL, so their rows hash-compare exact companion columns
    * plus a within_bound boolean the oracle asserts true (the estimate
    * must sit inside its spec'd error bound or the hash gate fails). The
    * ENTIRE vector-index family is oracle-checked since round 6: the
    * canonical-order Lloyd reduction made the whole k-means fixpoint
    * bit-reproducible, so [[OracleSql.ivfAssign]] replays fit +
    * assignment in DuckDB. dedup_minhash and dedup_simhash are too: their
    * signatures are deterministic splitmix64 integer arithmetic, which
    * [[OracleSql]] regenerates in pure DuckDB SQL (wrap-around multiplies
    * via HUGEINT split arithmetic), and so is lang_id (stopword/charset
    * counts with a fixed tie priority).
    *
    * Row order is evaluation order: [[OracleSql]] numbers the lambda
    * variables of the SQL it generates from one counter, so moving a row
    * renames variables in the generated text (not its meaning).
    *
    * Lazy, like [[queries]] and [[oracleSql]]: the oracles interpolate
    * the private SQL vals above, which a strict val initialized before
    * them would read as null. */
  lazy val catalog: Seq[Query] = Seq(
    // the k-means fixpoint itself, replayed in DuckDB — possible since
    // the round-6 canonical-order reduction made the fit bit-reproducible
    Query("ivf_assign", (s, d) =>
      Similarity.ivfAssignVecs(tables(s, d).embeddings, k = 8, iters = 3),
      OracleSql.ivfAssign),
    // full IVF search — hash-exact since round 6: the canonical fit
    // makes routing + in-cell ranking replayable (OracleSql.ivfTopK)
    Query("ivf_topk", (s, d) => Similarity.ivfTopK(tables(s, d)), OracleSql.ivfTopK),
    // E14: every vector's top-k neighbors via the cell-keyed shuffle
    // join (the all-rows form of IVF search)
    // oracle: the fit + both-side cell assignment + cell join + top-3
    Query("knn_join", (s, d) => Similarity.knnJoinOf(tables(s, d).embeddings,
      k = 3, kCells = 8, nprobe = 2, iters = 3), OracleSql.knnJoin),
    // E14b: the deploy-shape sized form — kCells from the occupancy
    // rule (⌈n/128⌉, one count job), so candidate volume stays linear
    // as the corpus grows; the fixed-kCells fixture above stays as the
    // documented quadratic-by-construction recall tier. Occupancy 128
    // (round 20, the r19 verdict's gate-degeneracy fix) makes the
    // sized grid divergent from knn_join's fixed 8 cells AT THE GATE
    // SF itself — sf0.01's 500 vectors give 4 cells (the oracle's
    // sfguard pins and verifies it), sf0.1's 2,000 give 16 — so the
    // correctness gate, not just the spec, distinguishes the paths
    Query("knn_join_sized", (s, d) => {
      val e = tables(s, d).embeddings
      Similarity.knnJoinOf(e, k = 3,
        kCells = Similarity.kCellsFor(e.count(), targetOccupancy = 128L),
        nprobe = 2, iters = 3)
    }, OracleSql.knnJoinSized),
    // E15: metadata-filtered top-k — the predicate applies BEFORE the
    // ranking (pre-filter semantics), pushed into the corpus scan
    // oracle: ivf_topk's replay with the label predicate on the data side
    Query("ann_filtered_topk", (s, d) => Similarity.annFilteredTopK(tables(s, d)),
      OracleSql.annFilteredTopK),
    // §2E PQ compression search — hash-exact since round 6 (canonical
    // pqModel reduction; OracleSql.pqTopK replays fit+ADC+rerank);
    // spec additionally: recall@5 + ADC kernel equivalence
    Query("pq_topk", (s, d) => Similarity.pqTopK(tables(s, d)), OracleSql.pqTopK),
    Query("sq8_topk", (s, d) => Similarity.sq8TopK(tables(s, d)), OracleSql.sq8TopK),
    Query("ivf_sq8_topk", (s, d) => Similarity.ivfSq8TopK(tables(s, d)), OracleSql.ivfSq8TopK),
    Query("ivfpq_topk", (s, d) => Similarity.ivfPqTopK(tables(s, d)), OracleSql.ivfPqTopK),
    // the DEPLOYMENT shape: search-only against a persisted index
    // (fit once into tmpdir, like the ebml archive) —
    // hash-exact since round 6 against the SAME replay oracle as
    // ivfpq_topk (IvfSpec separately pins prefit == inline); plus the
    // zero-fit-job property and the codes-only scan
    Query("ivfpq_search_prefit", (s, d) => {
      val t = tables(s, d)
      val dir = VectorIndex.materialize(t, d)
      VectorIndex.searchTopK(t.embeddings,
        Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10), dir)
    }, OracleSql.ivfPqTopK),
    // incremental embedding near-dup: the % 8 == 7 ingest slice probes
    // the prefit artifact for settled near-dups (exact-tier IVF search
    // at the dup threshold) — the vector sibling of dedup_incremental;
    // excludeNeighbor guards against the slice's own indexed rows
    Query("dedup_embed_incremental", (s, d) => {
      val t = tables(s, d)
      val dir = VectorIndex.materialize(t, d)
      VectorIndex.nearDupBatch(
        Similarity.withNorm(t.embeddings)
          .filter(pmod(col("vec_id"), lit(8L)) === 7L),
        dir, excludeNeighbor = Some(pmod(col("n_id"), lit(8L)) === 7L))
    }, OracleSql.dedupEmbedIncremental),
    // E7's keeper rule under the oracle: the ingest slice's surviving
    // vec_ids — settled near-dups (the dedup_embed_incremental probe)
    // and larger ids of LSH-verified within-batch pairs drop; what
    // VectorIndex.curateStream persists per micro-batch
    Query("curate_embed_incremental", (s, d) => {
      val t = tables(s, d)
      val dir = VectorIndex.materialize(t, d)
      VectorIndex.curateKeepers(
        t.embeddings.filter(pmod(col("vec_id"), lit(8L)) === 7L), dir,
        excludeNeighbor = Some(pmod(col("n_id"), lit(8L)) === 7L))
        .select(col("vec_id")).orderBy("vec_id")
    }, OracleSql.curateEmbedIncremental),
    Query("dedup_minhash", (s, d) => Dedup.minhashCandidates(tables(s, d)), OracleSql.dedupMinhash),
    // incremental dedup against the persisted text index: the % 8 == 7
    // slice is the "new ingest", probed against the settled corpus's
    // hash + band artifact (built once, full lifecycle)
    Query("dedup_incremental", (s, d) => {
      val t = tables(s, d)
      val dir = TextIndex.materialize(t, d)
      TextIndex.dedupBatch(
        t.documents.filter(pmod(col("doc_id"), lit(8L)) === 7L), dir)
    }, OracleSql.dedupIncremental),
    // the curation GATE over the same ingest slice: which new docs
    // survive (curateStream persists exactly these per micro-batch)
    Query("curate_incremental", (s, d) => {
      val t = tables(s, d)
      val dir = TextIndex.materialize(t, d)
      TextIndex.curateKeepers(
        t.documents.filter(pmod(col("doc_id"), lit(8L)) === 7L), dir)
        .select(col("doc_id")).orderBy("doc_id")
    }, OracleSql.curateIncremental),
    Query("dedup_simhash", (s, d) => Dedup.simhashPairs(tables(s, d)), OracleSql.dedupSimhash),
    // scale path for the char-gram tier (DedupSpec measures
    // recall and exactness against dedup_ngram)
    Query("dedup_ngram_lsh", (s, d) => Dedup.ngramLshPairs(tables(s, d)), OracleSql.dedupNgramLsh),
    Query("dedup_embed_lsh", (s, d) => Dedup.embeddingPairsLsh(tables(s, d)),
      OracleSql.dedupEmbedLsh),
    Query("sample_k_per_source", (s, d) => TextOps.sampleKPerSource(tables(s, d)),
      OracleSql.sampleKPerSource),
    Query("shuffle_shards", (s, d) =>
      TextOps.shuffleShardsOf(tables(s, d).documents, nShards = 8),
      OracleSql.shuffleShards),
    Query("split_assign", (s, d) => TextOps.splitAssign(tables(s, d)), OracleSql.splitAssign),
    Query("profile_documents", (s, d) =>
      Analytics.profileTableOf(tables(s, d).documents,
        Seq("doc_id", "text", "lang", "source", "n_chars"),
        hashDistinct = Set("text")),
      OracleSql.profileDocuments),
    // src0's budget never binds (take-all), src1's binds tightly, the
    // default binds everywhere: all three regimes in one query
    Query("mix_token_budget", (s, d) =>
      TextOps.mixTokenBudgetOf(tables(s, d).documents,
        Map("src0" -> 100000L, "src1" -> 800L), defaultBudget = 400L),
      OracleSql.mixTokenBudget),
    // the F6 split (every 100th doc plays the benchmark set), fuzzy probe
    Query("decontaminate_fuzzy", (s, d) => {
      val t = tables(s, d)
      TextOps.decontaminateFuzzyAgainst(corpusDocs(t), benchDocs(t),
        threshold = 0.9)
    },
      OracleSql.decontaminateFuzzy),
    // F16: the same stop_ratio as qualityBody, per-source rank-selected
    // median threshold (value at floor((n-1)/2)+1 in (score, doc_id)
    // order), filter on VALUE so median ties stay in
    Query("quality_gate", (s, d) => TextOps.qualityGateOf(tables(s, d).documents),
      """WITH d AS (SELECT doc_id, source,
          regexp_extract_all(lower(text),'[a-z]+') AS toks FROM documents),
        q AS (SELECT doc_id, source,
          CASE WHEN len(toks)=0 THEN cast(0.0 as double)
            ELSE cast(len(list_filter(toks, tk -> tk IN
              ('the','a','an','of','in','on','and','to','is','it'))) as bigint)
              / cast(len(toks) as bigint) END AS stop_ratio
          FROM d),
        r AS (SELECT doc_id, source, stop_ratio,
          row_number() OVER (PARTITION BY source ORDER BY stop_ratio, doc_id) AS rn,
          count(*) OVER (PARTITION BY source) AS n
          FROM q),
        thr AS (SELECT source, stop_ratio AS p50_thr FROM r
          WHERE rn = (n-1)//2 + 1)
        SELECT r.source AS source, doc_id, stop_ratio, p50_thr
        FROM r JOIN thr ON r.source = thr.source
        WHERE stop_ratio >= p50_thr ORDER BY r.source, doc_id"""),
    // F16b: exact companion rows (same as quality_gate) + the oracle's
    // TRUE within_bound — the sketch threshold must hold its ±2% rank
    // contract or the hash gate fails (the approx_percentiles pattern)
    Query("quality_gate_approx", (s, d) => TextOps.qualityGateApproxChecked(tables(s, d)),
      """WITH d AS (SELECT doc_id, source,
          regexp_extract_all(lower(text),'[a-z]+') AS toks FROM documents),
        q AS (SELECT doc_id, source,
          CASE WHEN len(toks)=0 THEN cast(0.0 as double)
            ELSE cast(len(list_filter(toks, tk -> tk IN
              ('the','a','an','of','in','on','and','to','is','it'))) as bigint)
              / cast(len(toks) as bigint) END AS stop_ratio
          FROM d),
        r AS (SELECT doc_id, source, stop_ratio,
          row_number() OVER (PARTITION BY source ORDER BY stop_ratio, doc_id) AS rn,
          count(*) OVER (PARTITION BY source) AS n
          FROM q),
        thr AS (SELECT source, stop_ratio AS p50_thr FROM r
          WHERE rn = (n-1)//2 + 1)
        SELECT r.source AS source, doc_id, stop_ratio, p50_thr,
          TRUE AS within_bound
        FROM r JOIN thr ON r.source = thr.source
        WHERE stop_ratio >= p50_thr ORDER BY r.source, doc_id"""),
    // scale path: LSH-candidate edges + exact-kernel verify; DedupSpec
    // asserts cluster equality with dedup_clusters at sf0.001
    Query("dedup_clusters_lsh", (s, d) => Dedup.clusterDocsLsh(
      tables(s, d).documents, threshold = 0.95, maxIters = 50),
      OracleSql.dedupClustersLsh),
    // embedding clustering over the LSH-verified pairs; DedupSpec
    // asserts it refines the brute-force clustering
    Query("dedup_embed_clusters", (s, d) => Dedup.embedClustersLsh(tables(s, d)),
      OracleSql.dedupEmbedClusters),
    // end-to-end curation incl. near-dup clustering (the spec
    // pins it to an independent driver-side recompute)
    Query("curation_full", (s, d) => TextOps.curationFull(tables(s, d)), OracleSql.curationFull),
    // F31: deterministic DoReMi — k-round multiplicative weights over
    // per-source excess loss under the α-weighted mixture unigram LM
    // oracle: the 3-round deterministic DoReMi fixpoint replayed as
    // chained CTEs — same quantization points, same floor divisions
    Query("doremi_mixture", (s, d) => TextOps.doremiWeightsOf(
      tables(s, d).documents, iters = 3, capU = 20000000L),
      OracleSql.doremiWeights(3, 20000000L)),
    // F33: count-of-counts spectrum + Good-Turing adjusted counts —
    // the OOV-mass / vocabulary-growth audit
    // oracle: spectrum + cumulative permilles + raw Good-Turing r* — the
    // r+1 row joined explicitly (the spectrum is not contiguous)
    Query("vocab_spectrum", (s, d) => TextOps.vocabSpectrumOf(tables(s, d).documents),
      """WITH v AS (SELECT word, count(*)::BIGINT AS r FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents) GROUP BY word),
        s AS (SELECT r, count(*)::BIGINT AS n_types,
            r * count(*)::BIGINT AS mass FROM v GROUP BY r),
        t AS (SELECT cast(sum(n_types) as bigint) AS tt,
            cast(sum(mass) as bigint) AS tm FROM s),
        c AS (SELECT s.*, cast(sum(n_types) OVER (ORDER BY r) as bigint) AS ct,
            cast(sum(mass) OVER (ORDER BY r) as bigint) AS cm FROM s)
        SELECT c.r, c.n_types, c.mass,
          (c.ct * 1000) // t.tt AS types_cum_permille,
          (c.cm * 1000) // t.tm AS mass_cum_permille,
          CASE WHEN nx.n_types IS NULL THEN 0
               ELSE ((c.r + 1) * nx.n_types * 1000000) // c.n_types
          END AS gt_rstar_u
        FROM c CROSS JOIN t LEFT JOIN s nx ON nx.r = c.r + 1
        ORDER BY c.r"""),
    // F31b: DoReMi one model order up — excess loss under the α-pooled
    // BIGRAM mixture (distinct word SEQUENCES gain weight, not just
    // distinct vocabularies)
    // oracle: the bigram fixpoint replayed the same way — pooled
    // transition masses, context totals from the clamped masses
    Query("doremi_mixture2", (s, d) => TextOps.doremiWeights2Of(
      tables(s, d).documents, iters = 3, capU = 20000000L),
      OracleSql.doremiWeights2(3, 20000000L)),
    Query("ann_lsh_topk", (s, d) => Similarity.annLshTopK(tables(s, d)), OracleSql.annLshTopK),
    // E13: the eval loop itself — recall@k/MRR/nDCG of the LSH arm
    // against the brute ground truth, exact integers end to end
    // oracle: both arms replayed verbatim as derived tables, metrics over
    // the SAME driver-inlined nDCG weight literals as the Spark plan
    Query("retrieval_quality", (s, d) => Similarity.retrievalQuality(tables(s, d)),
      OracleSql.retrievalQuality(5, AnnBruteSql, OracleSql.annLshTopK)),
    Query("ann_radius", (s, d) => Similarity.annRadius(tables(s, d)), OracleSql.annRadius),
    // the IDENTICAL scoring arithmetic as TextOps.langIdOf: per-language
    // function-word hit counts, non-ASCII char count for zh, greatest()
    // with the zh>en>es>fr>de tie priority, 'und' when all zero
    Query("lang_id", (s, d) => TextOps.langId(tables(s, d)),
      """WITH w AS (SELECT doc_id, lang,
          regexp_extract_all(lower(text), '[a-z]+') AS toks,
          cast(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) as bigint) AS zh
        FROM documents),
        s AS (SELECT doc_id, lang, zh,
          cast(len(list_filter(toks, tk -> tk IN ('the','and','of','to','is'))) as bigint) AS en,
          cast(len(list_filter(toks, tk -> tk IN ('el','la','de','que','los'))) as bigint) AS es,
          cast(len(list_filter(toks, tk -> tk IN ('le','les','des','et','une'))) as bigint) AS fr,
          cast(len(list_filter(toks, tk -> tk IN ('der','die','das','und','nicht'))) as bigint) AS de
        FROM w)
        SELECT doc_id,
          CASE WHEN greatest(en, es, fr, de, zh) = 0 THEN 'und'
               WHEN zh = greatest(en, es, fr, de, zh) THEN 'zh'
               WHEN en = greatest(en, es, fr, de, zh) THEN 'en'
               WHEN es = greatest(en, es, fr, de, zh) THEN 'es'
               WHEN fr = greatest(en, es, fr, de, zh) THEN 'fr'
               ELSE 'de' END AS pred_lang,
          lang AS true_lang
        FROM s ORDER BY doc_id"""),
    // F30: lang-ID confusion matrix vs the labeled language
    // oracle: the same scoring, folded to the (true, pred) confusion
    // matrix with per-label shares as floor-division permille
    Query("lang_confusion", (s, d) => TextOps.langConfusion(tables(s, d)),
      """WITH w AS (SELECT doc_id, lang,
          regexp_extract_all(lower(text), '[a-z]+') AS toks,
          cast(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) as bigint) AS zh
        FROM documents),
        s AS (SELECT doc_id, lang, zh,
          cast(len(list_filter(toks, tk -> tk IN ('the','and','of','to','is'))) as bigint) AS en,
          cast(len(list_filter(toks, tk -> tk IN ('el','la','de','que','los'))) as bigint) AS es,
          cast(len(list_filter(toks, tk -> tk IN ('le','les','des','et','une'))) as bigint) AS fr,
          cast(len(list_filter(toks, tk -> tk IN ('der','die','das','und','nicht'))) as bigint) AS de
        FROM w),
        p AS (SELECT lang AS true_lang,
          CASE WHEN greatest(en, es, fr, de, zh) = 0 THEN 'und'
               WHEN zh = greatest(en, es, fr, de, zh) THEN 'zh'
               WHEN en = greatest(en, es, fr, de, zh) THEN 'en'
               WHEN es = greatest(en, es, fr, de, zh) THEN 'es'
               WHEN fr = greatest(en, es, fr, de, zh) THEN 'fr'
               ELSE 'de' END AS pred_lang
        FROM s),
        c AS (SELECT true_lang, pred_lang, count(*) AS n
          FROM p GROUP BY true_lang, pred_lang)
        SELECT true_lang, pred_lang, n,
          cast((n * 1000) // sum(n) OVER (PARTITION BY true_lang) as bigint)
            AS share_permille
        FROM c ORDER BY true_lang, pred_lang"""),
    Query("q1_pricing_summary", (s, d) => Analytics.q1PricingSummary(tables(s, d)),
      s"""SELECT l_returnflag, l_linestatus,
          cast(sum($centsQty) as bigint) AS sum_qty_c,
          cast(sum($centsExt) as bigint) AS sum_base_c,
          $revenue AS sum_disc_c,
          count(*) AS cnt,
          cast(sum($centsQty) as bigint)/count(*) AS avg_qty
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    Query("q3_shipping_priority", (s, d) => Analytics.q3ShippingPriority(tables(s, d)),
      s"""SELECT l_orderkey, strftime(o_orderdate,'%Y-%m-%d') AS o_date, o_orderpriority,
          $revenue AS revenue_c
        FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
        WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1,2,3 ORDER BY revenue_c DESC, l_orderkey LIMIT 10"""),
    Query("q5_region_revenue", (s, d) => Analytics.q5RegionRevenue(tables(s, d)),
      s"""SELECT n_name, $revenue AS revenue_c
        FROM lineitem JOIN orders ON l_orderkey=o_orderkey
          JOIN customer ON o_custkey=c_custkey
          JOIN supplier ON l_suppkey=s_suppkey AND s_nationkey=c_nationkey
          JOIN nation ON c_nationkey=n_nationkey
          JOIN region ON n_regionkey=r_regionkey
        WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY revenue_c DESC, n_name"""),
    Query("topk_orders", (s, d) => Analytics.topkOrders(tables(s, d)),
      s"""SELECT o_orderkey, $centsTotal AS price_c FROM orders
        ORDER BY price_c DESC, o_orderkey LIMIT 10"""),
    Query("window_running_sum", (s, d) => Analytics.windowRunningSum(tables(s, d)),
      s"""WITH base AS (SELECT o_custkey, o_orderkey, strftime(o_orderdate,'%Y-%m-%d') AS o_date,
          $centsTotal AS price_c FROM orders)
        SELECT o_custkey, o_orderkey, o_date, price_c,
          cast(sum(price_c) OVER (PARTITION BY o_custkey ORDER BY o_date, o_orderkey) as bigint) AS run_c,
          cast(rank() OVER (PARTITION BY o_custkey ORDER BY price_c DESC, o_orderkey) as bigint) AS rnk
        FROM base ORDER BY o_custkey, o_orderkey"""),
    Query("window_lead_lag", (s, d) => Analytics.windowLeadLag(tables(s, d)),
      """WITH base AS (SELECT o_custkey, o_orderkey, cast(o_orderdate as date) AS o_date FROM orders)
        SELECT o_custkey, o_orderkey, strftime(o_date,'%Y-%m-%d') AS o_date,
          cast(date_diff('day', lag(o_date) OVER w, o_date) as bigint) AS prev_gap_days,
          cast(date_diff('day', o_date, lead(o_date) OVER w) as bigint) AS next_gap_days
        FROM base WINDOW w AS (PARTITION BY o_custkey ORDER BY o_date, o_orderkey)
        ORDER BY o_custkey, o_orderkey"""),
    Query("window_ntile", (s, d) => Analytics.windowNtile(tables(s, d)),
      s"""WITH base AS (SELECT o_orderkey, o_orderpriority,
          $centsTotal AS price_c FROM orders)
        SELECT o_orderkey, o_orderpriority, price_c,
          cast(ntile(4) OVER w as bigint) AS quartile,
          percent_rank() OVER w AS pct_rank
        FROM base WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_c, o_orderkey)
        ORDER BY o_orderkey"""),
    Query("set_ops", (s, d) => Analytics.setOps(tables(s, d)),
      """SELECT c_custkey, 'both' AS tag FROM (
          SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
          INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        UNION ALL
        SELECT c_custkey, 'building_only' AS tag FROM (
          SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
          EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        ORDER BY tag, c_custkey"""),
    Query("dedup_ngram", (s, d) => Dedup.ngramJaccardPairs(tables(s, d)),
      """WITH t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, length(text)-1), i -> substring(text, i, 3))) AS sh
          FROM documents),
        n AS (SELECT doc_id, sh, cast(len(sh) as bigint) AS nn FROM t)
        SELECT id_a, id_b, round(j,4) AS jaccard4 FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            cast(len(list_intersect(a.sh,b.sh)) as bigint)
              / (a.nn + b.nn - cast(len(list_intersect(a.sh,b.sh)) as bigint)) AS j
          FROM n a JOIN n b ON a.doc_id < b.doc_id)
        WHERE j >= 0.9 ORDER BY id_a, id_b"""),
    Query("distinct_counts", (s, d) => Analytics.distinctCounts(tables(s, d)),
      """SELECT cast(count(distinct o_custkey) as bigint) AS n_cust,
          cast(count(distinct o_orderstatus) as bigint) AS n_status,
          count(*) AS n_orders FROM orders"""),
    Query("semi_anti_join", (s, d) => Analytics.semiAntiJoin(tables(s, d)),
      """SELECT c_custkey,
          CASE WHEN EXISTS(SELECT 1 FROM orders WHERE o_custkey=c_custkey)
               THEN cast(1 as bigint) ELSE cast(0 as bigint) END AS has_order
        FROM customer ORDER BY c_custkey"""),
    // the ON-clause filter must stay in the join condition: a WHERE
    // would drop the zero-order customers the outer join exists to keep
    Query("outer_join_dist", (s, d) => Analytics.outerJoinDist(tables(s, d)),
      """SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    Query("outer_join_full", (s, d) => Analytics.fullOuterJoinAgg(tables(s, d)),
      s"""SELECT coalesce(c_mktsegment, 'NO_CUSTOMER') AS segment,
          coalesce(o_orderpriority, 'NO_ORDER') AS priority,
          count(*) AS n, cast(sum($centsTotal) as bigint) AS sum_c
        FROM customer FULL OUTER JOIN orders
          ON c_custkey = o_custkey AND c_acctbal > 5000
            AND o_orderpriority = '1-URGENT'
        GROUP BY 1, 2 ORDER BY 1, 2"""),
    Query("correlated_min_order", (s, d) => Analytics.correlatedMinOrder(tables(s, d)),
      """SELECT o_custkey, o_orderkey,
          cast(round(o_totalprice*100) as bigint) AS price_c
        FROM orders o
        WHERE o_totalprice = (SELECT min(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_custkey, o_orderkey"""),
    Query("rollup_agg", (s, d) => Analytics.rollupAgg(tables(s, d)),
      s"""SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
          count(*) AS n, cast(sum($centsTotal) as bigint) AS sum_c
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY status, priority"""),
    Query("cube_agg", (s, d) => Analytics.cubeAgg(tables(s, d)),
      s"""SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
          count(*) AS n, cast(sum($centsTotal) as bigint) AS sum_c
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY status, priority"""),
    Query("yearly_orders", (s, d) => Analytics.yearlyOrders(tables(s, d)),
      s"""SELECT cast(year(o_orderdate) as bigint) AS yr, count(*) AS n,
          cast(sum($centsTotal) as bigint) AS sum_c
        FROM orders GROUP BY 1 ORDER BY yr"""),
    Query("string_funcs", (s, d) => Analytics.stringFuncs(tables(s, d)),
      """SELECT p_partkey, upper(p_brand) AS brand_u,
          replace(p_type, ' ', '_') AS type_u,
          p_brand || '|' || p_type AS brand_type,
          substring(p_name, 1, 10) AS name10,
          cast(length(p_name) as bigint) AS name_len
        FROM part ORDER BY p_partkey"""),
    Query("percentiles", (s, d) => Analytics.percentiles(tables(s, d)),
      s"""WITH s AS (SELECT event_type, $centsValue AS v_c, event_id FROM events),
        w AS (SELECT event_type, v_c,
          row_number() OVER (PARTITION BY event_type ORDER BY v_c, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM s)
        SELECT event_type, q, v_c FROM (
          SELECT event_type, cast(0.5 as double) AS q, v_c FROM w WHERE rn = floor((n-1)*0.5)+1
          UNION ALL
          SELECT event_type, cast(0.9 as double) AS q, v_c FROM w WHERE rn = floor((n-1)*0.9)+1
        ) ORDER BY event_type, q"""),
    // C21: robust (median/MAD) outlier census, exact integer threshold
    // oracle: the C10 exact rank rule for both medians; the 3·1.4826·MAD
    // Gaussian-consistent threshold as the exact integer comparison
    // dev·10000 > 44478·mad (no float threshold on either engine)
    Query("mad_outliers", (s, d) => Analytics.madOutliersOf(tables(s, d).events),
      s"""WITH s AS (SELECT event_type, $centsValue AS v_c, event_id FROM events),
        w1 AS (SELECT event_type, v_c,
          row_number() OVER (PARTITION BY event_type ORDER BY v_c, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM s),
        med AS (SELECT event_type, v_c AS med_c FROM w1 WHERE rn = floor((n-1)*0.5)+1),
        d AS (SELECT s.event_type, s.event_id, abs(s.v_c - med.med_c) AS dev
          FROM s JOIN med USING (event_type)),
        w2 AS (SELECT event_type, dev,
          row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM d),
        mad AS (SELECT event_type, dev AS mad_c FROM w2 WHERE rn = floor((n-1)*0.5)+1)
        SELECT d.event_type, cast(count(*) as bigint) AS n,
          max(med.med_c) AS med_c, max(mad.mad_c) AS mad_c,
          cast(sum(CASE WHEN d.dev * 10000 > mad.mad_c * 44478 THEN 1 ELSE 0 END) as bigint) AS n_outliers,
          cast(sum(CASE WHEN d.dev * 10000 > mad.mad_c * 44478 THEN 1 ELSE 0 END) * 1000 // count(*) as bigint) AS outlier_pm
        FROM d JOIN mad USING (event_type) JOIN med USING (event_type)
        GROUP BY d.event_type ORDER BY d.event_type"""),
    // sketch estimates in their ORACLE-CHECKED form: exact companion
    // columns hash-compare against DuckDB and a within_bound boolean
    // (oracle asserts true) turns the spec's error bound into a gate
    Query("approx_distinct", (s, d) => Analytics.approxDistinctChecked(tables(s, d)),
      """SELECT event_type,
           cast(count(DISTINCT user_id) as bigint) AS exact_users,
           TRUE AS within_bound
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("approx_percentiles", (s, d) => Analytics.approxPercentilesChecked(tables(s, d)),
      s"""WITH s AS (SELECT event_type, $centsValue AS v_c, event_id FROM events),
        w AS (SELECT event_type, v_c,
          row_number() OVER (PARTITION BY event_type ORDER BY v_c, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM s)
        SELECT event_type, q, v_c, TRUE AS within_bound FROM (
          SELECT event_type, cast(0.5 as double) AS q, v_c FROM w WHERE rn = floor((n-1)*0.5)+1
          UNION ALL
          SELECT event_type, cast(0.9 as double) AS q, v_c FROM w WHERE rn = floor((n-1)*0.9)+1
        ) ORDER BY event_type, q"""),
    Query("pivot_event_types", (s, d) => Analytics.pivotEventTypes(tables(s, d)),
      """SELECT user_id,
          count(CASE WHEN event_type='click' THEN 1 END) AS n_click,
          count(CASE WHEN event_type='error' THEN 1 END) AS n_error,
          count(CASE WHEN event_type='purchase' THEN 1 END) AS n_purchase,
          count(CASE WHEN event_type='signup' THEN 1 END) AS n_signup,
          count(CASE WHEN event_type='view' THEN 1 END) AS n_view
        FROM events GROUP BY user_id ORDER BY user_id"""),
    Query("json_extract", (s, d) => Analytics.jsonExtract(tables(s, d)),
      """SELECT event_id, cast(json_extract_string(props,'$.k') as bigint) AS k
        FROM events WHERE cast(json_extract_string(props,'$.k') as bigint) > 50
        ORDER BY event_id"""),
    Query("enrich_events", (s, d) => Analytics.enrichEvents(tables(s, d)),
      s"""SELECT c_mktsegment, count(*) AS n,
          cast(sum($centsValue) as bigint) AS sum_value_c
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // H10 under the driver oracle: the same enrichment read from
    // bucketed twins of events+customer (built once, catalog-gated) —
    // the join is exchange-free (BucketingSpec pins the plan) and the
    // result hashes identically to enrich_events
    Query("enrich_events_bucketed", (s, d) =>
      Analytics.enrichEventsBucketed(tables(s, d), d),
      s"""SELECT c_mktsegment, count(*) AS n,
          cast(sum($centsValue) as bigint) AS sum_value_c
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // H13: MERGE upsert/delete into a hash-partitioned parquet
    // snapshot, touched-partition-only rewrite (replay-idempotent, so
    // every run times the real merge write)
    // oracle: the MERGE's final state replayed relationally — survivors
    // (base minus every batch key) + modified upserts + new-key inserts
    Query("merge_upsert", (s, d) =>
      graft.sources.Snapshot.mergeUpsertQuery(tables(s, d), d),
      s"""WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
          $centsTotal AS total_c, o_orderpriority AS priority FROM orders),
        batch_keys AS (SELECT k FROM base WHERE (k % 7 = 3 AND k % 11 != 5) OR k % 11 = 5),
        up AS (SELECT k, 'M' AS status, total_c + 12345 AS total_c, priority
          FROM base WHERE k % 7 = 3 AND k % 11 != 5),
        ins AS (SELECT k + 1000000000000 AS k, 'N' AS status, total_c, priority
          FROM base WHERE k % 13 = 1)
        SELECT k, status, total_c, priority FROM base
          WHERE k NOT IN (SELECT k FROM batch_keys)
        UNION ALL SELECT * FROM up
        UNION ALL SELECT * FROM ins
        ORDER BY k"""),
    // H13b: versioned APPLY CHANGES with tombstones — the events
    // changelog applied in four OUT-OF-ORDER micro-batches; the oracle
    // gates that the end state equals the global latest-wins election
    // regardless of the batch split
    // oracle: whatever the micro-batch split and order, the CDC end state
    // is the per-key global-max-version row, with error-latest keys
    // tombstoned away
    Query("merge_cdc", (s, d) =>
      graft.sources.Snapshot.mergeCdcQuery(tables(s, d), d),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
          cast(round(value*100) as bigint) AS value_c FROM events),
        r AS (SELECT *,
          row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e)
        SELECT user_id, event_id AS last_event_id, ts_ms AS last_ms,
          event_type AS last_type, value_c AS last_value_c
        FROM r WHERE rn = 1 AND event_type != 'error'
        ORDER BY user_id"""),
    // H16: read AS OF an intermediate version of the copy-on-write
    // versioned snapshot — the history builds once per source generation, the
    // benched query is the manifest-driven partition-pruned read, and
    // the hash gate proves historical reads are insulated from the two
    // LATER commits (incl. later deletes/re-upserts)
    // oracle: the as-of-v2 table = latest-wins election restricted to the
    // two slices that had landed by version 2 (3 then 1) — rows from
    // the later slices {0, 2} must be invisible however their versions
    // interleave, and error-latest users (tombstones) stay absent
    Query("snapshot_time_travel", (s, d) =>
      graft.sources.VersionedSnapshot.timeTravelQuery(tables(s, d), d),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
          cast(round(value*100) as bigint) AS value_c FROM events
        WHERE event_id % 4 IN (3, 1)),
        r AS (SELECT *,
          row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e)
        SELECT user_id, event_id AS last_event_id, ts_ms AS last_ms,
          event_type AS last_type, value_c AS last_value_c
        FROM r WHERE rn = 1 AND event_type != 'error'
        ORDER BY user_id"""),
    // H16b: table_changes(v2, v4] — the CDF read over the same history,
    // manifest-pruned to remapped buckets before any file opens
    // oracle: both versions' latest-wins elections replayed from raw
    // events, classified insert/update/delete — tombstone transitions
    // in both directions (insert = revival past a tombstone too)
    Query("snapshot_changes", (s, d) =>
      graft.sources.VersionedSnapshot.changesQuery(tables(s, d), d),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        w2 AS (SELECT user_id, event_id, ts_ms, (event_type = 'error') AS del FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e WHERE event_id % 4 IN (3, 1)) WHERE rn = 1),
        w4 AS (SELECT user_id, event_id, ts_ms, (event_type = 'error') AS del FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e) WHERE rn = 1),
        c AS (SELECT w4.user_id,
          CASE WHEN (w2.user_id IS NULL OR w2.del) AND NOT w4.del THEN 'insert'
               WHEN w2.user_id IS NOT NULL AND NOT w2.del AND w4.del THEN 'delete'
               WHEN w2.user_id IS NOT NULL AND NOT w2.del AND NOT w4.del
                    AND (w4.ts_ms <> w2.ts_ms OR w4.event_id <> w2.event_id) THEN 'update'
          END AS change,
          w4.event_id AS last_event_id, w4.ts_ms AS last_ms
        FROM w4 LEFT JOIN w2 ON w4.user_id = w2.user_id)
        SELECT user_id, change, last_event_id, last_ms FROM c
        WHERE change IS NOT NULL ORDER BY user_id"""),
    Query("quality_by_source", (s, d) => TextOps.qualityBySource(tables(s, d)),
      """WITH d AS (SELECT source, cast(length(text) as bigint) AS len,
          cast(len(regexp_extract_all(lower(text),'[a-z]+')) as bigint) AS w,
          cast(len(list_filter(regexp_extract_all(lower(text),'[a-z]+'),
            tk -> tk IN ('the','a','an','of','in','on','and','to','is','it'))) as bigint) AS s
        FROM documents)
        SELECT source, count(*) AS n_docs,
          cast(sum(len) as bigint) AS total_chars,
          cast(sum(w) as bigint) AS total_words,
          cast(sum(s) as bigint)/cast(sum(w) as bigint) AS stop_ratio
        FROM d GROUP BY source ORDER BY source"""),
    Query("above_avg_filter", (s, d) => Analytics.aboveAvgFilter(tables(s, d)),
      s"""SELECT o_orderkey, $centsTotal AS price_c FROM orders
        WHERE $centsTotal > (SELECT cast(sum($centsTotal) as bigint)/count(*) FROM orders)
        ORDER BY o_orderkey"""),
    // C22: exact-integer PageRank fixpoint over the purchase graph
    Query("supplier_pagerank", (s, d) => Analytics.supplierPagerank(tables(s, d)),
      OracleSql.supplierPagerank(6)),
    // C23: Deequ-style constraint audit (healthy tables -> all zeros)
    // oracle: each constraint check replayed as a scalar count
    Query("dq_audit", (s, d) => Analytics.dqAudit(tables(s, d)),
      """SELECT * FROM (
        SELECT 'customer_orphan_nation' AS check_name, count(*) AS n_violations
          FROM customer c WHERE c_nationkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        UNION ALL SELECT 'documents_duplicate_id', count(*) FROM
          (SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1)
        UNION ALL SELECT 'documents_empty_text', count(*) FROM documents
          WHERE text IS NULL OR length(text) = 0
        UNION ALL SELECT 'events_duplicate_id', count(*) FROM
          (SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1)
        UNION ALL SELECT 'events_negative_value', count(*) FROM events WHERE value < 0
        UNION ALL SELECT 'events_null_user', count(*) FROM events WHERE user_id IS NULL
        UNION ALL SELECT 'lineitem_duplicate_line', count(*) FROM
          (SELECT l_orderkey, l_linenumber FROM lineitem
           GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
        UNION ALL SELECT 'lineitem_orphan_order', count(*) FROM lineitem l
          WHERE l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL SELECT 'lineitem_orphan_part', count(*) FROM lineitem l
          WHERE l_partkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        UNION ALL SELECT 'lineitem_orphan_supplier', count(*) FROM lineitem l
          WHERE l_suppkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        UNION ALL SELECT 'orders_duplicate_key', count(*) FROM
          (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
        UNION ALL SELECT 'orders_orphan_customer', count(*) FROM orders o
          WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL SELECT 'orders_unknown_status', count(*) FROM orders
          WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P')
        UNION ALL SELECT 'supplier_orphan_nation', count(*) FROM supplier s
          WHERE s_nationkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
        ) ORDER BY check_name"""),
    Query("asof_next_marker", (s, d) => EventOps.asofNextMarker(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type,
          CASE WHEN event_type='error' THEN event_id END AS marker_id FROM events)
        SELECT event_id, next_marker FROM (
          SELECT event_id, event_type,
            first_value(marker_id IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts_ms ASC, marker_id ASC NULLS LAST
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_marker
          FROM e)
        WHERE event_type <> 'error' ORDER BY event_id"""),
    // B1b: backward as-of — the "state in force at event time" mirror
    // oracle: the backward mirror — last marker at ts <= the event's, the
    // same single window pass with the frame flipped
    Query("asof_prev_marker", (s, d) => EventOps.asofPrevMarker(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type,
          CASE WHEN event_type='error' THEN event_id END AS marker_id FROM events)
        SELECT event_id, prev_marker FROM (
          SELECT event_id, event_type,
            last_value(marker_id IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts_ms ASC, marker_id ASC NULLS LAST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_marker
          FROM e)
        WHERE event_type <> 'error' ORDER BY event_id"""),
    // same semantics through the custom LogicalPlan + SparkStrategy (H6):
    // the driver's oracle check covers the plan-node lowering, not just
    // the window form
    Query("asof_custom_plan", (s, d) => {
      val e = tables(s, d).events
        .selectExpr("event_id", "user_id", "ts div 1000000 as ts_ms", "event_type")
      val data = e.filter(col("event_type") =!= "error")
        .select("event_id", "user_id", "ts_ms")
      val markers = e.filter(col("event_type") === "error")
        .select(col("user_id").as("m_user"), col("ts_ms").as("m_ts"),
          col("event_id").as("m_id"))
      graft.plans.AsOf.join(data, markers,
          "user_id", "ts_ms", "m_user", "m_ts", "m_id")
        .select(col("event_id"), col("asof_match").as("next_marker"))
        .orderBy("event_id")
    }, """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type,
          CASE WHEN event_type='error' THEN event_id END AS marker_id FROM events)
        SELECT event_id, next_marker FROM (
          SELECT event_id, event_type,
            first_value(marker_id IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts_ms ASC, marker_id ASC NULLS LAST
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_marker
          FROM e)
        WHERE event_type <> 'error' ORDER BY event_id"""),
    Query("sample_first_per_window", (s, d) => EventOps.sampleFirstPerWindow(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
          epoch_ms(ts)//3600000 AS bucket FROM events)
        SELECT event_id, user_id, bucket FROM (
          SELECT event_id, user_id, bucket,
            row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts_ms, event_id) AS rn
          FROM e)
        WHERE rn=1 ORDER BY user_id, bucket"""),
    Query("last_n_per_key", (s, d) => EventOps.lastNPerKey(tables(s, d)),
      """SELECT event_id, user_id, rn FROM (
          SELECT event_id, user_id,
            cast(row_number() OVER (PARTITION BY user_id
              ORDER BY epoch_ms(ts) DESC, event_id DESC) as bigint) AS rn
          FROM events)
        WHERE rn <= 3 ORDER BY user_id, rn"""),
    Query("rate_tumbling", (s, d) => EventOps.rateTumbling(tables(s, d)),
      s"""SELECT epoch_ms(ts)//600000 AS bucket, count(*) AS n,
          cast(sum($centsValue) as bigint) AS sum_value_c
        FROM events GROUP BY 1 ORDER BY bucket"""),
    Query("lag_monitor", (s, d) => EventOps.lagMonitor(tables(s, d)),
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events)
        SELECT user_id, (SELECT max(ts_ms) FROM e) - max(ts_ms) AS behind_ms,
          count(*) AS n FROM e GROUP BY user_id ORDER BY user_id"""),
    Query("resume_from_token", (s, d) => EventOps.resumeFromToken(tables(s, d)),
      """WITH chk AS (SELECT epoch_ms(ts) AS chk_ms, event_id AS chk_id
          FROM events WHERE event_id=500)
        SELECT e.event_id FROM events e, chk
        WHERE epoch_ms(e.ts) > chk.chk_ms
           OR (epoch_ms(e.ts) = chk.chk_ms AND e.event_id > chk.chk_id)
        ORDER BY e.event_id"""),
    Query("sessionize", (s, d) => EventOps.sessionize(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
        l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
        s AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 3600000
          THEN 1 ELSE 0 END AS new_sess FROM l),
        c AS (SELECT *, cast(sum(new_sess) OVER (PARTITION BY user_id
          ORDER BY ts_ms, event_id) as bigint) AS session_id FROM s)
        SELECT user_id, session_id, count(*) AS n, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        FROM c GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    // B28: per-session ordered transcript assembly (chat-corpus step)
    // oracle: same session labeling, transcript = total-order string_agg
    Query("session_transcripts", (s, d) => EventOps.sessionTranscripts(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
        s AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 3600000
          THEN 1 ELSE 0 END AS new_sess FROM l),
        c AS (SELECT *, cast(sum(new_sess) OVER (PARTITION BY user_id
          ORDER BY ts_ms, event_id) as bigint) AS session_id FROM s)
        SELECT user_id, session_id, count(*) AS n_turns,
          max(ts_ms) - min(ts_ms) AS dur_ms,
          string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS transcript
        FROM c GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    Query("reconnect_accounting", (s, d) => EventOps.reconnectAccounting(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
        s AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 3600000
          THEN 1 ELSE 0 END AS new_sess FROM l)
        SELECT user_id,
          cast(sum(new_sess) - 1 as bigint) AS n_renewals,
          cast(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) as bigint) AS n_attempts,
          count(*) AS n_events,
          cast(CASE WHEN sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) > 10
            THEN 1 ELSE 0 END as bigint) AS gave_up
        FROM s GROUP BY user_id ORDER BY user_id"""),
    // B23-B25 CDC/state shapes over the change log: latest-wins
    // compaction (partial-agg max-struct, no window sort), SCD-2
    // validity intervals, and the z-score alerting layer over B4
    // the oracle elects the newest version by the window form; the
    // Spark side's max(struct) partial agg must land on the same row
    // because (ts_ms, event_id) is a total order
    Query("latest_state", (s, d) => EventOps.latestState(tables(s, d)),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
          cast(round(value*100) as bigint) AS value_c FROM events),
        r AS (SELECT *,
          row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n_versions FROM e)
        SELECT user_id, event_id AS last_event_id, ts_ms AS last_ms,
          event_type AS last_type, value_c AS last_value_c,
          cast(n_versions as bigint) AS n_versions
        FROM r WHERE rn = 1 ORDER BY user_id"""),
    Query("scd2_intervals", (s, d) => EventOps.scd2Intervals(tables(s, d)),
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events)
        SELECT user_id, event_id, ts_ms AS valid_from_ms,
          lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS valid_to_ms,
          cast(CASE WHEN lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
            THEN 1 ELSE 0 END as bigint) AS is_current
        FROM e ORDER BY user_id, valid_from_ms, event_id"""),
    // B25: trailing stats are EXACT int64 sums; the float sequence
    // (deviation division, variance division, sqrt, z division, one 4dp
    // round) replays the Spark expression op-for-op. The variance
    // numerator products are widened past int64 on BOTH sides (Spark
    // decimal(38,0), DuckDB HUGEINT — both exact integers here), so the
    // hash-exact contract survives buckets past ~1.3e8 events where the
    // int64 product would wrap (Spark, ANSI off) or raise (DuckDB)
    Query("rate_anomaly", (s, d) => EventOps.rateAnomaly(tables(s, d)),
      """WITH c AS (SELECT epoch_ms(ts)//600000 AS bucket, count(*) AS n
          FROM events GROUP BY 1),
        w AS (SELECT bucket, n,
            count(*) OVER win AS t_cnt,
            sum(n) OVER win AS t_sum,
            sum(n*n) OVER win AS t_sumsq
          FROM c WINDOW win AS (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        z AS (SELECT *,
            CASE WHEN t_cnt = 24
                AND cast(t_cnt as HUGEINT)*t_sumsq - cast(t_sum as HUGEINT)*t_sum > 0
              THEN round((cast(n*t_cnt - t_sum as double) / cast(t_cnt as double))
                / sqrt(cast(cast(t_cnt as HUGEINT)*t_sumsq - cast(t_sum as HUGEINT)*t_sum as double)
                  / cast(t_cnt*t_cnt as double)), 4)
            END AS z4
          FROM w)
        SELECT bucket, cast(n as bigint) AS n, cast(t_cnt as bigint) AS t_cnt,
          cast(t_sum as bigint) AS t_sum, cast(t_sumsq as bigint) AS t_sumsq, z4,
          CASE WHEN z4 IS NOT NULL THEN cast(abs(z4) > 3.0 as bigint) END AS is_spike
        FROM z ORDER BY bucket"""),
    // B26: stage-ordered signup→view→click→purchase funnel (N-stage
    // fold, round 13), one user_id shuffle
    // oracle: sequential stage minima as whole-partition window aggs —
    // exact int64 ms comparisons; the replay is GENERATED per stage
    // list, so the 4-stage query and any N-stage library call share
    // one oracle form
    Query("funnel_stages", (s, d) => EventOps.funnelStages(tables(s, d)),
      OracleSql.funnelSql(Seq("signup", "view", "click", "purchase"))),
    // B27: first-seen-day cohorts × day offsets, one event-scale shuffle
    // oracle: exact epoch-day int64 arithmetic; the offset-0 cell is the
    // cohort size (every user is active on their first day); per-mille
    // retention by exact integer division on both engines
    Query("cohort_retention", (s, d) => EventOps.cohortRetention(tables(s, d)),
      """WITH e AS (SELECT user_id, epoch_ms(ts)//86400000 AS day FROM events),
        ud AS (SELECT DISTINCT user_id, day FROM e),
        fu AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1),
        cells AS (SELECT f.cohort_day, u.day - f.cohort_day AS offset_days,
            count(*) AS active_users
          FROM ud u JOIN fu f USING (user_id) GROUP BY 1, 2),
        sz AS (SELECT cohort_day, active_users AS cohort_size
          FROM cells WHERE offset_days = 0)
        SELECT c.cohort_day, c.offset_days, c.active_users, s.cohort_size,
          c.active_users * 1000 // s.cohort_size AS retained_pm
        FROM cells c JOIN sz s USING (cohort_day)
        ORDER BY cohort_day, offset_days"""),
    // chunked range join (Spark has no native one; naive is a BNLJ)
    Query("range_join_events", (s, d) => EventOps.rangeJoinEvents(tables(s, d)),
      """WITH iv AS (SELECT event_id AS iv_id, epoch_ms(ts) AS start_ms,
          epoch_ms(ts) + 3600000 AS end_ms FROM events WHERE event_id % 100 = 0),
        pts AS (SELECT event_id, epoch_ms(ts) AS pt FROM events)
        SELECT iv.iv_id, cast(count(*) as bigint) AS n_events,
          min(pts.event_id) AS first_event
        FROM iv JOIN pts ON pts.pt >= iv.start_ms AND pts.pt < iv.end_ms
        GROUP BY iv.iv_id ORDER BY iv.iv_id"""),
    Query("grouping_sets_agg", (s, d) => Analytics.groupingSetsAgg(tables(s, d)),
      """SELECT o_orderpriority AS priority, o_orderstatus AS status,
          cast(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) as bigint) AS gid,
          count(*) AS n,
          cast(sum(cast(round(o_totalprice*100) as bigint)) as bigint) AS sum_c
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, priority NULLS FIRST, status NULLS FIRST"""),
    Query("window_range_1h", (s, d) => Analytics.windowRangeSum(tables(s, d)),
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
          cast(sum(cast(round(value*100) as bigint)) OVER (
            PARTITION BY user_id ORDER BY epoch_ms(ts)
            RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) as bigint) AS sum_1h_c
        FROM events ORDER BY user_id, ts_ms, event_id"""),
    // the SAME Knuth-hash keep decision as the Spark side (abs, then id
    // reduced mod 1e9+7 so the product fits int64 for every id; abs on
    // BOTH engines because Spark's pmod is non-negative while DuckDB's
    // % follows the dividend's sign) — the sample itself is hash-exact,
    // not just its size
    // the mixing query shape: all of src0, half of src1, 10% of the rest
    Query("mix_sample", (s, d) => TextOps.mixSample(tables(s, d).documents,
      Map("src0" -> 1.0, "src1" -> 0.5), defaultFrac = 0.1),
      """SELECT doc_id, source FROM documents
        WHERE ((abs(doc_id) % 1000000007) * 2654435761) % 1000000007 % 1000000 <
          CASE WHEN source = 'src0' THEN 1000000
               WHEN source = 'src1' THEN 500000
               ELSE 100000 END
        ORDER BY doc_id"""),
    // F17: replays temperatureRates' EXACT IEEE operation sequence —
    // sqrt is correctly rounded on both engines (the reason α = 1/2),
    // Z folds sqrt(n) in source-name order from 0.0 (list_reduce over
    // an ORDER BY source list), and every mul/div runs in the Scala
    // order — then the same Knuth-hash keep decision as mix_sample
    Query("sample_temperature", (s, d) => TextOps.sampleTemperature(tables(s, d).documents),
      """WITH c AS (SELECT source, count(*)::BIGINT AS n
          FROM documents GROUP BY source),
        z AS (SELECT
            list_reduce(list_prepend(0.0::DOUBLE,
              list(sqrt(n::DOUBLE) ORDER BY source)), (a, b) -> a + b) AS z,
            sum(n)::BIGINT AS total FROM c),
        r AS (SELECT source, n,
            least(1000000::BIGINT,
              floor(((floor(0.5 * total) * (sqrt(n::DOUBLE) / z)) / n::DOUBLE)
                * 1000000.0)::BIGINT) AS ppm
          FROM c CROSS JOIN z)
        SELECT d.source, d.doc_id, r.ppm
        FROM documents d JOIN r USING (source)
        WHERE ((abs(d.doc_id) % 1000000007) * 2654435761) % 1000000007 % 1000000 < r.ppm
        ORDER BY source, doc_id"""),
    Query("dedup_exact", (s, d) => Dedup.dedupExact(tables(s, d)),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        GROUP BY text ORDER BY keep_id"""),
    // D12: per-source doc/token savings under the D1 keeper election
    // oracle: keeper election replayed by RAW text (collision-proof, the
    // D1 rule), savings as floor-division permille
    Query("dedup_savings", (s, d) => Dedup.dedupSavingsOf(tables(s, d).documents),
      """WITH k AS (SELECT doc_id, source,
          cast(len(regexp_extract_all(text,'\S+')) as bigint) AS n_tok,
          CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY text)
               THEN 1 ELSE 0 END AS kept
        FROM documents)
        SELECT source, count(*) AS n_docs,
          cast(sum(kept) as bigint) AS n_kept,
          cast(sum(n_tok) as bigint) AS tokens_total,
          cast(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) as bigint) AS tokens_kept,
          CASE WHEN sum(n_tok) = 0 THEN 0
               ELSE ((cast(sum(n_tok) as bigint) -
                      cast(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) as bigint)) * 1000)
                    // cast(sum(n_tok) as bigint) END AS saved_permille
        FROM k GROUP BY source ORDER BY source"""),
    // D8 sub-document boilerplate removal (word-block paragraphs —
    // the corpus has no newlines; DedupSpec covers blank-line prose)
    // oracle: same 8-word blocks, same global-first election ((doc_id, idx)
    // order), same space-joined reassembly — the oracle elects by raw
    // paragraph text where Spark elects by the 128-bit hash, so any
    // hash collision at test SF fails this gate loudly (the D1 rule)
    Query("dedup_paragraph", (s, d) => Dedup.dedupParagraphs(tables(s, d).documents,
      Dedup.wordBlockParas(col("text"), 8), " "),
      """WITH w AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS word,
          generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents),
        p AS (SELECT doc_id, (i-1)//8 AS idx,
          string_agg(word, ' ' ORDER BY i) AS para
          FROM w GROUP BY doc_id, (i-1)//8),
        r AS (SELECT doc_id, idx, para,
          row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
          FROM p)
        SELECT doc_id,
          count(*) FILTER (WHERE rn = 1) AS n_kept,
          count(*) FILTER (WHERE rn > 1) AS n_dropped,
          coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')
            AS text
        FROM r GROUP BY doc_id ORDER BY doc_id"""),
    // D8b: same 8-word blocks; the oracle elects boilerplate by raw
    // paragraph text (count of DISTINCT docs >= 3) where Spark elects by
    // the 128-bit hash — a collision at test SF fails loudly (D1 rule)
    Query("boilerplate_removal", (s, d) => Dedup.removeBoilerplate(tables(s, d).documents,
      Dedup.wordBlockParas(col("text"), 8), " ", minDocs = 3),
      """WITH w AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS word,
          generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents),
        p AS (SELECT doc_id, (i-1)//8 AS idx,
          string_agg(word, ' ' ORDER BY i) AS para
          FROM w GROUP BY doc_id, (i-1)//8),
        boiler AS (SELECT para FROM p
          GROUP BY para HAVING count(DISTINCT doc_id) >= 3),
        r AS (SELECT p.doc_id, p.idx, p.para,
          (b.para IS NOT NULL) AS dropped
          FROM p LEFT JOIN boiler b USING (para))
        SELECT doc_id,
          count(*) FILTER (WHERE NOT dropped) AS n_kept,
          count(*) FILTER (WHERE dropped) AS n_dropped,
          coalesce(string_agg(para, ' ' ORDER BY idx)
            FILTER (WHERE NOT dropped), '') AS text
        FROM r GROUP BY doc_id ORDER BY doc_id"""),
    Query("dedup_jaccard_pairs", (s, d) =>
      Dedup.jaccardPairsOf(tables(s, d).documents, threshold = 0.95),
      JaccardPairsSql),
    // D13: precision/recall census of the LSH candidate stage vs the
    // exact-Jaccard truth — the banding-layout tuning number
    // oracle: both stages replayed as nested derived tables, full-outer
    // membership census, floor-divided permilles
    Query("dedup_eval", (s, d) => Dedup.dedupEval(tables(s, d)), dedupEvalSql("")),
    // D13b: the deploy form — the same census on a growth-stable hash
    // slice (exact truth is only computable on a slice at 100 TB)
    // oracle: the same census with `documents` CTE-shadowed by the F18
    // hash slice — exactly the Spark plan's growth-stable cohort
    Query("dedup_eval_sampled", (s, d) => Dedup.dedupEvalSampled(tables(s, d)),
      dedupEvalSql(
      s"""documents AS (SELECT * FROM main.documents
        WHERE ${OracleSql.mix64Bucket("doc_id")} < ${(1L << 20) / 4}),
      """)),
    Query("dedup_embed", (s, d) => Dedup.embeddingPairs(tables(s, d)),
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v, list_reduce(list_prepend(cast(0.0 as double),
          list_transform(v, x -> x*x)), (s,x) -> s+x) AS norm FROM e)
        SELECT id_a, id_b, round(cos,4) AS cos4 FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_reduce(list_prepend(cast(0.0 as double),
              list_transform(list_zip(a.v,b.v), p -> p[1]*p[2])), (s,x) -> s+x)
              / (sqrt(a.norm)*sqrt(b.norm)) AS cos
          FROM n a JOIN n b ON a.vec_id < b.vec_id)
        WHERE cos >= 0.4 ORDER BY id_a, id_b"""),
    Query("dedup_clusters", (s, d) => Dedup.dedupClusters(tables(s, d)), clustersClosureOracle),
    // F24: split keyed on the D6 near-dup cluster label — no
    // train/eval leakage across near-duplicates
    // oracle: since round 20 the benched query rides the D6b LSH cluster
    // tier (the deploy shape — the D10 precedent), so the oracle
    // replays the LSH closure fed through F18's exact bucket
    // arithmetic; the exact tier stays pinned by TextOpsSpec
    Query("split_by_cluster", (s, d) => TextOps.splitByCluster(tables(s, d)),
      OracleSql.splitByClusterLsh),
    // D10: the incremental path must land on the FULL recompute's
    // clusters exactly — since round 14 the deploy-shape harness probes
    // the D7 band index, so the full recompute it must equal is the LSH
    // closure (dedup_clusters_lsh's own oracle text, shared verbatim):
    // settled-only clustering + fresh-probe candidates partition the
    // full candidate set exactly, so equality is by construction
    Query("dedup_clusters_incremental", (s, d) => {
      val t = tables(s, d)
      val idxDir = TextIndex.materialize(t, d)
      val labDir = Dedup.materializeSettledLabels(t, d)
      Dedup.dedupClustersIncrementalIndexed(t.documents,
        pmod(col("doc_id"), lit(8L)) === 7L,
        s.read.parquet(labDir), idxDir)
    }, OracleSql.dedupClustersLsh),
    // D9 corpus version audit; D10 incremental components — the DEPLOY
    // shape since round 14: settled corpus present only as two persisted
    // artifacts (label table + D7 band index, both built once per
    // source generation), per-batch work = index probe + exact
    // verify + quotient merge. Oracle = the full LSH-recompute closure
    // (dedup_clusters_lsh's text) — hash equality IS the incremental
    // claim, and it is exact by construction (candidate generation is a
    // pure pair function), not by band recall
    // the oracle diffs RAW text where Spark diffs 128-bit content
    // hashes (the D1 rule: a collision fails loudly)
    Query("snapshot_diff", (s, d) => Dedup.snapshotDiff(tables(s, d)),
      """WITH v1 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 5 THEN text || ' draft' ELSE text END AS text
          FROM documents WHERE doc_id % 7 <> 3),
        v2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 4)
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
          CASE WHEN v1.doc_id IS NULL THEN 'added'
               WHEN v2.doc_id IS NULL THEN 'removed'
               WHEN v1.text = v2.text THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
        ORDER BY doc_id"""),
    // F19/F20 tokenizer-adjacent corpus statistics
    // oracle: ln is taken once per DISTINCT word and quantized to integer
    // micro-nats immediately; per-doc arithmetic is exact int64 + the
    // same two-division 4dp-rounded average as the Spark side
    Query("lm_quality", (s, d) => TextOps.lmQualityOf(tables(s, d).documents),
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
        v AS (SELECT word, count(*) AS n_w FROM tok GROUP BY word),
        tot AS (SELECT cast(sum(n_w) as bigint) AS n_total FROM v),
        c AS (SELECT word, cast(round(-ln(cast(n_w as double) / cast(n_total as double)) * 1000000.0) as bigint) AS cost_u
          FROM v CROSS JOIN tot)
        SELECT t.doc_id, count(*) AS n_tokens, cast(sum(c.cost_u) as bigint) AS nll_micro,
          round(cast(sum(c.cost_u) as double) / cast(count(*) as double) / 1000000.0, 4) AS avg_nll4
        FROM tok t JOIN c USING (word) GROUP BY t.doc_id ORDER BY t.doc_id"""),
    // F19b: bigram model, self-scored — every scoring bigram and first
    // token is in the training tables, so the backoff branches are
    // legitimately absent here (the spec exercises them on an external
    // score set); ln once per distinct (bi)gram, micro-nat quantized
    Query("lm_quality2", (s, d) => {
      val t = tables(s, d)
      TextOps.lmQuality2Of(t.documents, t.documents)
    }, Lm2Sql),
    // F19b deploy split: train on the F18 train cohort, score the
    // held-out docs — the backoff tiers (unseen bigram → α·unigram,
    // OOV → α/N) are EXERCISED by the hash gate, not just the spec
    Query("lm_quality2_holdout", (s, d) => {
      val docs = tables(s, d).documents
      TextOps.lmQuality2Of(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    }, Lm2HoldoutSql),
    // F19d trigram stupid-backoff LM (one order past F19b)
    Query("lm_quality3", (s, d) => {
      val t = tables(s, d)
      TextOps.lmQuality3Of(t.documents, t.documents)
    }, Lm3Sql),
    // F29 deterministic hashed TF-IDF text->vector featurizer
    Query("embed_docs", (s, d) =>
      TextOps.embedDocsLong(tables(s, d).documents, dim = 64),
      OracleSql.embedDocs(64)),
    // F29 ∘ E1: semantic search over raw text end to end
    Query("embed_search_topk", (s, d) => TextOps.embedSearchTopK(tables(s, d)),
      OracleSql.embedSearch(64, 5, 50)),
    // E11: per-label embedding-space cohesion monitor
    Query("embed_label_stats", (s, d) => Similarity.embedStatsOf(tables(s, d).embeddings),
      OracleSql.embedStats(64)),
    // F19c: CCNet terciles over the F19b score — ntile(3) on the total
    // (avg_nll4, doc_id) order per source; standard-SQL ntile sizing is
    // identical cross-engine
    Query("ccnet_buckets", (s, d) => TextOps.ccnetBuckets(tables(s, d)),
      s"""WITH lm AS ($Lm2Sql),
        j AS (SELECT lm.doc_id, d.source, lm.avg_nll4,
            ntile(3) OVER (PARTITION BY d.source ORDER BY lm.avg_nll4, lm.doc_id) AS t
          FROM lm JOIN documents d ON lm.doc_id = d.doc_id)
        SELECT doc_id, source, avg_nll4,
          CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle' ELSE 'tail' END AS bucket
        FROM j ORDER BY doc_id"""),
    Query("bpe_pair_counts", (s, d) => TextOps.bpePairCountsOf(tables(s, d).documents, k = 20),
      """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
        wf AS (SELECT word, count(*) AS n FROM tok GROUP BY word),
        p AS (SELECT substr(word, cast(i as integer), 2) AS pair, n FROM
          (SELECT word, n, unnest(range(1, length(word))) AS i FROM wf WHERE length(word) >= 2))
        SELECT pair, cast(sum(n) as bigint) AS n_occ FROM p GROUP BY pair
        ORDER BY n_occ DESC, pair LIMIT 20"""),
    // F20d: the unigram-LM (SentencePiece-style) tokenizer — Viterbi-EM
    // over a substring candidate vocabulary, then per-doc encode
    // oracle: the unigram-LM Viterbi-EM replay (generated per-round DP
    // unroll + backtrack + re-election CTEs — OracleSql.unigramTokenizer)
    Query("unigram_tokenizer", (s, d) => TextOps.unigramTokenizerOf(tables(s, d).documents,
      vocabMulti = 24, rounds = 2),
      OracleSql.unigramTokenizer(24, 2)),
    // F20b: generated k-round merge-loop replay (elect / re-segment /
    // recount over the vocab CTEs — OracleSql.bpeMerges)
    Query("bpe_merges", (s, d) =>
      TextOps.bpeMergesOf(tables(s, d).documents, k = 8), OracleSql.bpeMerges(8)),
    // F20c: the same generated training chain, applied as the encoder
    Query("bpe_tokenize", (s, d) => {
      val t = tables(s, d)
      TextOps.bpeTokenizeOf(t.documents, t.documents, k = 8)
    }, OracleSql.bpeTokenize(8)),
    // F27: per-source OOV rate + token inflation under the split-trained
    // vocabulary (OOV prices at the base-alphabet character fallback)
    Query("vocab_coverage", (s, d) => {
      val t = tables(s, d)
      TextOps.vocabCoverageOf(t.documents.filter(col("doc_id") % 10 =!= 0),
        t.documents, k = 8)
    },
      OracleSql.vocabCoverage(8)),
    // F28: per-source Jensen-Shannon drift vs the rest of the corpus
    // oracle: mixture ratios are exact integer rationals in HUGEINT; ln
    // once per present (word, source) pair, quantized to micro-nats;
    // absent words enter via the closed-form ln2 remainder
    Query("source_drift", (s, d) => TextOps.sourceDriftOf(tables(s, d).documents),
      """WITH toks AS (SELECT source, unnest(regexp_extract_all(lower(text),'[a-z]+')) AS word FROM documents),
        cs AS (SELECT word, source, cast(count(*) as bigint) AS c FROM toks GROUP BY 1, 2),
        wt AS (SELECT word, cast(sum(c) as bigint) AS cw FROM cs GROUP BY 1),
        st AS (SELECT source, cast(sum(c) as bigint) AS ns FROM cs GROUP BY 1),
        tot AS (SELECT cast(sum(ns) as bigint) AS n FROM st),
        r AS (SELECT cs.source, cs.c, wt.cw - cs.c AS d, st.ns, tot.n - st.ns AS nc
          FROM cs JOIN wt USING (word) JOIN st USING (source) CROSS JOIN tot),
        term AS (SELECT source, c, d, ns, nc,
            cast(round(ln(cast(2::HUGEINT * c * nc as double)
              / cast(c::HUGEINT * nc + d::HUGEINT * ns as double)) * 1000000.0) as bigint) AS l1,
            CASE WHEN d > 0 THEN cast(round(ln(cast(2::HUGEINT * d * ns as double)
              / cast(c::HUGEINT * nc + d::HUGEINT * ns as double)) * 1000000.0) as bigint)
              ELSE 0 END AS l2
          FROM r),
        agg AS (SELECT source, max(ns) AS n_tokens, max(nc) AS nc,
            count(*) AS n_distinct,
            sum(c::HUGEINT * l1) AS s1,
            sum(CASE WHEN d > 0 THEN d::HUGEINT * l2 ELSE 0::HUGEINT END) AS s2,
            cast(sum(d) as bigint) AS dd
          FROM term GROUP BY source)
        SELECT source, n_tokens, n_distinct,
          cast(round(cast(s1 as double) / (2.0 * cast(n_tokens as double))
            + cast(s2 as double) / (2.0 * cast(nc as double))
            + cast(693147::HUGEINT * (nc - dd) as double) / (2.0 * cast(nc as double))) as bigint) AS jsd_micro
        FROM agg ORDER BY source"""),
    // F21 NB curated-vs-crawl discriminator (GPT-3/DSIR quality filter)
    // oracle: same ln-once-per-distinct-word micro-nat discipline as
    // lm_quality; self-trained (pos = src0-2), so no OOV branch fires
    // here (the spec exercises it on a held-out score set)
    Query("quality_classifier", (s, d) => TextOps.nbQualityClassifier(tables(s, d)),
      s"""WITH $nbScoreCtes
        SELECT doc_id, n_tokens, logodds_micro,
          round(cast(logodds_micro as double) / cast(n_tokens as double) / 1000000.0, 4) AS avg_lo4,
          logodds_micro > 0 AS keep
        FROM nbs ORDER BY doc_id"""),
    // F25 DSIR weighted sampling-without-replacement (Gumbel top-k)
    // oracle: the F21 weights + a derandomized Gumbel keyed on doc_id —
    // exact int64 key sums, rank with doc_id tie-break
    Query("dsir_sample", (s, d) => TextOps.dsirResample(tables(s, d)),
      s"""WITH $nbScoreCtes,
        k AS (SELECT doc_id, logodds_micro,
          ${OracleSql.gumbelMicro("doc_id")} AS noise_u FROM nbs),
        r AS (SELECT doc_id, logodds_micro, noise_u,
          logodds_micro + noise_u AS key_u FROM k),
        rk AS (SELECT *, cast(row_number() OVER (ORDER BY key_u DESC, doc_id) as bigint) AS rnk FROM r)
        SELECT rnk, doc_id, logodds_micro, noise_u, key_u
        FROM rk WHERE rnk <= 100 ORDER BY rnk"""),
    // F26 overlapping token-window chunking (embedding/RAG prep)
    // oracle: chunk starts are 0, stride, 2·stride, … < n_tokens; slice is
    // clamped at the document tail on both engines — all exact integer
    // arithmetic over the shared [a-z]+ tokenizer
    Query("chunk_docs", (s, d) =>
      TextOps.chunkDocsOf(tables(s, d).documents, size = 64, stride = 48),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        s AS (SELECT doc_id, w, unnest(range(0, len(w), 48)) AS start_tok
          FROM toks WHERE len(w) > 0)
        SELECT doc_id,
          cast(start_tok // 48 as bigint) AS chunk_id,
          cast(start_tok as bigint) AS start_tok,
          cast(least(len(w) - start_tok, 64) as bigint) AS n_tok,
          array_to_string(w[start_tok+1 : start_tok+64], ' ') AS chunk_text
        FROM s ORDER BY doc_id, chunk_id"""),
    // F22 BM25 keyword retrieval top-k
    // oracle: BM25 with k1=6/5, b=3/4 — the tf normalization is the exact
    // rational 22·tf·L/(10·tf·L+3·L+9·len·N) carried in HUGEINT
    // (decimal(38,0) on the Spark side); ln once per query term,
    // quantized to micro-nats; per-doc score = exact int sum
    Query("bm25_topk", (s, d) => TextOps.bm25TopKOf(tables(s, d).documents,
      Seq("stream", "vector", "customer"), k = 10), bm25Sql),
    // F32: hybrid retrieval — BM25 ⊕ featurized-embedding ranks fused
    // by exact integer reciprocal rank (RRF); no float in the output
    // oracle: both arms replayed (renamed-CTE BM25 chain + featurizer
    // query-vector chain) and fused by floor-divided integer RRF
    Query("hybrid_search_topk", (s, d) => TextOps.hybridSearchTopKOf(tables(s, d).documents,
      Seq("stream", "vector", "customer"), dim = 64, n = 20, k = 10, kRrf = 60L),
      OracleSql.hybridSearch(
      Seq("stream", "vector", "customer"), 64, 20, 10, 60L)),
    // F22b: the same retrieval served from the persisted inverted index
    // — build once, search with zero corpus rescans
    // oracle: the prefit index search must equal the inline full-corpus
    // query bit-for-bit — same oracle
    Query("bm25_search_prefit", (s, d) => {
      val t = tables(s, d)
      val dir = SearchIndex.materialize(t, d)
      SearchIndex.search(s, dir, Seq("stream", "vector", "customer"))
    }, bm25Sql),
    // F32b: hybrid retrieval's DEPLOY shape — lexical arm from the F22b
    // inverted index, semantic arm from the persisted featurizer/E5
    // artifact, shared RRF fusion; zero corpus scans, zero fit jobs
    // oracle: the index-served hybrid must equal the inline full-corpus
    // hybrid bit-for-bit — same oracle as hybrid_search_topk
    Query("hybrid_search_prefit", (s, d) => {
      val t = tables(s, d)
      val lexDir = SearchIndex.materialize(t, d)
      val semDir = TextOps.materializeHybridSemantic(t, d)
      TextOps.hybridSearchIndexed(s, lexDir, semDir,
        Seq("stream", "vector", "customer"))
    }, OracleSql.hybridSearch(
      Seq("stream", "vector", "customer"), 64, 20, 10, 60L)),
    // D11 exact-substring (duplicated k-token span) coverage
    // the oracle censuses spans by RAW text where Spark groups by
    // the 128-bit hash (the D1 collision-detection rule); same 0-based
    // offsets, same running-max interval union
    Query("dedup_spans", (s, d) => Dedup.spanCoverageOf(tables(s, d).documents, k = 5),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        g AS (SELECT doc_id, s, array_to_string(w[s+1 : s+5], ' ') AS gram
          FROM (SELECT doc_id, w, unnest(range(0, len(w) - 5 + 1)) AS s FROM toks WHERE len(w) >= 5)),
        dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        hits AS (SELECT doc_id, s, s + 4 AS e FROM g JOIN dup USING (gram)),
        cov AS (SELECT doc_id, greatest(0, e - greatest(coalesce(max(e) OVER
            (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1), s - 1)) AS c
          FROM hits),
        d AS (SELECT doc_id, cast(sum(c) as bigint) AS dup_tokens FROM cov GROUP BY doc_id)
        SELECT t.doc_id, cast(len(t.w) as bigint) AS n_tokens,
          coalesce(d.dup_tokens, 0) AS dup_tokens,
          CASE WHEN len(t.w) = 0 THEN cast(0.0 as double)
            ELSE round(cast(coalesce(d.dup_tokens, 0) as double) / cast(len(t.w) as double), 4) END AS dup_ratio4
        FROM toks t LEFT JOIN d USING (doc_id) ORDER BY t.doc_id"""),
    // D11c the cut itself: non-first duplicated spans removed, survivors
    // reassembled in order (the ExactSubstr corpus edit)
    // the oracle re-censuses by RAW span text (the D1 collision
    // rule), elects the global first occurrence by (doc_id, s), marks
    // tokens under any non-first hit interval, and reassembles the
    // survivors per position — cut semantics replayed end to end
    Query("dedup_spans_removal", (s, d) => Dedup.spanRemovalOf(tables(s, d).documents, k = 5),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        g AS (SELECT doc_id, s, array_to_string(w[s+1 : s+5], ' ') AS gram
          FROM (SELECT doc_id, w, unnest(range(0, len(w) - 5 + 1)) AS s FROM toks WHERE len(w) >= 5)),
        r AS (SELECT doc_id, s,
            row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn FROM g),
        hits AS (SELECT doc_id, s, s + 4 AS e FROM r WHERE rn >= 2),
        tok AS (SELECT doc_id, unnest(w) AS tk, unnest(range(0, len(w))) AS p FROM toks),
        rem AS (SELECT DISTINCT t.doc_id, t.p FROM tok t
          JOIN hits h ON t.doc_id = h.doc_id AND t.p BETWEEN h.s AND h.e),
        kept AS (SELECT t.doc_id, string_agg(t.tk, ' ' ORDER BY t.p) AS text2,
            count(*) AS n_kept
          FROM tok t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.p = r.p
          WHERE r.p IS NULL GROUP BY t.doc_id)
        SELECT t.doc_id, cast(len(t.w) as bigint) AS n_tokens,
          cast(len(t.w) - coalesce(k.n_kept, 0) as bigint) AS n_removed,
          coalesce(k.text2, '') AS text
        FROM toks t LEFT JOIN kept k USING (doc_id) ORDER BY t.doc_id"""),
    // D11b the same coverage for an ingest batch probing the persisted
    // span-hash index (settled text is never re-extracted)
    // oracle: a batch span is duplicated iff its occurrences across
    // (settled ∪ batch) = the full corpus total ≥ 2, so the oracle is
    // the full-corpus D11 census restricted to the fresh slice
    Query("dedup_spans_incremental", (s, d) => {
      val t = tables(s, d)
      val dir = SpanIndex.materialize(t, d)
      SpanIndex.coverageBatch(
        t.documents.filter(pmod(col("doc_id"), lit(8L)) === 7L), dir)
    }, """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        g AS (SELECT doc_id, s, array_to_string(w[s+1 : s+5], ' ') AS gram
          FROM (SELECT doc_id, w, unnest(range(0, len(w) - 5 + 1)) AS s FROM toks WHERE len(w) >= 5)),
        dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        hits AS (SELECT doc_id, s, s + 4 AS e FROM g JOIN dup USING (gram)),
        cov AS (SELECT doc_id, greatest(0, e - greatest(coalesce(max(e) OVER
            (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1), s - 1)) AS c
          FROM hits),
        d AS (SELECT doc_id, cast(sum(c) as bigint) AS dup_tokens FROM cov GROUP BY doc_id)
        SELECT t.doc_id, cast(len(t.w) as bigint) AS n_tokens,
          coalesce(d.dup_tokens, 0) AS dup_tokens,
          CASE WHEN len(t.w) = 0 THEN cast(0.0 as double)
            ELSE round(cast(coalesce(d.dup_tokens, 0) as double) / cast(len(t.w) as double), 4) END AS dup_ratio4
        FROM toks t LEFT JOIN d USING (doc_id)
        WHERE t.doc_id % 8 = 7 ORDER BY t.doc_id"""),
    // D6c: since round 20 the benched query elects over the D6b LSH
    // cluster tier (the deploy shape), so the oracle replays the LSH
    // closure with the (stop_ratio DESC, doc_id) election; the exact
    // tier's election is replayed driver-side in DedupSpec
    Query("dedup_keep_best", (s, d) => Dedup.dedupKeepBest(tables(s, d)),
      OracleSql.dedupKeepBestLsh),
    Query("ann_brute_topk", (s, d) => Similarity.annBruteTopK(tables(s, d)), AnnBruteSql),
    // E16: contrastive pair mining — nearest same-label positive +
    // k hardest different-label negatives per anchor
    Query("contrastive_pairs", (s, d) => Similarity.contrastivePairsOf(tables(s, d).embeddings,
      col("vec_id") < 10, k = 5),
      ContrastivePairsSql),
    // E12: MMR diverse re-ranking over the E1 candidate tier
    Query("ann_mmr_topk", (s, d) => Similarity.mmrTopKOf(tables(s, d).embeddings, m = 20, n = 5,
      lam = 0.7, lamBar = 0.3), OracleSql.mmrTopK(20, 5)),
    // E10: kNN majority-vote label propagation (held-out = vec_id%10==0)
    // oracle: the E1 exact-cosine CTE over the held-out/labeled split, then
    // a per-(query,label) vote with (votes desc, best rank, label) ties
    Query("knn_classify", (s, d) => Similarity.knnClassify(tables(s, d)),
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, label, v, list_reduce(list_prepend(cast(0.0 as double),
          list_transform(v, x -> x*x)), (s,x) -> s+x) AS norm FROM e),
        q AS (SELECT vec_id AS q_id, label AS true_label, v, norm FROM n WHERE vec_id % 10 = 0),
        c AS (SELECT vec_id AS n_id, label, v, norm FROM n WHERE vec_id % 10 <> 0),
        s AS (SELECT q.q_id, q.true_label, c.n_id, c.label,
          list_reduce(list_prepend(cast(0.0 as double),
            list_transform(list_zip(q.v,c.v), p -> p[1]*p[2])), (s,x) -> s+x)
            / (sqrt(q.norm)*sqrt(c.norm)) AS cos
          FROM q JOIN c ON q.q_id <> c.n_id),
        tk AS (SELECT * FROM (SELECT q_id, true_label, n_id, label,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM s) WHERE rnk <= 5),
        v AS (SELECT q_id, true_label, label, count(*) AS votes, min(rnk) AS best_rnk
          FROM tk GROUP BY 1, 2, 3)
        SELECT q_id, true_label, label AS pred_label, votes FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY votes DESC, best_rnk, label) AS pick FROM v)
        WHERE pick = 1 ORDER BY q_id"""),
    Query("text_quality", (s, d) => TextOps.textQuality(tables(s, d)),
      s"$qualityBody ORDER BY doc_id"),
    // C10d: the oracle runs the EXACT count (capacity 1024 >= the
    // corpus's 31 distinct terms puts Misra-Gries in its exact regime);
    // ties (count desc, term asc) on both sides
    Query("approx_counts_cms", (s, d) => TextOps.approxCountsCmsOf(
      tables(s, d).documents, d = 4, w = 64, probes = TextOps.StopWords),
      OracleSql.approxCountsCms),
    Query("approx_top_terms", (s, d) => TextOps.approxTopTerms(tables(s, d)),
      """SELECT rank, term, cnt FROM (
          SELECT term, cast(count(*) AS bigint) AS cnt,
            cast(row_number() OVER (ORDER BY count(*) DESC, term ASC)
              AS bigint) AS rank
          FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
            AS term FROM documents) w
          GROUP BY term)
        WHERE rank <= 20 ORDER BY rank"""),
    // F13: same greedy concat-order rule — bin = integer-div of the
    // running token total BEFORE the doc, per source, doc_id order
    Query("pack_sequences", (s, d) =>
      TextOps.packSequencesOf(tables(s, d).documents, budget = 512L),
      """WITH d AS (SELECT source, doc_id,
          cast(len(regexp_extract_all(text, '\S+')) AS bigint) AS n_tokens
        FROM documents),
        c AS (SELECT source, doc_id, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS cum_after FROM d),
        b AS (SELECT source, doc_id, n_tokens,
          cast((cum_after - n_tokens) // 512 AS bigint) AS bin FROM c)
        SELECT source, bin,
          count(*) AS n_docs,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc,
          cast(sum(n_tokens) AS bigint) AS n_tokens
        FROM b GROUP BY source, bin
        ORDER BY source, bin"""),
    // F12: nfc_normalize is utf8proc's UAX #15 composition — byte-
    // identical to Java's Normalizer on the same input; control/zero-
    // width ranges and whitespace collapse spelled in the common
    // Java-regex/RE2 syntax ('g' = replace-all)
    Query("normalize_text", (s, d) => TextOps.normalizeText(tables(s, d)),
      """SELECT doc_id,
          cast(length(text) AS bigint) AS n_chars_raw,
          cast(length(cleaned) AS bigint) AS n_chars_clean,
          cleaned AS text
        FROM (SELECT doc_id, text,
          trim(regexp_replace(regexp_replace(nfc_normalize(text),
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
            '[\s]+', ' ', 'g')) AS cleaned
          FROM documents)
        ORDER BY doc_id"""),
    // F11: regenerate the planted contact line from doc_id, then the
    // same three RE2/Java-common regexes; counts from the pre-mask
    // text, masking applied email -> phone -> ipv4 ('g' = replace all,
    // Spark's regexp_replace default)
    Query("pii_redact", (s, d) => TextOps.piiRedact(tables(s, d)),
      """WITH p AS (SELECT doc_id,
          text || ' contact user' || cast(doc_id AS varchar)
            || '@example.com or +1-555-'
            || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
            || ' from 10.' || cast(doc_id % 250 AS varchar) || '.0.1'
            AS t FROM documents)
        SELECT doc_id,
          cast(len(regexp_extract_all(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint)
            AS n_emails,
          cast(len(regexp_extract_all(t,
            '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS bigint) AS n_phones,
          cast(len(regexp_extract_all(t,
            '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS bigint) AS n_ips,
          regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
            '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
        FROM p ORDER BY doc_id"""),
    // F10: same 8-word blocks as D8, same raw-space word split; counts
    // regenerated from gram TEXT on both sides (no hashes anywhere), the
    // top-2-gram tie resolved by (count desc, gram asc) on both sides
    Query("repetition_signals", (s, d) => TextOps.repetitionSignals(tables(s, d)),
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws,
          cast(length(text) AS bigint) AS n_chars FROM documents),
        b AS (SELECT doc_id, unnest(list_transform(
            range(1, cast(ceil(len(ws)/8.0) AS bigint) + 1),
            i -> array_to_string(list_slice(ws, (i-1)*8+1, (i-1)*8+8), ' ')))
            AS blk FROM l),
        bc AS (SELECT doc_id, blk, count(*) AS cnt,
            cast(length(blk) AS bigint) AS blen
          FROM b GROUP BY doc_id, blk),
        bstat AS (SELECT doc_id,
            cast(sum(cnt) AS bigint) AS n_blocks,
            cast(sum(cnt - 1) AS bigint) AS n_dup_blocks,
            cast(sum((cnt - 1) * blen) AS bigint) AS dup_chars,
            cast(sum(cnt * blen) AS bigint) AS tot_chars
          FROM bc GROUP BY doc_id),
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
            i -> array_to_string(list_slice(ws, i, i+1), ' '))) AS g
          FROM l WHERE len(ws) >= 2),
        g2c AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
        top2 AS (SELECT doc_id, cast(cnt AS bigint) AS top2_cnt,
            cast(length(g) AS bigint) AS top2_len
          FROM (SELECT doc_id, g, cnt, row_number() OVER
              (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn FROM g2c)
          WHERE rn = 1),
        g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
            i -> array_to_string(list_slice(ws, i, i+4), ' '))) AS g
          FROM l WHERE len(ws) >= 5),
        g5d AS (SELECT doc_id, cast(sum(cnt * glen) AS bigint) AS dup5_chars
          FROM (SELECT doc_id, g, count(*) AS cnt,
              cast(length(g) AS bigint) AS glen
            FROM g5 GROUP BY doc_id, g) s
          WHERE cnt > 1 GROUP BY doc_id)
        SELECT l.doc_id,
          cast(len(ws) AS bigint) AS n_words,
          bstat.n_blocks,
          bstat.n_dup_blocks,
          round(CASE WHEN bstat.n_blocks = 0 THEN 0.0
            ELSE bstat.n_dup_blocks / cast(bstat.n_blocks AS double) END, 4)
            AS dup_block_frac,
          round(CASE WHEN bstat.tot_chars = 0 THEN 0.0
            ELSE bstat.dup_chars / cast(bstat.tot_chars AS double) END, 4)
            AS dup_block_char_frac,
          round(CASE WHEN l.n_chars = 0 THEN 0.0
            ELSE coalesce(top2.top2_cnt * top2.top2_len, 0)
              / cast(l.n_chars AS double) END, 4) AS top2_frac,
          round(CASE WHEN l.n_chars = 0 THEN 0.0
            ELSE coalesce(g5d.dup5_chars, 0) / cast(l.n_chars AS double) END, 4)
            AS dup5_frac
        FROM l JOIN bstat USING (doc_id)
          LEFT JOIN top2 USING (doc_id)
          LEFT JOIN g5d USING (doc_id)
        ORDER BY l.doc_id"""),
    Query("quality_melt", (s, d) => TextOps.qualityMelt(tables(s, d)),
      s"""WITH q AS ($qualityBody)
        SELECT doc_id, metric, value FROM (
          SELECT doc_id, 'n_chars' AS metric, cast(n_chars as double) AS value FROM q
          UNION ALL SELECT doc_id, 'n_words', cast(n_words as double) FROM q
          UNION ALL SELECT doc_id, 'n_stop', cast(n_stop as double) FROM q
          UNION ALL SELECT doc_id, 'n_alpha', cast(n_alpha as double) FROM q
          UNION ALL SELECT doc_id, 'n_space', cast(n_space as double) FROM q
          UNION ALL SELECT doc_id, 'stop_ratio', stop_ratio FROM q
          UNION ALL SELECT doc_id, 'alpha_ratio', alpha_ratio FROM q)
        ORDER BY doc_id, metric"""),
    Query("token_counts", (s, d) => TextOps.tokenCounts(tables(s, d)),
      s"""SELECT doc_id,
          cast(len(regexp_extract_all(text,'\\S+')) as bigint) AS n_ws_tokens,
          cast(len(regexp_extract_all(text,'$bpePat')) as bigint) AS n_bpe_tokens,
          CASE WHEN len(regexp_extract_all(text,'$bpePat'))=0 THEN cast(0.0 as double)
               ELSE cast(length(text) as bigint)/cast(len(regexp_extract_all(text,'$bpePat')) as bigint)
          END AS chars_per_token
        FROM documents ORDER BY doc_id"""),
    Query("fingerprint", (s, d) => TextOps.fingerprint(tables(s, d)),
      """SELECT doc_id, list_reduce(list_prepend(cast(0 as bigint),
          list_transform(regexp_extract_all(text,'.'), c -> cast(ord(c) as bigint))),
          (h,c) -> (h*31+c) % 1000000007) AS fp
        FROM documents ORDER BY doc_id"""),
    Query("curation_pipeline", (s, d) => TextOps.curationPipeline(tables(s, d)),
      """WITH d AS (SELECT doc_id, text, regexp_extract_all(lower(text),'[a-z]+') AS toks FROM documents),
        m AS (SELECT doc_id, text,
          cast(len(toks) as bigint) AS n_words,
          cast(len(list_filter(toks, tk -> tk IN ('the','a','an','of','in','on','and','to','is','it'))) as bigint) AS n_stop,
          cast(length(text) as bigint) AS n_chars,
          cast(length(regexp_replace(text,'[^a-zA-Z]','','g')) as bigint) AS n_alpha
        FROM d),
        f AS (SELECT * FROM m WHERE n_words >= 40 AND n_alpha*5 >= n_chars*4),
        g AS (SELECT min(doc_id) AS doc_id, min(n_words) AS n_words, min(n_stop) AS n_stop
          FROM f GROUP BY text)
        SELECT doc_id, n_words, n_stop/n_words AS stop_ratio FROM g ORDER BY doc_id"""),
    // benchmark decontamination: every 100th doc plays the eval set;
    // broadcast gram-membership probe, corpus never shuffles
    // oracle joins on gram STRINGS; the Spark side joins on 64-bit gram
    // hashes — a collision at test SF would break this hash gate loudly
    Query("decontaminate", (s, d) => {
      val t = tables(s, d)
      TextOps.decontaminateAgainst(corpusDocs(t), benchDocs(t), n = 3)
    },
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text),'[a-z]+') AS ws FROM documents),
        grams AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g
          FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
        hits AS (SELECT DISTINCT gr.doc_id, gr.g
          FROM grams gr JOIN bench b ON gr.g = b.g WHERE gr.doc_id % 100 <> 0)
        SELECT doc_id, cast(count(*) as bigint) AS n_hits
        FROM hits GROUP BY doc_id ORDER BY doc_id"""),
    // H11: same verdicts via a Bloom prefilter + shuffle exact join —
    // the registry-too-big-to-broadcast regime
    // oracle: the Bloom prefilter is semantics-invisible (no false
    // negatives; the exact join kills false positives), so the oracle
    // is the plain exact-join decontamination — equality with it IS
    // the contract
    Query("decontaminate_bloom", (s, d) => {
      val t = tables(s, d)
      TextOps.decontaminateBloomAgainst(corpusDocs(t), benchDocs(t), n = 3)
    },
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text),'[a-z]+') AS ws FROM documents),
        grams AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g
          FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
        hits AS (SELECT DISTINCT gr.doc_id, gr.g
          FROM grams gr JOIN bench b ON gr.g = b.g WHERE gr.doc_id % 100 <> 0)
        SELECT doc_id, cast(count(*) as bigint) AS n_hits
        FROM hits GROUP BY doc_id ORDER BY doc_id"""),
    // F6c: per-doc DISTINCT gram totals and hit counts; ratio is ONE
    // double division of exact ints (tfidf rule) and the verdict an
    // exact integer cross-multiplication — no double threshold anywhere
    Query("decontaminate_ratio", (s, d) => {
      val t = tables(s, d)
      TextOps.decontaminateRatioAgainst(corpusDocs(t), benchDocs(t), n = 3,
        pct = 50)
    },
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text),'[a-z]+') AS ws FROM documents),
        grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
          FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
        agg AS (SELECT c.doc_id,
            cast(count(*) as bigint) AS n_grams,
            cast(count(b.g) as bigint) AS n_hits
          FROM (SELECT doc_id, g FROM grams WHERE doc_id % 100 <> 0) c
          LEFT JOIN bench b ON c.g = b.g
          GROUP BY c.doc_id)
        SELECT doc_id, n_grams, n_hits,
          n_hits / n_grams AS ratio,
          n_hits * 100 >= n_grams * 50 AS contaminated
        FROM agg ORDER BY doc_id"""),
    // tf, df, N exact integers; score = one UNROUNDED double division
    // of exact ints — correctly-rounded IEEE division is bit-identical
    // across engines, while round(x, 4) is not (Spark rounds the
    // shortest-decimal string, DuckDB the scaled binary double)
    Query("tfidf_top_terms", (s, d) => TextOps.tfIdfTopTerms(tables(s, d)),
      """WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z]+')) AS term FROM documents),
        tf AS (SELECT doc_id, term, cast(count(*) as bigint) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, cast(count(*) as bigint) AS df FROM tf GROUP BY 1),
        n AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
            cast(tf.tf * n.n_docs as double) / df.df AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n),
        ranked AS (
          SELECT *, cast(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) as bigint) AS rnk
          FROM scored)
        SELECT doc_id, rnk, term, tf, df, tfidf
        FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
    Query("mm_roundtrip", (s, d) => Multimodal.mmRoundtrip(tables(s, d)),
      """SELECT event_id, epoch_ms(ts) AS producer_ms,
          cast(round(value*100) as bigint) AS value_c, user_id,
          'tok-'||cast(event_id as varchar) AS token
        FROM events ORDER BY event_id"""),
    Query("mm_elements", (s, d) => Multimodal.mmElements(tables(s, d)),
      """SELECT event_id, cast(31 as bigint) AS n_elements,
          541 + 2*length(cast(event_id as varchar)) + 2*length(cast(epoch_ms(ts) as varchar))
            + length(cast(user_id as varchar))
            + length(cast(cast(round(value*100) as bigint) as varchar))
            + length(props) AS blob_len,
          true AS crc_ok
        FROM events ORDER BY event_id"""),
    // spark.read.format("ebml") over a materialized capture archive
    // (idempotent, built on first run) — hash-exact against the SAME
    // oracle as mm_elements, proving the source's split+walk agrees
    // with the in-query parse path
    Query("mm_source", (s, d) => {
      val dir = graft.sources.FragmentArchive.materialize(tables(s, d), d)
      s.read.format("ebml").load(dir)
        .select(col("fragment_number").as("event_id"),
          col("n_elements"), col("frag_len").as("blob_len"), col("crc_ok"))
        .orderBy("event_id")
    }, """SELECT event_id, cast(31 as bigint) AS n_elements,
          541 + 2*length(cast(event_id as varchar)) + 2*length(cast(epoch_ms(ts) as varchar))
            + length(cast(user_id as varchar))
            + length(cast(cast(round(value*100) as bigint) as varchar))
            + length(props) AS blob_len,
          true AS crc_ok
        FROM events ORDER BY event_id"""),
    Query("mm_split_stream", (s, d) => Multimodal.mmSplitStream(tables(s, d)),
      """WITH b AS (SELECT event_id, event_id // 5 AS grp,
          541 + 2*length(cast(event_id as varchar)) + 2*length(cast(epoch_ms(ts) as varchar))
            + length(cast(user_id as varchar))
            + length(cast(cast(round(value*100) as bigint) as varchar))
            + length(props) AS blob_len
          FROM events)
        SELECT event_id, grp,
          coalesce(cast(sum(blob_len) OVER (PARTITION BY grp ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint), 0) AS position,
          cast(blob_len as bigint) AS frag_len,
          true AS crc_ok
        FROM b ORDER BY event_id"""),
    Query("mm_frame_sample", (s, d) => Multimodal.mmFrameSample(tables(s, d)),
      """WITH b AS (SELECT event_id, event_id // 5 AS grp FROM events),
        r AS (SELECT event_id, grp,
          cast(row_number() OVER (PARTITION BY grp ORDER BY event_id) as bigint) AS rn
          FROM b)
        SELECT event_id, grp, rn FROM r WHERE (rn - 1) % 3 = 0 ORDER BY event_id"""),
    Query("mm_frame_sample_time", (s, d) => Multimodal.mmFrameSampleByTime(tables(s, d)),
      """WITH b AS (SELECT event_id, event_id // 5 AS grp,
          epoch_ms(ts) // 600000 AS bucket FROM events),
        r AS (SELECT event_id, grp, bucket,
          row_number() OVER (PARTITION BY grp, bucket ORDER BY event_id) AS rn
          FROM b)
        SELECT event_id, grp, bucket FROM r WHERE rn = 1 ORDER BY event_id"""),
    // A9/G12: the fMP4 container (GetClip/HLS serve MP4 where GetMedia
    // serves MKV) — typed round-trip + positional box walk
    // oracle: fMP4 typed fields straight from the source rows — any
    // writer/walker defect breaks the hash (the mm_roundtrip rule)
    Query("mp4_roundtrip", (s, d) => Multimodal.mp4Roundtrip(tables(s, d)),
      """SELECT event_id, event_id % 4294967296 AS seq32,
          epoch_ms(ts) AS producer_ms, user_id,
          cast(round(value*100) as bigint) AS value_c,
          24 + strlen(props) AS mdat_len
        FROM events ORDER BY event_id"""),
    // A9b: all seven box heads recomputed arithmetically from the
    // fixed clip layout; only mdat varies (by the props byte length)
    Query("mp4_boxes", (s, d) => Multimodal.mp4Boxes(tables(s, d)),
      """WITH e AS (SELECT event_id, strlen(props) AS pl FROM events),
        b(typ, position, size0, depth, var) AS (VALUES
          ('ftyp', 0, 24, 0, 0), ('moof', 24, 68, 0, 0),
          ('mfhd', 32, 16, 1, 0), ('traf', 48, 44, 1, 0),
          ('tfhd', 56, 16, 2, 0), ('tfdt', 72, 20, 2, 0),
          ('mdat', 92, 32, 0, 1))
        SELECT e.event_id, b.typ, cast(b.position as bigint) AS position,
          cast(b.size0 + b.var * e.pl as bigint) AS size,
          cast(b.depth as bigint) AS depth
        FROM e CROSS JOIN b ORDER BY event_id, position"""),
    // A9c: positions as the running sum of the arithmetic clip lengths
    // (124 + props bytes — the fixed layout), per packed stream
    Query("mp4_split_stream", (s, d) => Multimodal.mp4SplitStream(tables(s, d)),
      """WITH b AS (SELECT event_id, event_id // 5 AS grp,
          124 + strlen(props) AS clip_len FROM events)
        SELECT event_id, grp,
          coalesce(cast(sum(clip_len) OVER (PARTITION BY grp
            ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint), 0)
            AS position,
          cast(clip_len as bigint) AS clip_len
        FROM b ORDER BY event_id"""),
    // A10: MKV -> fMP4 transmux (GetMedia archive answered as GetClip)
    // — four codec passes, two formats, one row
    // oracle: four codec passes collapse to the source rows; the clip's
    // mdat carries the MKV continuation token ("tok-<id>")
    Query("mkv_to_mp4_transmux", (s, d) => Multimodal.mkvToMp4Transmux(tables(s, d)),
      """SELECT event_id, epoch_ms(ts) AS producer_ms, user_id,
          cast(round(value*100) as bigint) AS value_c,
          28 + length(cast(event_id as varchar)) AS mdat_len
        FROM events ORDER BY event_id"""),
    // A10b: the reverse — archived MP4 clips re-served as MKV
    // oracle: six codec passes collapse to the source rows; the MKV's
    // token is regenerated from the round-tripped event id and the
    // SimpleBlock payload is the clip's mdat props, verbatim
    Query("mp4_to_mkv_transmux", (s, d) => Multimodal.mp4ToMkvTransmux(tables(s, d)),
      """SELECT event_id, epoch_ms(ts) AS producer_ms, user_id,
          cast(round(value*100) as bigint) AS value_c,
          'tok-' || cast(event_id as varchar) AS token,
          props AS payload
        FROM events ORDER BY event_id"""),
    // H17: dynamic partition pruning — day-partitioned fact joined to
    // a runtime-filtered day dim; the fact scan reads only qualifying
    // day= directories via the injected dynamicpruning subquery
    // oracle: the day-partitioned join replayed from raw events (the
    // partition layout is an execution artifact, not semantics)
    Query("dpp_join", (s, d) => graft.sources.Layout.dppJoinQuery(tables(s, d), d),
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
            cast(round(value*100) as bigint) AS value_c FROM events),
        d AS (SELECT DISTINCT day FROM e WHERE day % 7 = 2)
        SELECT e.day, count(*) AS n_events,
          cast(sum(e.value_c) as bigint) AS value_cents
        FROM e JOIN d USING (day) GROUP BY 1 ORDER BY 1"""),
    // B29: the queryable frame-store serving surface — the maintained
    // gap-thinned newest-N rings read back relationally (store builds
    // once behind a seed marker; the benched query is the serving scan)
    // oracle: the frame-store rings replayed — per-stream greedy gap
    // acceptance (the G5c recursive next-kept chase, keyed by user)
    // then the newest-maxLen window with chronological slots
    Query("frame_ring_state", (s, d) => graft.sources.FrameRing.ringStateQuery(tables(s, d), d),
      """WITH RECURSIVE b AS (
          SELECT user_id AS stream_id, event_id, epoch_ms(ts) AS pms,
                 event_type,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY epoch_ms(ts), event_id) AS rn
          FROM events),
        keep(stream_id, rn, pms, event_id, event_type) AS (
          SELECT stream_id, rn, pms, event_id, event_type FROM b WHERE rn = 1
          UNION ALL
          SELECT b2.stream_id, b2.rn, b2.pms, b2.event_id, b2.event_type
          FROM keep k JOIN b b2 ON b2.stream_id = k.stream_id
            AND b2.rn > k.rn AND b2.pms >= k.pms + 600000
            AND b2.rn = (SELECT min(b3.rn) FROM b b3
                         WHERE b3.stream_id = k.stream_id AND b3.rn > k.rn
                           AND b3.pms >= k.pms + 600000)),
        rk AS (SELECT *, row_number() OVER (PARTITION BY stream_id
            ORDER BY rn DESC) AS back FROM keep)
        SELECT stream_id,
          cast(row_number() OVER (PARTITION BY stream_id ORDER BY rn)
            as bigint) AS slot,
          pms AS ts_ms, event_id AS frame_id, event_type AS tags
        FROM rk WHERE back <= 4 ORDER BY stream_id, slot"""),
    Query("mm_frame_sample_greedy", (s, d) => Multimodal.mmFrameSampleGreedy(tables(s, d)),
      """WITH RECURSIVE b AS (
          SELECT event_id, event_id // 5 AS grp, epoch_ms(ts) AS pms,
                 row_number() OVER (PARTITION BY event_id // 5 ORDER BY event_id) AS rn
          FROM events),
        keep(grp, rn, pms, event_id) AS (
          SELECT grp, rn, pms, event_id FROM b WHERE rn = 1
          UNION ALL
          SELECT b2.grp, b2.rn, b2.pms, b2.event_id
          FROM keep k JOIN b b2 ON b2.grp = k.grp AND b2.rn > k.rn
            AND b2.pms >= k.pms + 600000
            AND b2.rn = (SELECT min(b3.rn) FROM b b3 WHERE b3.grp = k.grp
                         AND b3.rn > k.rn AND b3.pms >= k.pms + 600000)
        )
        SELECT event_id, grp, pms AS producer_ms FROM keep ORDER BY event_id"""),
    Query("mm_features", (s, d) => Multimodal.mmFeatures(tables(s, d)),
      """SELECT event_id, length(props) AS frame_bytes,
          cast(json_extract_string(props,'$.k') as bigint) AS k,
          cast(len(list_distinct(regexp_extract_all(props,'.'))) as bigint) AS n_distinct_chars,
          (length(props)+15)//16 AS height
        FROM events ORDER BY event_id"""),
    // G17/G18: H.264 structural NAL parse — Annex-B/AVCC census with
    // emulation-prevention strip, and the SPS Exp-Golomb dimension parse
    // G17/G18 ramp-arithmetic oracles: every census/SPS field is an
    // arithmetic function of (event_id, user_id) — the SQL recomputes
    // them from the raw columns, so the hash pins encoder ∘ EBML
    // transport ∘ NAL walk ∘ EP strip ∘ Exp-Golomb decode end to end
    // (slice rbsp_len is the constant 15 = 1 header + 8 payload + 6
    // pre-EP trailer bytes; NalKernels.SliceRbspLen)
    Query("mm_nal_census", (s, d) => Multimodal.mmNalCensus(tables(s, d)),
      """SELECT event_id,
          CASE WHEN event_id % 2 = 0 THEN 'annexb' ELSE 'avcc' END AS format,
          cast(3 + event_id % 3 as bigint) AS n_nals,
          cast(CASE WHEN event_id % 4 = 0 THEN 1 + event_id % 3 ELSE 0 END
            as bigint) AS n_idr,
          cast(15 * (1 + event_id % 3) as bigint) AS slice_rbsp_bytes
        FROM events ORDER BY event_id"""),
    // G17b: the census applied — IDR fragments numbered per stream
    Query("mm_keyframe_index", (s, d) => Multimodal.mmKeyframeIndex(tables(s, d)),
      """SELECT user_id, event_id,
          cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
            as bigint) AS kf_seq
        FROM events WHERE event_id % 4 = 0
        ORDER BY user_id, event_id"""),
    // G26: SEI TLV census (recovery points + unregistered user data)
    // oracle: closed-form SEI ladder — recovery point on % 4 == 2 events,
    // one user-data message everywhere with event_id % 5 net bytes
    Query("mm_sei_census", (s, d) => Multimodal.mmSeiCensus(tables(s, d)),
      """SELECT event_id,
          cast(1 as bigint) AS n_sei_nals,
          cast(CASE WHEN event_id % 4 = 2 THEN 2 ELSE 1 END
            as bigint) AS n_messages,
          cast(CASE WHEN event_id % 4 = 2 THEN 1 ELSE 0 END
            as bigint) AS n_recovery,
          cast(1 as bigint) AS n_user_data,
          cast(event_id % 5 as bigint) AS user_data_bytes
        FROM events ORDER BY event_id"""),
    Query("mm_hevc_sei_census", (s, d) => Multimodal.mmHevcSeiCensus(tables(s, d)),
      """SELECT event_id,
          cast(1 as bigint) AS n_sei_nals,
          cast(CASE WHEN event_id % 4 = 2 THEN 2 ELSE 1 END
            as bigint) AS n_messages,
          cast(CASE WHEN event_id % 4 = 2 THEN 1 ELSE 0 END
            as bigint) AS n_recovery,
          cast(1 as bigint) AS n_user_data,
          cast(event_id % 5 as bigint) AS user_data_bytes
        FROM events ORDER BY event_id"""),
    // G17c: the keyframe index honoring recovery points alongside IDRs
    // oracle: random-access rows are the IDR cadence (% 4 == 0) UNION
    // the recovery-point cadence (% 4 == 2), numbered per user
    Query("mm_random_access_index", (s, d) => Multimodal.mmRandomAccessIndex(tables(s, d)),
      """SELECT user_id, event_id,
          CASE WHEN event_id % 4 = 0 THEN 'idr' ELSE 'recovery' END
            AS ra_kind,
          cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
            as bigint) AS ra_seq
        FROM events WHERE event_id % 4 = 0 OR event_id % 4 = 2
        ORDER BY user_id, event_id"""),
    Query("mm_sps_dims", (s, d) => Multimodal.mmSpsDims(tables(s, d)),
      """SELECT event_id,
          cast(66 + 11 * (user_id % 2) as bigint) AS profile_idc,
          cast(10 * (1 + event_id % 4) as bigint) AS level_idc,
          cast(16 * (4 + user_id % 4) - 2 * (event_id % 2) as bigint) AS width,
          cast(16 * (4 + event_id % 4) - 2 * (user_id % 2) as bigint) AS height
        FROM events ORDER BY event_id"""),
    // G19/G20: the HEVC twins — 2-byte NAL header census (IRAP 16-23)
    // and the profile_tier_level + conformance-window SPS parse
    // G19/G20 HEVC ramp-arithmetic oracles (the G17/G18 pattern): the
    // VPS adds one NAL over H.264 (4 + slices), slice rbsp_len is the
    // constant 16 = 2-byte header + 8 payload + 6 pre-EP trailer bytes
    // (HevcKernels.SliceRbspLen), and the SPS geometry subtracts the
    // conformance window in 4:2:0 chroma units (×2)
    Query("mm_hevc_census", (s, d) => Multimodal.mmHevcCensus(tables(s, d)),
      """SELECT event_id,
          CASE WHEN event_id % 2 = 0 THEN 'annexb' ELSE 'hvcc' END AS format,
          cast(4 + event_id % 3 as bigint) AS n_nals,
          cast(CASE WHEN event_id % 4 = 0 THEN 1 + event_id % 3 ELSE 0 END
            as bigint) AS n_irap,
          cast(16 * (1 + event_id % 3) as bigint) AS slice_rbsp_bytes
        FROM events ORDER BY event_id"""),
    Query("mm_hevc_sps", (s, d) => Multimodal.mmHevcSps(tables(s, d)),
      """SELECT event_id,
          cast(1 + user_id % 2 as bigint) AS profile_idc,
          cast(60 + 30 * (event_id % 4) as bigint) AS level_idc,
          cast(8 * (8 + user_id % 4) - 2 * (event_id % 2) as bigint) AS width,
          cast(8 * (8 + event_id % 4) - 2 * (user_id % 2) as bigint) AS height
        FROM events ORDER BY event_id"""),
    // G21/G23: OUT-OF-BAND codec config from the Tracks element's
    // CodecPrivate — avcC SPS/PPS (slices-only in-band stream) and the
    // AAC AudioSpecificConfig
    // oracle: the SAME SPS arithmetic as mm_sps_dims, but the fixture's
    // in-band stream is slices-only — only the Tracks/CodecPrivate avcC
    // path can produce these dims, so the hash proves the out-of-band
    // parse (container walk ∘ avcC ∘ EP strip ∘ Exp-Golomb)
    Query("mm_avcc_sps", (s, d) => Multimodal.mmAvccSps(tables(s, d)),
      """SELECT event_id,
          'V_MPEG4/ISO/AVC' AS codec_id,
          cast(66 + 11 * (user_id % 2) as bigint) AS profile_idc,
          cast(10 * (1 + event_id % 4) as bigint) AS level_idc,
          cast(16 * (4 + user_id % 4) - 2 * (event_id % 2) as bigint) AS width,
          cast(16 * (4 + event_id % 4) - 2 * (user_id % 2) as bigint) AS height
        FROM events ORDER BY event_id"""),
    // G21b: the hvcC HEVCDecoderConfigurationRecord walk (out-of-band
    // VPS/SPS/PPS arrays) feeding the G20 SPS reader
    // oracle: the G20 SPS arithmetic with the hvcC CodecID constant —
    // the in-band stream is slices-only, so only the CodecPrivate
    // array walk can produce these dims
    Query("mm_hvcc_sps", (s, d) => Multimodal.mmHvccSps(tables(s, d)),
      """SELECT event_id,
          'V_MPEGH/ISO/HEVC' AS codec_id,
          cast(1 + user_id % 2 as bigint) AS profile_idc,
          cast(60 + 30 * (event_id % 4) as bigint) AS level_idc,
          cast(8 * (8 + user_id % 4) - 2 * (event_id % 2) as bigint) AS width,
          cast(8 * (8 + event_id % 4) - 2 * (user_id % 2) as bigint) AS height
        FROM events ORDER BY event_id"""),
    // G21c: the h264_mp4toannexb bitstream conversion, verified by the
    // unchanged census/SPS readers over the converted stream
    // oracle: the conversion's ramp oracle — the census gains exactly the
    // two in-band parameter sets (n_nals = slices + 2), every row flips
    // to annexb, slice bytes are untouched, and the dims now parse
    // in-band (the mm_sps_dims geometry)
    Query("mm_avcc_to_annexb", (s, d) => Multimodal.mmAvccToAnnexb(tables(s, d)),
      """SELECT event_id,
          'annexb' AS format,
          cast(3 + event_id % 3 as bigint) AS n_nals,
          cast(CASE WHEN event_id % 4 = 0 THEN 1 + event_id % 3 ELSE 0 END
            as bigint) AS n_idr,
          cast(15 * (1 + event_id % 3) as bigint) AS slice_rbsp_bytes,
          cast(16 * (4 + user_id % 4) - 2 * (event_id % 2) as bigint) AS width,
          cast(16 * (4 + event_id % 4) - 2 * (user_id % 2) as bigint) AS height
        FROM events ORDER BY event_id"""),
    // G21d: the HEVC sibling — hvcC VPS/SPS/PPS re-muxed in-band,
    // verified by the unchanged G19/G20 readers
    // oracle: the HEVC conversion ramp — the census gains exactly the
    // THREE in-band parameter sets (n_nals = slices + 3), every row
    // flips to annexb, slice bytes untouched, dims parse in-band
    // (the mm_hevc_sps geometry)
    Query("mm_hvcc_to_annexb", (s, d) => Multimodal.mmHvccToAnnexb(tables(s, d)),
      """SELECT event_id,
          'annexb' AS format,
          cast(4 + event_id % 3 as bigint) AS n_nals,
          cast(CASE WHEN event_id % 4 = 0 THEN 1 + event_id % 3 ELSE 0 END
            as bigint) AS n_irap,
          cast(16 * (1 + event_id % 3) as bigint) AS slice_rbsp_bytes,
          cast(8 * (8 + user_id % 4) - 2 * (event_id % 2) as bigint) AS width,
          cast(8 * (8 + event_id % 4) - 2 * (user_id % 2) as bigint) AS height
        FROM events ORDER BY event_id"""),
    // G24: mixed-codec fleet — CASE-dispatch on the walked CodecID
    // routes each row through the right census kernel exactly once
    // oracle: per-codec census arithmetic keyed on the user_id % 2 fleet
    // split — AVC rows replay the G17 constants (SPS+PPS+slices,
    // rbsp 15/slice), HEVC rows the G19 ones (VPS adds a NAL, rbsp 16)
    Query("mm_codec_dispatch", (s, d) => Multimodal.mmCodecDispatch(tables(s, d)),
      """SELECT event_id,
          CASE WHEN user_id % 2 = 0 THEN 'V_MPEG4/ISO/AVC'
               ELSE 'V_MPEGH/ISO/HEVC' END AS codec_id,
          cast(CASE WHEN user_id % 2 = 0 THEN 3 ELSE 4 END + event_id % 3
            as bigint) AS n_nals,
          cast(CASE WHEN event_id % 4 = 0 THEN 1 + event_id % 3 ELSE 0 END
            as bigint) AS n_keyframes,
          cast(CASE WHEN user_id % 2 = 0 THEN 15 ELSE 16 END
            * (1 + event_id % 3) as bigint) AS slice_rbsp_bytes
        FROM events ORDER BY event_id"""),
    // G22: P/B/I GOP census from PPS + slice-header parse
    // oracle: closed-form replay of the GOP ladder — m = 1 + e%4 frames
    // beyond the I anchor; P where (i + u) % 3 == 0 for i in 1..m, so
    // with r = the smallest such i (in 1..3), n_p = ⌊(m-r)/3⌋ + 1 when
    // m >= r; frame_num = i mod 16 peaks at m (m <= 4 < 16)
    Query("mm_gop_census", (s, d) => Multimodal.mmGopCensus(tables(s, d)),
      """SELECT event_id,
          cast(2 + event_id % 4 as bigint) AS n_slices,
          cast(1 as bigint) AS n_i,
          cast(CASE WHEN m >= r THEN (m - r) // 3 + 1 ELSE 0 END
            as bigint) AS n_p,
          cast(m - CASE WHEN m >= r THEN (m - r) // 3 + 1 ELSE 0 END
            as bigint) AS n_b,
          cast(m as bigint) AS max_frame_num
        FROM (SELECT event_id, 1 + event_id % 4 AS m,
                CASE WHEN user_id % 3 = 0 THEN 3
                     ELSE 3 - user_id % 3 END AS r
              FROM events)
        ORDER BY event_id"""),
    // G25: the HEVC sibling — PPS + slice-segment-header parse
    // oracle: the SAME closed-form ladder as mm_gop_census — the HEVC
    // fixture replays the H.264 cadence with slice_pic_order_cnt_lsb
    // as the frame counter (poc = i for frames 0..m, max = m)
    Query("mm_hevc_gop_census", (s, d) => Multimodal.mmHevcGopCensus(tables(s, d)),
      """SELECT event_id,
          cast(2 + event_id % 4 as bigint) AS n_slices,
          cast(1 as bigint) AS n_i,
          cast(CASE WHEN m >= r THEN (m - r) // 3 + 1 ELSE 0 END
            as bigint) AS n_p,
          cast(m - CASE WHEN m >= r THEN (m - r) // 3 + 1 ELSE 0 END
            as bigint) AS n_b,
          cast(m as bigint) AS max_poc_lsb
        FROM (SELECT event_id, 1 + event_id % 4 AS m,
                CASE WHEN user_id % 3 = 0 THEN 3
                     ELSE 3 - user_id % 3 END AS r
              FROM events)
        ORDER BY event_id"""),
    // G25b: mixed-fleet GOP dispatch (per-codec slice-header routing)
    // oracle: per-codec GOP routing on the user_id % 2 fleet split —
    // both codecs replay the SAME ladder (frame_num and poc_lsb both
    // peak at m), so only the codec_id differs; a wrong route nulls
    // the census and breaks the hash
    Query("mm_gop_dispatch", (s, d) => Multimodal.mmGopDispatch(tables(s, d)),
      """SELECT event_id,
          CASE WHEN user_id % 2 = 0 THEN 'V_MPEG4/ISO/AVC'
               ELSE 'V_MPEGH/ISO/HEVC' END AS codec_id,
          cast(2 + event_id % 4 as bigint) AS n_slices,
          cast(1 as bigint) AS n_i,
          cast(CASE WHEN m >= r THEN (m - r) // 3 + 1 ELSE 0 END
            as bigint) AS n_p,
          cast(m - CASE WHEN m >= r THEN (m - r) // 3 + 1 ELSE 0 END
            as bigint) AS n_b,
          cast(m as bigint) AS max_pic_counter
        FROM (SELECT event_id, user_id, 1 + event_id % 4 AS m,
                CASE WHEN user_id % 3 = 0 THEN 3
                     ELSE 3 - user_id % 3 END AS r
              FROM events)
        ORDER BY event_id"""),
    // G23: ISO 14496-3 Table 1.16 rate lookup replayed as a CASE over
    // the generator's samplingFrequencyIndex = event_id % 13
    Query("mm_aac_asc", (s, d) => Multimodal.mmAacAsc(tables(s, d)),
      """SELECT event_id,
          'A_AAC' AS codec_id,
          cast(2 + user_id % 3 as bigint) AS object_type,
          cast(CASE event_id % 13
            WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
            WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
            WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
            WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
            WHEN 12 THEN 7350 END as bigint) AS sample_rate,
          cast(1 + event_id % 2 as bigint) AS channels
        FROM events ORDER BY event_id"""),
    // G23b: ASC → ADTS mux + header re-parse round-trip
    // oracle: the G23 field arithmetic re-read through the ADTS header
    // (profile+1 = object type, rate via the Table 1.16 CASE, 13-bit
    // frame length = 7-byte header + the 172-byte WAV SimpleBlock)
    Query("mm_asc_to_adts", (s, d) => Multimodal.mmAscToAdts(tables(s, d)),
      """SELECT event_id,
          cast(2 + user_id % 3 as bigint) AS object_type,
          cast(CASE event_id % 13
            WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
            WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
            WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
            WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
            WHEN 12 THEN 7350 END as bigint) AS sample_rate,
          cast(1 + event_id % 2 as bigint) AS channels,
          cast(179 as bigint) AS frame_length,
          cast(172 as bigint) AS payload_bytes
        FROM events ORDER BY event_id"""),
    // G2 real-decoder / G6 perceptual-dedup oracles: generated mix64
    // replays of the frame pattern (OracleSql.framePatternCte)
    Query("mm_features_bmp", (s, d) => Multimodal.mmFeaturesBmp(tables(s, d)),
      OracleSql.mmFeaturesBmp),
    // G13: in-plan 2x box downsample of each frame's BMP payload,
    // re-parsed by the generic decoder
    Query("mm_resize", (s, d) => Multimodal.mmResize(tables(s, d)), OracleSql.mmResize),
    Query("mm_patches", (s, d) => Multimodal.mmPatches(tables(s, d)), OracleSql.mmPatches),
    // G15: horizontal flip augmentation, gated through the G14 tiler
    Query("mm_flip", (s, d) => Multimodal.mmFlip(tables(s, d)), OracleSql.mmFlip),
    Query("mm_audio_features", (s, d) => Multimodal.mmAudioFeatures(tables(s, d)),
      OracleSql.mmAudioFeatures),
    // G16: exact-integer gain with int16 clipping, decoded by the same
    // generic chunk walker
    Query("mm_audio_gain", (s, d) => Multimodal.mmAudioGain(tables(s, d)),
      OracleSql.mmAudioGain(1250L)),
    Query("mm_audio_vad", (s, d) => Multimodal.mmAudioVad(tables(s, d)), OracleSql.mmAudioVad),
    // G9: scene-change detection (keyframe rule) over decoded frames
    Query("mm_scene_cuts", (s, d) => Multimodal.mmSceneCuts(tables(s, d)),
      OracleSql.mmSceneCuts(2000L)),
    // G10: cross-modal backward as-of (audio fragment → latest image
    // keyframe of the same user stream) + per-user alignment census
    Query("mm_cross_align", (s, d) => Multimodal.mmCrossAlign(tables(s, d)),
      OracleSql.mmCrossAlign),
    Query("mm_frame_dedup", (s, d) => Multimodal.mmFrameDedup(tables(s, d)),
      OracleSql.mmFrameDedup),
    // G7: incremental frame dedup against the persisted dHash-band
    // index — the seq == 6 slice of the sampled library (seq =
    // (frame_id/10) % 8; an even slice, so it carries planted family
    // frames) is the "new ingest", probed without re-decoding settled
    // media
    Query("mm_frame_dedup_incremental", (s, d) => {
      val t = tables(s, d)
      val dir = FrameIndex.materialize(t, d)
      val seq = pmod(graft.functions.intDiv(col("frame_id"), 10L), lit(8L))
      FrameIndex.dedupBatch(
        Multimodal.sampledFrames(t).filter(seq === 6L), dir)
    }, OracleSql.mmFrameDedupIncremental)
  )
}
