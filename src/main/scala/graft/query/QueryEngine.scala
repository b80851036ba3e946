package graft.query

import graft.analysis.Analyzer
import graft.index.IndexBundle
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The six query modes of the reference engine (searcher.go), composed as
  * declarative DataFrame plans over the [[IndexBundle]] Datasets. Query
  * strings are parsed on the driver (they are single local values); all
  * set operations, candidate generation, and scoring run distributed.
  *
  * Determinism: unscored results order by docId ascending (the reference's
  * posting-list order); scored results order by (score desc, docId asc) —
  * the reference's sort is unstable with unspecified tie order
  * (searcher.go:193-203), so ties get a deterministic tie-break here.
  */
final class QueryEngine(
    val index: IndexBundle,
    val k1: Double = 0.9, // reference searcher.go:246
    val b: Double = 0.4, // reference searcher.go:247
    /** (term, docId, pos) relation for the Phrase extension mode —
      * [[graft.index.PositionalIndex.positionsStream]] over the corpus
      * (plan construction is lazy; nothing runs unless a phrase query
      * does). None ⇒ [[phraseQuery]] fails loudly instead of returning
      * silently-empty results.
      */
    val positions: Option[DataFrame] = None,
    /** Raw document-model relation (docId, title, body, url) for the Grep
      * extension mode — case-sensitive literal substring search over the
      * UNANALYZED body, which no analyzed-postings mode can express.
      * None ⇒ [[grepQuery]] fails loudly. When serving a tombstoned
      * index, pass the tombstone-filtered relation (SearchCli.resolve
      * does) so Grep cannot resurrect deleted docs.
      */
    val rawDocs: Option[DataFrame] = None
) extends Serializable {

  private def spark = index.postings.sparkSession
  private def postings = index.postings
  private def kk = index.k

  private def emptyIds: DataFrame =
    postings.select(col("docId")).where(lit(false))

  /** Postings of several terms in one scan-with-IN-filter (pushed down to
    * the source when postings are parquet-backed).
    */
  def postingsOf(terms: Seq[String]): DataFrame =
    if (terms.isEmpty) postings.where(lit(false))
    else postings.where(col("term").isin(terms.distinct: _*))

  // ---------------------------------------------------------------------
  // Set operators (the engine's joins; reference index_inverted.go:43-112)
  // ---------------------------------------------------------------------

  /** n-ary intersection. The reference reorders by ascending df and folds
    * two-pointer merges (index_inverted.go:43-52); the groupBy-count
    * formulation is order-insensitive and does it in ONE shuffle: a doc
    * is in the intersection iff it matched all |terms| distinct terms
    * (each (term,docId) is unique in the postings).
    */
  def intersect(terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    if (ts.isEmpty) emptyIds
    else
      postingsOf(ts)
        .groupBy(col("docId")).agg(count(lit(1)).as("__m"))
        .where(col("__m") === ts.size)
        .select(col("docId"))
        .orderBy(col("docId"))
  }

  /** n-ary union, ascending docIds (reference index_inverted.go:77-92). */
  def union(terms: Seq[String]): DataFrame =
    if (terms.isEmpty) emptyIds
    else postingsOf(terms).select(col("docId")).distinct().orderBy(col("docId"))

  private def unionOf(ids: DataFrame, other: DataFrame): DataFrame =
    ids.union(other).distinct()

  private def intersectOf(ids: DataFrame, other: DataFrame): DataFrame =
    ids.join(other, "docId")

  // ---------------------------------------------------------------------
  // Unscored query modes
  // ---------------------------------------------------------------------

  /** Conjunctive exact match of all query tokens (reference searcher.go:35-38). */
  def termsQuery(query: String): DataFrame =
    intersect(Analyzer.tokenize(query))

  /** Boolean retrieval, `&&`/`||` (reference searcher.go:42-81). */
  def booleanQuery(query: String): DataFrame = {
    import BooleanParser._
    val hasAnd = query.contains(And)
    val hasOr = query.contains(Or)
    if (hasAnd && hasOr) {
      toTree(shuntingYard(parseInfix(query))) match {
        case None => emptyIds
        case Some(tree) =>
          def eval(n: Node): DataFrame = n match {
            case Term(w) =>
              postings.where(col("term") === w).select(col("docId"))
            case Op(isAnd, l, r) =>
              if (isAnd) intersectOf(eval(l), eval(r))
              else unionOf(eval(l), eval(r))
          }
          eval(tree).orderBy(col("docId"))
      }
    } else if (hasOr) union(splitTrimToLower(query, Or))
    else intersect(splitTrimToLower(query, And))
  }

  // ---------------------------------------------------------------------
  // Approximate matching (k-gram candidate generation;
  // reference index_kgram.go + searcher.go:142-189)
  // ---------------------------------------------------------------------

  /** Small broadcast table of the query string's k-grams WITH multiplicity
    * — the reference counts each occurrence of a repeated gram separately
    * (index_kgram.go:58-67).
    */
  private def queryGramsDf(grams: Seq[String]): DataFrame = {
    val sp = spark
    import sp.implicits._
    grams.groupBy(identity).view.mapValues(_.size).toSeq
      .toDF("gram", "qcnt")
  }

  /** Vocabulary terms within `maxEditDistance` of `str`: k-gram overlap
    * pre-filter (the cheap conjunct, evaluated first) gating the exact
    * levenshtein (reference index_kgram.go:94-108). Returns (term).
    */
  def closeTerms(str: String, maxEditDistance: Int): DataFrame = {
    val grams = Analyzer.kgrams(str, kk)
    val bound =
      greatest(lit(str.length), length(col("term"))) - 1 -
        lit((maxEditDistance - 1) * kk)
    index.kgramIndex
      .join(broadcast(queryGramsDf(grams)), "gram")
      .groupBy(col("term")).agg(sum(col("qcnt")).as("__overlap"))
      .where(col("__overlap") >= bound &&
        levenshtein(lit(str), col("term")) <= maxEditDistance)
      .select(col("term"))
  }

  /** Vocabulary terms containing every non-wildcard k-gram of the pattern
    * (reference index_kgram.go:71-90). All-wildcard patterns have no
    * non-wildcard grams and match nothing.
    */
  def kgramMatch(pattern: String): DataFrame = {
    val grams = Analyzer.kgrams(pattern, kk)
      .filterNot(g => g.contains('*') || g.contains('?'))
    if (grams.isEmpty) index.kgramIndex.select(col("term")).where(lit(false))
    else
      index.kgramIndex
        .join(broadcast(queryGramsDf(grams)), "gram")
        .groupBy(col("term")).agg(sum(col("qcnt")).as("__overlap"))
        .where(col("__overlap") === grams.size)
        .select(col("term"))
  }

  /** Union of the postings of a term-candidate relation
    * (fuzzy/wildcard; reference searcher.go:142-189).
    *
    * The candidate set is VOCABULARY-bounded, not constant-bounded: a
    * loose pattern (`a*`, or a short token with edit budget 2) can match
    * a large fraction of a 10⁷–10⁸-term vocabulary, and unconditionally
    * broadcasting that relation is a driver/executor OOM at scale. Same
    * bounded-probe move as the WAND SurvivorCap
    * ([[graft.index.BlockIndex]]): collect at most
    * [[QueryEngine.CandidateInCap]]+1 candidate terms —
    *
    *   - ≤ cap: the full candidate set is in hand; push it into the
    *     postings scan as an `In(term, …)` filter (row-group pruning at
    *     the source — strictly better than the broadcast join it
    *     replaces, and the common case: real fuzzy/wildcard tokens
    *     yield tens of candidates);
    *   - > cap: leave the candidates distributed and SHUFFLE a LEFT
    *     SEMI join (postings ⋉ candidates), hinted `shuffle_hash` on
    *     the candidate side so neither the static planner nor AQE
    *     re-broadcasts what the probe just proved unbounded (Catalyst's
    *     size estimate through the candidate aggregation is a guess;
    *     the probe's row count is a fact).
    *
    * Result sets are identical on both sides of the cap (spec-asserted).
    */
  private[graft] def unionOfTerms(terms: DataFrame): DataFrame = {
    val probe = terms
      .limit(QueryEngine.CandidateInCap + 1).collect().map(_.getString(0))
    if (probe.length <= QueryEngine.CandidateInCap) {
      if (probe.isEmpty) emptyIds
      else postings.where(col("term").isin(probe.toIndexedSeq: _*))
        .select(col("docId")).distinct()
    } else
      postings.join(terms.hint("shuffle_hash"), Seq("term"), "left_semi")
        .select(col("docId")).distinct()
  }

  /** Per-token candidate sets folded with the reference's reset-on-empty
    * quirk: when the accumulated result is empty the next token's union
    * REPLACES it instead of short-circuiting (searcher.go:147-151,182-185).
    * The emptiness check is a driver-side action per token, exactly like
    * the reference's `len(results) == 0`.
    */
  private def foldResetOnEmpty(perToken: Seq[DataFrame]): DataFrame = {
    var results: DataFrame = null
    for (u <- perToken) {
      results =
        if (results == null || results.isEmpty) u
        else intersectOf(results, u)
    }
    if (results == null) emptyIds else results.orderBy(col("docId"))
  }

  /** Fuzzy retrieval with the per-token-length edit budget
    * (reference searcher.go:142-168).
    */
  def fuzzyQuery(query: String): DataFrame =
    foldResetOnEmpty(
      Analyzer.tokenize(query).map { tok =>
        unionOfTerms(closeTerms(tok, Analyzer.getFuzziness(tok)))
      })

  /** Wildcard retrieval: k-gram candidates post-filtered by the exact
    * wildcard match — kills k-gram false positives like `sem*ts*c` vs
    * `semantic` (reference searcher.go:173-189). The post-filter runs
    * executor-side as an anchored regex (`*`→`.*`, `?`→`.`), which has
    * semantics identical to the reference's DP (`*` = zero or more).
    */
  def wildcardQuery(query: String): DataFrame =
    foldResetOnEmpty(
      Analyzer.tokenizeWildcard(query).map { tok =>
        val cands = kgramMatch(tok)
          .where(col("term").rlike(Analyzer.wildcardRegex(tok)))
        unionOfTerms(cands)
      })

  // ---------------------------------------------------------------------
  // Scored query modes
  // ---------------------------------------------------------------------

  /** Query tokens with multiplicity: duplicate query tokens double-score
    * (reference searcher.go:211-223,249).
    */
  private def queryTermsDf(tokens: Seq[String]): DataFrame = {
    val sp = spark
    import sp.implicits._
    tokens.groupBy(identity).view.mapValues(_.size).toSeq
      .toDF("term", "qcnt")
  }

  private def scoredEmpty: DataFrame =
    postings.select(col("docId"), lit(0.0).as("score")).where(lit(false))

  /** TF-IDF vector-space scoring, normalized by body word count — the
    * reference's simplified cosine (searcher.go:208-230).
    */
  def vectorSpaceQuery(query: String): DataFrame = {
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else {
      postings
        .join(broadcast(queryTermsDf(toks)), "term")
        .join(index.termStats, "term")
        .groupBy(col("docId"))
        .agg(sum(col("qcnt") * col("tf") * index.idfCol(col("df"))).as("__raw"))
        .join(index.docLens, "docId")
        .select(col("docId"),
          (col("__raw") / col("len").cast("double")).as("score"))
        .orderBy(col("score").desc, col("docId").asc)
    }
  }

  /** Okapi BM25 (k1 = 0.9, b = 0.4 reference defaults;
    * searcher.go:245-268). `topK = None` returns every matching document,
    * like the reference; `Some(k)` compiles to TakeOrderedAndProject.
    */
  def bm25Query(query: String, topK: Option[Int] = None): DataFrame = {
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else {
      val idf = index.idfCol(col("df"))
      val tf = col("tf").cast("double")
      val dl = col("len").cast("double")
      val partial = idf * (k1 + 1) * tf /
        (lit(k1) * (lit(1 - b) + lit(b) * dl / lit(index.stats.avgdl)) + tf)
      val scored = postings
        .join(broadcast(queryTermsDf(toks)), "term")
        .join(index.termStats, "term")
        .join(index.docLens, "docId")
        .groupBy(col("docId"))
        .agg(sum(col("qcnt") * partial).as("score"))
        .orderBy(col("score").desc, col("docId").asc)
      topK.fold(scored)(scored.limit)
    }
  }

  /** Batched BM25: N queries scored in ONE pass over the logical index —
    * the in-memory twin of
    * [[graft.index.BlockIndex.bm25TopKBatch]] (same amortization of the
    * per-job floor, spec-asserted rank/score-identical to per-query
    * [[bm25Query]]). Output: (query, docId, score, rank), rank 1..k per
    * query ordered (score desc, docId asc); queries with no matching
    * terms yield no rows.
    */
  def bm25QueryBatch(queries: Seq[String], k: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    val qTerms: Seq[(String, String, Double)] = for {
      q <- queries.distinct
      (t, n) <- Analyzer.tokenize(q).groupBy(identity).view.mapValues(_.size).toSeq
    } yield (q, t, n.toDouble)
    if (qTerms.isEmpty)
      return Seq.empty[(String, Long, Double, Int)].toDF("query", "docId", "score", "rank")
    val idf = index.idfCol(col("df"))
    val tf = col("tf").cast("double")
    val dl = col("len").cast("double")
    val partial = idf * (k1 + 1) * tf /
      (lit(k1) * (lit(1 - b) + lit(b) * dl / lit(index.stats.avgdl)) + tf)
    val scored = postings
      .join(broadcast(qTerms.toDF("query", "term", "qcnt")), "term")
      .join(index.termStats, "term")
      .join(index.docLens, "docId")
      .groupBy(col("query"), col("docId"))
      .agg(sum(col("qcnt") * partial).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query"))
      .orderBy(col("score").desc, col("docId").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query"), col("rank"))
  }

  /** Metadata-filtered BM25 — the `lang:scala repo:foo/bar` query shape
    * every code-search frontend exposes. Lucene filter semantics: the
    * filter restricts the CANDIDATE SET only; scoring statistics (idf,
    * avgdl) stay corpus-global, so a document's score is identical with
    * and without the filter and results are a strict subset of
    * [[bm25Query]]'s.
    *
    * `keepIds` is any (docId) relation — typically a pushed-down
    * predicate scan of the corpus metadata columns. The semi-join runs
    * AFTER the score aggregation: its left side is already collapsed to
    * one row per candidate doc (bounded by the query terms' df), so the
    * exchange it adds is on the small side of the plan, and Catalyst
    * broadcasts the filter relation when the metadata predicate is
    * selective.
    */
  def bm25FilteredQuery(query: String, keepIds: DataFrame,
      topK: Option[Int] = None): DataFrame = {
    val scored = bm25Query(query, None)
      .join(keepIds.select(col("docId")), Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc)
    topK.fold(scored)(scored.limit)
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty
    * 2001, the standard μ=2000) — the language-model alternative to BM25:
    *
    *   score(d) = Σ_t qcnt_t · ln((tf_{t,d} + μ·p(t|C)) / (dl_d + μ))
    *
    * where p(t|C) = ctf_t / |C| is the collection unigram model. Query
    * terms absent from the corpus (ctf = 0) are skipped, the standard
    * convention (their smoothed probability is 0 for every document —
    * a rank-constant −∞). Candidates are documents containing at least
    * one surviving query term; for a candidate's MISSING terms the
    * smoothing term ln(μ·p_t) still applies, decomposed as
    *
    *   score(d) = base + Σ_{t∈d} qcnt_t·(ln(tf+μp_t) − ln(μp_t))
    *              − qtot·ln(dl_d + μ),   base = Σ_t qcnt_t·ln(μ·p_t)
    *
    * so the distributed pass touches ONLY present (term, doc) postings.
    *
    * Scale shape: postings are filtered to the query terms first (pushed
    * `In` via the broadcast term join, same as [[bm25Query]]); the ctf
    * probe collapses to ≤|q| rows before the driver collect (the same
    * bounded-collect discipline as the WAND df probes); the per-doc
    * aggregation is the plan's only data-sized exchange.
    */
  def lmDirichletQuery(query: String, mu: Double = 2000.0,
      topK: Option[Int] = None): DataFrame = {
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) return scoredEmpty
    val qPost = postings.join(broadcast(queryTermsDf(toks)), "term")
    // collection term frequencies for the ≤|q| query terms — bounded
    val ctf: Map[String, Double] = qPost.groupBy(col("term"))
      .agg(sum(col("tf").cast("double")).as("ctf"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val totalLen = index.stats.totalLen.toDouble
    val qcnts = toks.groupBy(identity).view.mapValues(_.size).toSeq
    val seen = qcnts.filter { case (t, _) => ctf.contains(t) }
    if (seen.isEmpty) return scoredEmpty
    val base = seen.map { case (t, n) =>
      n * math.log(mu * ctf(t) / totalLen)
    }.sum
    val qtot = seen.map(_._2).sum.toDouble
    // μ·p_t per term rides the already-broadcast query relation
    val muP = seen.foldLeft(lit(0.0)) { case (acc, (t, _)) =>
      when(col("term") === t, mu * ctf(t) / totalLen).otherwise(acc)
    }
    val scored = qPost
      .select(col("docId"),
        (col("qcnt") *
          (log(col("tf").cast("double") + muP) - log(muP))).as("delta"))
      .groupBy(col("docId"))
      .agg(sum(col("delta")).as("dsum"))
      .join(index.docLens, "docId")
      .select(col("docId"),
        (lit(base) + col("dsum") -
          lit(qtot) * log(col("len").cast("double") + lit(mu))).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
    topK.fold(scored)(scored.limit)
  }

  /** Exact-phrase mode — an EXTENSION beyond the reference's six
    * algorithms (a tf-only index cannot express adjacency): documents
    * containing the query tokens contiguously, ranked by occurrence
    * count (ties by docId). Fails loudly when the engine was built
    * without a positional relation rather than answering empty.
    */
  def phraseQuery(query: String): DataFrame = {
    val pos = positions.getOrElse(throw new IllegalStateException(
      "phrase queries need a positional relation — construct QueryEngine " +
        "with positions = Some(PositionalIndex.positionsStream(docs))"))
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else graft.index.PositionalIndex.phraseHits(pos, toks)
      .select(col("docId"), col("phrase_tf").cast("double").as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Proximity mode — the second positional extension: documents
    * containing ALL query terms, ranked by the tightness of their best
    * covering window (score = 1/min_span, so an adjacent pair scores 0.5
    * and scattered terms decay; ties by docId). Same loud-failure
    * contract as [[phraseQuery]] when no positional relation exists.
    */
  def proximityQuery(query: String): DataFrame = {
    val pos = positions.getOrElse(throw new IllegalStateException(
      "proximity queries need a positional relation — construct " +
        "QueryEngine with positions = Some(PositionalIndex.positionsStream(docs))"))
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else graft.index.PositionalIndex.proximityHits(pos, toks)
      .select(col("docId"), (lit(1.0) / col("min_span")).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** "More like this": related documents for a seed document — the query
    * is the seed's top-`m` terms by tf·idf (weight desc, term asc;
    * weights rounded to 6 dp before ranking so the cutoff is
    * reproducible across engines), scored with the standard BM25 plan,
    * the seed itself excluded. The m seed terms are a bounded
    * driver-side collect (m is a handful); everything else is the
    * distributed scoring dataflow. Unknown seed ⇒ empty result.
    */
  def moreLikeThis(seedDocId: Long, m: Int = 5,
      topK: Option[Int] = None): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val seedTerms = postings.where(col("docId") === seedDocId)
      .join(index.termStats, "term")
      .select(col("term"),
        round(col("tf").cast("double") * index.idfCol(col("df")), 6).as("__w"))
      .orderBy(col("__w").desc, col("term").asc)
      .limit(m)
      .collect().map(_.getString(0)).toSeq
    if (seedTerms.isEmpty) scoredEmpty
    else {
      // seed terms are analyzer tokens (lowercase alnum), so the joined
      // string round-trips through tokenize exactly
      val ranked = bm25Query(seedTerms.mkString(" "))
        .where(col("docId") =!= seedDocId)
        .orderBy(col("score").desc, col("docId").asc)
      topK.fold(ranked)(ranked.limit)
    }
  }

  /** BM25 with explicit fractional per-term weights — the scoring
    * primitive behind pseudo-relevance feedback: identical arithmetic to
    * [[bm25Query]] with caller-supplied weights in place of the integer
    * query-token multiplicities (bm25Query ≡ this with each token's
    * occurrence count as its weight). Terms absent from the vocabulary
    * contribute nothing (inner join); an empty weight list scores empty.
    */
  def bm25WeightedQuery(termWeights: Seq[(String, Double)],
      topK: Option[Int] = None): DataFrame = {
    if (termWeights.isEmpty) scoredEmpty
    else {
      val sp = spark
      import sp.implicits._
      val idf = index.idfCol(col("df"))
      val tf = col("tf").cast("double")
      val dl = col("len").cast("double")
      val partial = idf * (k1 + 1) * tf /
        (lit(k1) * (lit(1 - b) + lit(b) * dl / lit(index.stats.avgdl)) + tf)
      val scored = postings
        .join(broadcast(termWeights.toDF("term", "qcnt")), "term")
        .join(index.termStats, "term")
        .join(index.docLens, "docId")
        .groupBy(col("docId"))
        .agg(sum(col("qcnt") * partial).as("score"))
        .orderBy(col("score").desc, col("docId").asc)
      topK.fold(scored)(scored.limit)
    }
  }

  /** Pseudo-relevance-feedback expansion terms (the RM3-style first
    * half): the top-`e` terms by summed-tf × idf over the top-`f` BM25
    * feedback documents, with the original query tokens excluded.
    * Feedback-doc and expansion-term cutoffs both rank over 6dp-ROUNDED
    * values with deterministic tie-breaks (docId asc / term asc), so the
    * selection reproduces across engines — the same discipline as
    * [[moreLikeThis]]'s seed-term pick. The e-term collect is bounded by
    * `e` (a model knob); both ranking passes are distributed.
    */
  def prfExpandTerms(query: String, f: Int = 10, e: Int = 5): Seq[String] = {
    require(f >= 1 && e >= 1, s"f and e must be >= 1, got f=$f e=$e")
    val qToks = Analyzer.tokenize(query)
    if (qToks.isEmpty) return Seq.empty
    val fb = bm25Query(query)
      .select(col("docId"), round(col("score"), 6).as("__s"))
      .orderBy(col("__s").desc, col("docId").asc)
      .limit(f)
      .select(col("docId"))
    postings
      .join(broadcast(fb), "docId")
      .where(!col("term").isin(qToks.distinct: _*))
      .groupBy(col("term"))
      .agg(sum(col("tf").cast("double")).as("__stf"))
      .join(index.termStats, "term")
      .select(col("term"),
        round(col("__stf") * index.idfCol(col("df")), 6).as("__w"))
      .orderBy(col("__w").desc, col("term").asc)
      .limit(e)
      .collect().map(_.getString(0)).toSeq
  }

  /** Pseudo-relevance-feedback BM25 (RM3-lite; Abdul-Jaleel et al.,
    * TREC'04 describe the full RM3): score with the original tokens at
    * their occurrence counts PLUS the [[prfExpandTerms]] expansion terms
    * at weight `beta` — the classic recall-lifting second pass when the
    * vocabulary of relevant documents differs from the query's. beta = 0
    * degenerates to plain BM25 over the widened candidate set (expansion
    * terms contribute zero score).
    */
  def prfQuery(query: String, f: Int = 10, e: Int = 5, beta: Double = 0.5,
      topK: Option[Int] = None): DataFrame = {
    require(beta >= 0, s"beta must be >= 0, got $beta")
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) return scoredEmpty
    val base = toks.groupBy(identity).view.mapValues(_.size.toDouble).toSeq
    val exp = prfExpandTerms(query, f, e).map(_ -> beta)
    bm25WeightedQuery(base ++ exp, topK)
  }

  /** Per-document top-`m` tf·idf keywords over the WHOLE corpus — the
    * batch generalization of [[moreLikeThis]]'s seed-term derivation
    * (document tagging / index-time keyword extraction). One window over
    * the postings relation, partitioned by docId so no skew hazard;
    * weights 6dp-rounded before ranking (ties term asc) for
    * cross-engine-reproducible cutoffs. Output:
    * (docId, term, weight, rn), rn 1..m per doc.
    */
  def keywordsPerDoc(m: Int = 5): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("docId"))
      .orderBy(col("weight").desc, col("term").asc)
    postings
      .join(index.termStats, "term")
      .select(col("docId"), col("term"),
        round(col("tf").cast("double") * index.idfCol(col("df")), 6)
          .as("weight"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= m)
  }

  /** Learning-to-rank feature extraction: one row per candidate document
    * (any doc matching ≥ 1 query term) carrying the classic LTR feature
    * set — the training-data side of ranking (each row is an unjudged
    * LETOR-style sample; join qrels to label it, feed
    * [[graft.pipeline.EvalOps.rankEval]] the model's output to score it):
    *
    *   - `bm25`      this engine's BM25 score (identical arithmetic to
    *                 [[bm25Query]]);
    *   - `tfidf`     the length-normalized vector-space score (identical
    *                 to [[vectorSpaceQuery]]);
    *   - `n_matched` distinct query terms present in the doc;
    *   - `sum_tf`    total occurrences of query terms in the doc;
    *   - `doc_len`   body word count;
    *   - `max_idf`   the rarest matched term's idf.
    *
    * ONE pass: the postings relation is filtered by a broadcast of the
    * query terms and aggregated once per docId — every feature is an
    * aggregate of the same joined row set, so adding features does not
    * add jobs or shuffles (the scale discipline for per-query feature
    * logging). Scores 6dp-rounded. The result is deliberately UNORDERED
    * (a feature table, not a ranking) — callers that need an order sort
    * the bounded slice they keep.
    */
  def ltrFeatures(query: String): DataFrame = {
    val toks = Analyzer.tokenize(query)
    val idf = index.idfCol(col("df"))
    val tf = col("tf").cast("double")
    val dl = col("len").cast("double")
    val bm25Partial = idf * (k1 + 1) * tf /
      (lit(k1) * (lit(1 - b) + lit(b) * dl / lit(index.stats.avgdl)) + tf)
    // an empty query yields an empty (term, qcnt) frame: the join is
    // empty with the right schema — no sentinel special-casing needed
    postings
      .join(broadcast(queryTermsDf(toks)), "term")
      .join(index.termStats, "term")
      .join(index.docLens, "docId")
      .groupBy(col("docId"))
      .agg(
        round(sum(col("qcnt") * bm25Partial), 6).as("bm25"),
        round(sum(col("qcnt") * col("tf") * idf) / max(dl), 6).as("tfidf"),
        count(lit(1)).as("n_matched"),
        sum(col("tf").cast("long")).as("sum_tf"),
        max(col("len").cast("long")).as("doc_len"),
        round(max(idf), 6).as("max_idf"))
  }

  /** "Did you mean": deterministic per-token spelling suggestion over the
    * index vocabulary — each token's best close term by (edit distance
    * asc, df desc, term asc) within its length-scaled edit budget
    * ([[Analyzer.getFuzziness]]), using the same k-gram-prefiltered
    * candidate generation as [[fuzzyQuery]]. A token present in the
    * vocabulary is its own unique distance-0 candidate, so it suggests
    * itself; a token with NO candidate (garbage, or the reference's
    * short-token overlap-bound quirk) falls back to itself via the left
    * join. Output: (pos, token, suggestion), one row per query token.
    */
  def didYouMean(query: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty)
      return Seq.empty[(Int, String, String)].toDF("pos", "token", "suggestion")
    toks.zipWithIndex.map { case (t, i) =>
      val best = closeTerms(t, Analyzer.getFuzziness(t))
        .join(index.termStats, "term")
        .orderBy(levenshtein(lit(t), col("term")).asc,
          col("df").desc, col("term").asc)
        .limit(1)
        .select(lit(i).as("pos"), lit(t).as("token"),
          col("term").as("suggestion"))
      Seq((i, t)).toDF("pos", "token")
        .join(best, Seq("pos", "token"), "left")
        .select(col("pos"), col("token"),
          coalesce(col("suggestion"), col("token")).as("suggestion"))
    }.reduce(_ union _)
  }

  /** [[didYouMean]] folded back into a query string (driver-side, bounded
    * by the token count); None when no token changed.
    */
  def suggestQuery(query: String): Option[String] = {
    val rows = didYouMean(query).orderBy(col("pos")).collect()
    val suggested = rows.map(_.getAs[String]("suggestion"))
    if (rows.exists(r => r.getAs[String]("token") != r.getAs[String]("suggestion")))
      Some(suggested.mkString(" "))
    else None
  }

  /** Prefix typeahead: top-k vocabulary completions of the LAST typed
    * token by (df desc, term asc) — the autocomplete box served from the
    * index's own term statistics. A vocab-sized relation scan; postings
    * are never touched. Output: (term, df).
    */
  def typeahead(prefix: String, k: Int = 10): DataFrame = {
    val norm = Analyzer.tokenize(prefix).lastOption.getOrElse("")
    val base = index.termStats.select(col("term"), col("df"))
    if (norm.isEmpty) base.where(lit(false))
    else base.where(col("term").startsWith(norm))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /** Facet counts for a result set: the hits joined back to the corpus
    * and counted per facet value — the SERP sidebar aggregation. One
    * docId join (result-sized, so typically broadcast) + a map-combined
    * count. Output: (facetCol, cnt).
    */
  def facetCounts(ranked: DataFrame, docs: DataFrame,
      facetCol: String): DataFrame =
    ranked.select(col("docId")).join(docs, "docId")
      .groupBy(col(facetCol)).agg(count(lit(1)).as("cnt"))

  /** Grep mode — the third serving extension: case-sensitive literal
    * substring search over the RAW body (code-grep), ranked by
    * occurrence count (non-overlapping, docId ties). One narrow pass
    * over the corpus relation; a persisted deployment uses
    * [[graft.index.GramIndex.substringSearchIndexed]]'s gram-routed
    * plan instead. Same loud-without-rawDocs contract as
    * [[phraseQuery]]'s.
    */
  def grepQuery(needle: String): DataFrame = {
    val docs = rawDocs.getOrElse(throw new IllegalStateException(
      "grep queries need the raw corpus — construct QueryEngine with " +
        "rawDocs = Some(docs)"))
    if (needle.isEmpty) scoredEmpty
    else graft.index.GramIndex.grepStats(docs, "docId", "body", needle)
      .select(col("docId"), col("n_matches").cast("double").as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Symbol mode — files DEFINING the queried name (ctags-ranked code
    * search): the [[graft.pipeline.CodeOps.symbolSearch]] transform over
    * the RAW body, scored monotonically in (strongest defining kind,
    * definition count) so the (docId, score) serving contract holds; a
    * persisted deployment uses
    * [[graft.index.SymbolIndex.searchIndexed]]'s routed single-shard
    * plan instead. Same loud-without-rawDocs contract as [[grepQuery]].
    */
  def symbolQuery(name: String): DataFrame = {
    val docs = rawDocs.getOrElse(throw new IllegalStateException(
      "symbol queries need the raw corpus — construct QueryEngine with " +
        "rawDocs = Some(docs)"))
    val q = name.trim
    if (q.isEmpty) scoredEmpty
    else graft.pipeline.CodeOps.symbolSearch(
        graft.pipeline.CodeOps.symbolDefs(docs, "docId", "body"), q)
      .select(col("id").as("docId"),
        (col("weight").cast("double") * 1000000.0 + col("n_defs"))
          .as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Subtoken mode — camelCase-aware identifier search over the RAW
    * body ([[graft.pipeline.CodeOps.subtokenSearch]]): every query
    * subtoken must appear in the file's subtoken stream, score = summed
    * subtoken tf. Same loud-without-rawDocs contract as [[grepQuery]].
    */
  def subtokenQuery(query: String): DataFrame = {
    val docs = rawDocs.getOrElse(throw new IllegalStateException(
      "subtoken queries need the raw corpus — construct QueryEngine with " +
        "rawDocs = Some(docs)"))
    if (query.trim.isEmpty) scoredEmpty
    else graft.pipeline.CodeOps.subtokenSearch(docs, "docId", "body", query)
      .select(col("id").as("docId"), col("sub_tf").cast("double").as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Algorithm registry (reference server.go:39-53); unknown names fall
    * back to BM25. "Phrase", "Proximity", "Grep", "Symbol", and
    * "Subtoken" are this engine's extension modes — every reference name
    * resolves exactly as the reference's registry does.
    */
  def byName(name: String): String => DataFrame = name match {
    case "Classic TF-IDF" => vectorSpaceQuery
    case "Boolean" => booleanQuery
    case "Terms" => termsQuery
    case "Fuzzy" => fuzzyQuery
    case "Wildcard" => wildcardQuery
    case "Phrase" => phraseQuery
    case "Proximity" => proximityQuery
    case "Grep" => grepQuery
    case "Symbol" => symbolQuery
    case "Subtoken" => subtokenQuery
    case _ => q => bm25Query(q)
  }

  /** Rank-preserving materialization of result documents — the reference's
    * `Searcher.Query` + `storage.Get(ids)` (searcher.go:26-29). `ranked`
    * must carry docId (+ optional score) and be RESULT-PAGE sized (top-k
    * or a paginate output — every call site), so collecting it is bounded.
    *
    * Page-sized work stays on the driver: the ordered result is collected
    * ONCE (`collect` of an ordered plan preserves order by contract), its
    * documents are fetched with ONE pushed `docId IN (…)` scan, and the
    * rank order is restored locally. The output has the shape of
    * `ranked.join(docs, "docId")` in rank order (docId, ranked's other
    * columns, docs' other columns; a ranked id absent from `docs` drops)
    * and is a local relation, so collecting it launches no job.
    */
  def materialize(ranked: DataFrame, docs: DataFrame): DataFrame = {
    val rk = ranked.schema.fieldIndex("docId")
    val dk = docs.schema.fieldIndex("docId")
    def id(r: Row, k: Int): Long = r.getAs[Number](k).longValue
    val page = ranked.collect().toSeq
    val ids = page.map(id(_, rk)).distinct
    val fetched =
      if (ids.isEmpty) Map.empty[Long, Seq[Row]]
      else docs.where(col("docId").isin(ids.map(Long.box): _*)).collect()
        .toSeq.groupBy(id(_, dk))
    def drop[A](xs: Seq[A], k: Int): Seq[A] = xs.patch(k, Nil, 1)
    val rows = page.flatMap { r =>
      fetched.getOrElse(id(r, rk), Nil).map(d =>
        Row.fromSeq(r.get(rk) +: (drop(r.toSeq, rk) ++ drop(d.toSeq, dk))))
    }
    val schema = org.apache.spark.sql.types.StructType(ranked.schema(rk) +:
      (drop(ranked.schema.fields.toSeq, rk) ++ drop(docs.schema.fields.toSeq, dk)))
    ranked.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** SERP pagination: 5 results per page (reference server.go:11,23-28). */
  def paginate(ranked: DataFrame, page: Int, perPage: Int = 5): DataFrame =
    ranked.offset((page - 1) * perPage).limit(perPage)
}

object QueryEngine {

  /** Largest fuzzy/wildcard candidate-term set the driver will collect
    * and push into the postings scan as an `In(term, …)` filter; above
    * it the candidates stay distributed and join by shuffle
    * ([[QueryEngine.unionOfTerms]]). Same order of magnitude as the WAND
    * SurvivorCap: thousands of strings are driver-trivial, millions are
    * not.
    */
  val CandidateInCap = 4096

  /** Repository-grouped results (the GitHub-code-search "group by repo"
    * SERP view): scored hits collapsed to one row per group — best score,
    * the doc achieving it (min docId on score ties — deterministic), and
    * the group's hit count — ranked (best_score desc, n_files desc, key).
    * `hits` is a (docId, score) relation, top-k bounded by the caller, so
    * the metadata join is hit-sized (broadcast) and the groupBy touches
    * ≤ k rows; the corpus-sized `meta` relation is never shuffled. The
    * argmax is one `max(struct(score, −docId))` — no window.
    */
  /** SERP near-duplicate collapse: drop any hit whose sketch is within
    * `maxHamming` bits of a HIGHER-ranked hit (rank = score desc, docId
    * asc). This is the PREDECESSOR rule, not MOSS/Lucene's greedy
    * leader walk: a hit is dropped if ANY higher hit is similar, kept
    * or not — on a chain A~B~C (A≁C) greedy keeps C, this rule drops
    * it. Chosen deliberately: the rule is relational (one bounded
    * self-join — exact at any scale with no driver-side sequencing),
    * deterministic, and strictly more aggressive, which is the safe
    * direction for result diversity. `hits` is (docId, score), top-k
    * bounded by the caller; `sims` maps docId → 64-bit sketch
    * ([[graft.pipeline.Dedup.simhash64]]). Output: surviving hits,
    * (score desc, docId) order.
    */
  def collapseSimilarHits(hits: DataFrame, sims: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    // broadcast the k-row hits side; the corpus-sized sims relation
    // STREAMS and is semi-reduced to hit docIds by the join — the
    // subsequent self-join then runs over ≤ k rows
    val h = sims.select(col("docId"), col("simhash"))
      .join(broadcast(hits.select(col("docId"), col("score"))), "docId")
      .select(col("docId"), col("score"), col("simhash"))
    val higher = col("b.score") > col("a.score") ||
      (col("b.score") === col("a.score") && col("b.docId") < col("a.docId"))
    val near = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <=
      maxHamming
    val dropped = h.as("a").join(h.as("b"), higher && near, "left_semi")
      .select(col("docId"))
    hits.join(dropped, Seq("docId"), "left_anti")
      .orderBy(col("score").desc, col("docId").asc)
  }

  def groupHitsBy(hits: DataFrame, meta: DataFrame,
      keyCol: String): DataFrame =
    meta.join(broadcast(hits.select(col("docId"), col("score"))), "docId")
      .groupBy(col(keyCol))
      .agg(max(struct(col("score"), (-col("docId")).as("negId"))).as("__b"),
        count(lit(1)).cast("long").as("n_files"))
      .select(col(keyCol), col("__b.score").as("best_score"),
        (-col("__b.negId")).cast("long").as("best_doc"), col("n_files"))
      .orderBy(col("best_score").desc, col("n_files").desc, col(keyCol))

  /** Simple BM25F (Robertson & Zaragoza 2004/2009 §3.3, the "weighted
    * field concatenation" variant): per-field term frequencies and
    * lengths are combined with field weights BEFORE the BM25 saturation,
    * so a title hit saturates like `wTitle` body hits —
    *   wtf_t,d = Σ_f w_f · tf_f,  wdl_d = Σ_f w_f · len_f,
    *   score   = Σ_t qcnt · idf_t · wtf·(k1+1) / (k1·(1−b+b·wdl/avgwdl) + wtf).
    * The flat engine indexes title and body as one undifferentiated
    * stream (reference searcher.go:272-286), so field boosts are
    * inexpressible there; this extension derives fielded stats straight
    * from the corpus relation. idf keeps the engine's vocabulary-size
    * convention (log10(V/df), [[graft.index.IndexBundle.idfCol]]) so the
    * two scorers agree on term rarity.
    *
    * Shape at scale: ONE map-combined (docId, term) aggregation over the
    * weight-tagged union of the two token streams produces wtf; df and
    * V are post-agg reductions of it; wdl is a narrow per-doc column;
    * the scalar avgwdl/V ride in via broadcast cross joins. Output:
    * (docId, score) ordered (score desc, docId asc).
    */
  def bm25F(docs: DataFrame, query: String,
      wTitle: Double = 2.0, wBody: Double = 1.0,
      k1: Double = 0.9, b: Double = 0.4,
      topK: Option[Int] = None): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty)
      return Seq.empty[(Long, Double)].toDF("docId", "score")
    val qdf = toks.groupBy(identity).view.mapValues(_.size).toSeq
      .toDF("term", "qcnt")
    val stream = docs.select(col("docId"),
        explode(Analyzer.tokensCol(col("title"))).as("term"),
        lit(wTitle).as("__w"))
      .union(docs.select(col("docId"),
        explode(Analyzer.tokensCol(col("body"))).as("term"),
        lit(wBody).as("__w")))
    val wtf = stream.groupBy(col("docId"), col("term"))
      .agg(sum(col("__w")).as("wtf"))
    val dfRel = wtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = dfRel.agg(count(lit(1)).cast("double").as("__v"))
    val wdl = docs.select(col("docId"),
      (lit(wTitle) * size(Analyzer.tokensCol(col("title"))) +
        lit(wBody) * size(Analyzer.tokensCol(col("body"))))
        .cast("double").as("wdl"))
    val avg = wdl.agg((sum(col("wdl")) / count(lit(1))).as("__avgwdl"))
    val idf = when(col("df") > 0 && col("__v") > 0,
      log(10.0, col("__v") / col("df"))).otherwise(0.0)
    val partial = idf * (col("wtf") * (k1 + 1)) /
      (lit(k1) * (lit(1 - b) + lit(b) * col("wdl") / col("__avgwdl")) +
        col("wtf"))
    val scored = wtf
      .join(broadcast(qdf), "term")
      .join(dfRel, "term")
      .join(wdl, "docId")
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(avg))
      .groupBy(col("docId"))
      .agg(sum(col("qcnt") * partial).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
    topK.fold(scored)(scored.limit)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) of N
    * ranked lists — the standard score-free combiner for HYBRID search
    * (lexical BM25 ranks ⊕ embedding-ANN ranks):
    *
    *   rrf(d) = Σ_lists 1 / (k + rank_list(d)),  absent ⇒ contributes 0
    *
    * Rank-based fusion needs no score calibration between retrieval
    * families, which is exactly why it wins for BM25 × cosine. Inputs
    * are (docId, rank) relations — produced by the already-distributed
    * rankers (bm25TopK, bruteForceTopK, lshTopK...); fusion itself is a
    * union + ONE map-combined aggregation over lists' top-k rows only.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      kRrf: Int = 60,
      topK: Option[Int] = None): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    val tagged = rankings.map(_.select(col("docId"), col("rank")))
      .reduce(_ unionByName _)
    val fused = tagged.groupBy(col("docId"))
      .agg(round(sum(lit(1.0) / (lit(kRrf) + col("rank"))), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("docId").asc)
    topK.fold(fused)(fused.limit)
  }

  /** Retrieve-then-rerank (two-stage retrieval): keep the lexical
    * top-`candidates` of `hits` and REORDER them by embedding cosine to
    * the query vector — the classic recall-stage / precision-stage split
    * (cheap lexical retrieval bounds the candidate set, the expensive
    * semantic comparison runs only on survivors). Contrast [[rrfFuse]],
    * which merges two INDEPENDENT full rankings; here the semantic score
    * never sees a doc the lexical stage didn't surface.
    *
    * Determinism discipline: the candidate cut ranks 6dp-rounded scores
    * with docId ties via orderBy + limit (TakeOrdered — no global
    * window); `lex_rank` is then a window over the ≤`candidates`-row
    * survivor set only. Candidates with no embedding row keep sim −1
    * (sunk to the bottom, never silently dropped — the lexical recall
    * stage's promise holds). The embeddings relation is joined against
    * the bounded candidate set, never scanned into the reorder.
    *
    * Output: (docId, lex_rank, sim), sim 6dp, ordered sim desc / docId
    * asc, limited to `topK` if given.
    */
  def rerankByEmbedding(
      hits: DataFrame, queryVec: Array[Float], embeddings: DataFrame,
      candidates: Int = 100, topK: Option[Int] = None,
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    val cut = hits.select(col("docId"), round(col("score"), 6).as("__s"))
      .orderBy(col("__s").desc, col("docId").asc)
      .limit(candidates)
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s").desc, col("docId").asc)
    val cand = cut.withColumn("lex_rank", row_number().over(wLex))
    val qv = array(queryVec.map(x => lit(x.toDouble)): _*)
    val emb = embeddings.select(
      col(vecIdCol).cast("long").as("docId"), col(vecCol).as("__v"))
    val reranked = cand.join(emb, Seq("docId"), "left")
      .select(col("docId"), col("lex_rank"),
        when(col("__v").isNull, lit(-1.0))
          .otherwise(round(graft.pipeline.Similarity.cosine(qv, col("__v")), 6))
          .as("sim"))
      .orderBy(col("sim").desc, col("docId").asc)
    topK.fold(reranked)(reranked.limit)
  }

  /** Blend text relevance with a query-independent document prior
    * (web ranking's classic BM25 × PageRank composition):
    *
    *   blended(d) = α·score(d)/max_hits(score) + (1−α)·prior(d)/max(prior)
    *
    * Both inputs are max-normalized onto [0,1] — score over the HIT set
    * (the only scores that exist), prior over its whole relation (the
    * corpus-wide authority scale) — so α weighs comparable quantities.
    * Hits without a prior (a doc outside the link graph) take prior 0.
    * Callers round both inputs first (6dp discipline) and the output is
    * rounded 6dp, so blending reproduces across engines.
    *
    * Shape: two scalar maxima ride in as broadcast cross joins; the
    * prior joins the (already small) hit relation — the full prior
    * relation is never shuffled by this operator.
    *
    * @param hits  (docId, score) — e.g. a BM25 result, score desc
    * @param prior (docId, prior) — e.g. [[graft.pipeline.GraphOps.pageRank]]
    */
  def blendWithPrior(
      hits: DataFrame,
      prior: DataFrame,
      alpha: Double = 0.8,
      topK: Option[Int] = None): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    val bmax = hits.agg(max(col("score")).as("__bm"))
    val pmax = prior.agg(max(col("prior")).as("__pm"))
    val blended = hits
      .join(prior, Seq("docId"), "left")
      .crossJoin(broadcast(bmax))
      .crossJoin(broadcast(pmax))
      .select(col("docId"),
        // an empty prior relation makes __pm NULL; treat it as "no
        // prior signal anywhere" (prior term 0), not NULL-poisoned rows
        round(lit(alpha) * col("score") / col("__bm") +
          lit(1 - alpha) * coalesce(col("prior"), lit(0.0)) /
            coalesce(col("__pm"), lit(1.0)), 6)
          .as("blended"))
      .orderBy(col("blended").desc, col("docId").asc)
    topK.fold(blended)(blended.limit)
  }
}
