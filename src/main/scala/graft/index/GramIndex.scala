package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Character k-gram (default trigram) index over RAW document content +
  * literal substring search — the code-grep capability the analyzed word
  * index structurally lacks: a substring query can cross token
  * boundaries ("ark tab"), live inside a token ("tabl"), and is
  * CASE-SENSITIVE, none of which the lowercase/punctuation-split
  * analyzer (reference index.go tokenize) can express. The design is the
  * public trigram-index pattern of Google Code Search (R. Cox, "Regular
  * Expression Matching with a Trigram Index", 2012) and Zoekt: gram
  * posting lists prefilter to candidate documents, an exact `contains`
  * verify removes gram-coincidence false positives.
  *
  * Query plan (the 100 TB shape): the needle's distinct k-grams are
  * computed DRIVER-SIDE (a handful of strings); candidates are the docs
  * holding ALL of them — one groupBy-count over the gram-filtered
  * posting scan (pushed `In(gram, …)` on the persisted layout, touching
  * only the ≤|grams| shards the driver routes to); the verify join then
  * reads content for ONLY the candidates. Needles shorter than k cannot
  * use the index and fall back to a full verify scan — the documented
  * contract, same as every trigram-index engine.
  *
  * Persisted layout mirrors [[PositionalIndex]]: parquet partitioned by
  * `shard = pmod(xxhash64(gram), nShards)`, sorted by (gram, docId)
  * within files so row-group stats serve the pushed filter; `_grammeta
  * .json` (atomic) records k and nShards.
  */
object GramIndex {

  /** Cap on gram posting lists any indexed query intersects: the
    * rarest few grams already bound the candidate set, and every extra
    * list costs a full posting read for (at best) marginal pruning —
    * the same selectivity economics as the phrase path's rarest-term
    * semi-join. Measured at 2M docs (BENCH.md): all-gram AND on a
    * 9-gram needle read every fat keyword gram's list and lost to the
    * raw scan it exists to avoid.
    */
  val MaxQueryGrams = 3

  /** Distinct k-grams of the raw text as a narrow Column op; text
    * shorter than k (including null ≡ empty) has none. No `$`-padding —
    * unlike the vocabulary k-grams (reference index_kgram.go:39-54)
    * these serve containment, not prefix/suffix anchoring.
    */
  def gramsCol(text: Column, k: Int): Column = {
    require(k >= 2, s"gram size must be >= 2, got $k")
    val t = coalesce(text, lit(""))
    val n = length(t) - (k - 1)
    // sequence(1, n) would generate DESCENDING [1, 0] for empty text —
    // guard the short-text case to an empty array instead
    when(n >= 1,
      array_distinct(transform(sequence(lit(1), n), i => t.substr(i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** (gram, docId) posting rows — distinct per doc by construction
    * (gramsCol dedups inside the array), so no shuffle-side distinct.
    */
  def gramPostings(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    docs.select(col(idCol).cast("long").as("docId"),
        explode(gramsCol(col(textCol), k)).as("gram"))

  /** Doc ids whose text contains ALL of the needle's grams — the
    * index-side prefilter (superset of the true result).
    */
  private def candidates(postings: DataFrame, grams: Seq[String]): DataFrame =
    postings.where(col("gram").isin(grams: _*))
      .groupBy(col("docId"))
      .agg(count(lit(1)).as("__ng"))
      // >= not ==: with unique ids they are equivalent (posting rows are
      // distinct per (gram, docId)), but duplicated input ids inflate the
      // count and == would then FALSELY EXCLUDE a matching doc; >= keeps
      // candidates a superset in every case, and the verify stays exact
      .where(col("__ng") >= grams.size)
      .select(col("docId"))

  /** Literal case-sensitive substring search over an (id, text) relation:
    * gram-prefiltered + contains-verified. Returns the matching ids as
    * one `docId` column. The postings relation is derived inline; reuse
    * [[gramPostings]] (cached) or the persisted index for repeated
    * queries.
    */
  def substringSearch(docs: DataFrame, idCol: String, textCol: String,
      needle: String, k: Int = 3): DataFrame =
    matchedVerify(docs, idCol, textCol, needle, allGrams(needle, k),
      gramPostings(docs, idCol, textCol, k))
      .select(col("docId"))

  /** Matching (docId, __t) rows — the shared core of the substring query
    * plans; `__t` stays available for match statistics. `grams` is the
    * (possibly rarest-subset) gram requirement; empty ⇒ full verify scan
    * (needle shorter than k, or pattern outside the gram-able subset).
    */
  private def matchedVerify(docs: DataFrame, idCol: String,
      textCol: String, needle: String, grams: Seq[String],
      postings: => DataFrame): DataFrame = {
    require(needle.nonEmpty, "empty needle matches everything; refusing")
    val t = coalesce(col(textCol), lit(""))
    val verified = docs.select(col(idCol).cast("long").as("docId"), t.as("__t"))
    if (grams.isEmpty)
      verified.where(contains(col("__t"), lit(needle)))
    else
      verified.join(candidates(postings, grams), Seq("docId"), "left_semi")
        .where(contains(col("__t"), lit(needle)))
  }

  private def allGrams(needle: String, k: Int): Seq[String] =
    if (needle.length < k) Seq() else needle.sliding(k).toSeq.distinct

  /** Per-match statistics and a first-occurrence excerpt (grep's -c and
    * -o views): occurrence count by replace-arithmetic (non-overlapping,
    * as both engines' replace is), 1-based first offset, and the raw
    * slice of ±ctx characters around the first match — plain string
    * arithmetic any engine reproduces.
    *
    * This path is ONE NARROW PASS (filter + per-row expressions, no
    * shuffle) — inline gram postings would cost a corpus explode to save
    * a corpus scan, a strictly losing trade. The gram prefilter pays only
    * when the postings are PERSISTED: [[grepStatsIndexed]].
    */
  def grepStats(docs: DataFrame, idCol: String, textCol: String,
      needle: String, ctx: Int = 40): DataFrame = {
    require(needle.nonEmpty, "empty needle matches everything; refusing")
    require(ctx >= 0, s"ctx must be >= 0, got $ctx")
    val t = coalesce(col(textCol), lit(""))
    statsOf(docs.select(col(idCol).cast("long").as("docId"), t.as("__t"))
      .where(contains(col("__t"), lit(needle))), needle, ctx)
  }

  /** [[grepStats]] riding the persisted index's candidate prefilter:
    * only gram-plausible docs are verified and measured.
    */
  def grepStatsIndexed(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, needle: String,
      ctx: Int = 40): DataFrame = {
    require(ctx >= 0, s"ctx must be >= 0, got $ctx")
    val m = gramMeta(spark, dir)
    val sel = rarestGrams(spark, dir, allGrams(needle, m.k), m.nShards,
      MaxQueryGrams)
    statsOf(liveOnly(spark, dir,
      matchedVerify(docs, idCol, textCol, needle, sel,
        indexedPostings(spark, dir, sel, m.nShards))), needle, ctx)
  }

  private def statsOf(matched: DataFrame, needle: String,
      ctx: Int): DataFrame = {
    val len = needle.length
    val off = instr(col("__t"), needle)
    val start = greatest(off - ctx, lit(1))
    matched.select(col("docId"),
      ((length(col("__t")) -
        length(replace(col("__t"), lit(needle), lit("")))) / len)
        .cast("long").as("n_matches"),
      off.cast("long").as("first_off"),
      col("__t").substr(start, off - start + len + ctx).as("excerpt"))
  }

  /** grep -n: one row per MATCHING LINE — (docId, line_no, line), line
    * numbers 1-based. A narrow pass: split + posexplode + contains
    * filter, no shuffle; the explode multiplies rows but the filter runs
    * inside the same codegen stage, so non-matching lines never leave
    * the scan's pipeline. `split(…, -1)` keeps trailing empty lines so
    * numbering matches the file's physical lines exactly.
    */
  def grepLines(docs: DataFrame, idCol: String, textCol: String,
      needle: String): DataFrame = {
    require(needle.nonEmpty, "empty needle matches everything; refusing")
    val t = coalesce(col(textCol), lit(""))
    docs.select(col(idCol).cast("long").as("docId"),
        posexplode(split(t, "\n", -1)).as(Seq("__p", "line")))
      .where(contains(col("line"), lit(needle)))
      .select(col("docId"), (col("__p") + 1).cast("long").as("line_no"),
        col("line"))
  }

  /** [[grepLines]] riding the persisted index: only gram-plausible docs
    * are exploded — at corpus scale the explode touches candidate docs,
    * not the corpus.
    */
  def grepLinesIndexed(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, needle: String): DataFrame = {
    val m = gramMeta(spark, dir)
    val sel = rarestGrams(spark, dir, allGrams(needle, m.k), m.nShards,
      MaxQueryGrams)
    val base = docs.select(col(idCol).cast("long").as("docId"),
      coalesce(col(textCol), lit("")).as("__t"))
    val cand =
      if (sel.isEmpty) base
      else base.join(candidates(indexedPostings(spark, dir, sel, m.nShards),
        sel), Seq("docId"), "left_semi")
    liveOnly(spark, dir, grepLines(cand, "docId", "__t", needle))
  }

  /** grep -C: every line within `ctx` lines of a match — (docId, line_no,
    * line, is_match), context lines flagged false, overlapping context
    * regions deduplicated. One narrow per-row pass, LINEAR in file size:
    * match positions are found by one scan of the line array, expanded to
    * clamped ±ctx ranges, deduplicated and ordered IN ARRAY LAND, and
    * only the kept lines are exploded — no window function, no shuffle,
    * docs without a match vanish at the explode. `ctx = 0` degenerates to
    * [[grepLines]] plus the flag column.
    */
  def grepLinesContext(docs: DataFrame, idCol: String, textCol: String,
      needle: String, ctx: Int): DataFrame = {
    require(needle.nonEmpty, "empty needle matches everything; refusing")
    require(ctx >= 0, s"ctx must be >= 0, got $ctx")
    val t = coalesce(col(textCol), lit(""))
    // The line array is LET-BOUND (Analyzer.bind1): the match-scan and
    // reassembly lambdas reference it per element, which would
    // otherwise re-split the document per line (quadratic per doc).
    val rows = graft.analysis.Analyzer.bind1(split(t, "\n", -1), lines => {
      val mpos = filter(sequence(lit(1), size(lines)),
        i => contains(element_at(lines, i), lit(needle)))
      val keep = array_sort(array_distinct(flatten(transform(mpos,
        p => sequence(greatest(p - ctx, lit(1)),
          least(p + ctx, size(lines)))))))
      transform(keep, i => struct(
        i.cast("long").as("line_no"),
        element_at(lines, i).as("line"),
        contains(element_at(lines, i), lit(needle)).as("is_match")))
    })
    docs.select(col(idCol).cast("long").as("docId"),
        explode(rows).as("__r"))
      .select(col("docId"), col("__r.line_no"), col("__r.line"),
        col("__r.is_match"))
  }

  /** [[grepLinesContext]] riding the persisted index: only gram-plausible
    * candidate docs have their line arrays built at all.
    */
  def grepLinesContextIndexed(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String, needle: String,
      ctx: Int): DataFrame = {
    val m = gramMeta(spark, dir)
    val sel = rarestGrams(spark, dir, allGrams(needle, m.k), m.nShards,
      MaxQueryGrams)
    val base = docs.select(col(idCol).cast("long").as("docId"),
      coalesce(col(textCol), lit("")).as("__t"))
    val cand =
      if (sel.isEmpty) base
      else base.join(candidates(indexedPostings(spark, dir, sel, m.nShards),
        sel), Seq("docId"), "left_semi")
    liveOnly(spark, dir, grepLinesContext(cand, "docId", "__t", needle, ctx))
  }

  /** Corpus-scale literal sed: rewrite every occurrence of `needle` to
    * `replacement` across the WHOLE corpus, with the persisted gram index
    * bounding which rows ever evaluate the string scan — candidate docs
    * take the `replace` projection, everything else streams through as an
    * anti-join passthrough, so rewrite work is proportional to the
    * PLAUSIBLE-MATCH set, not the corpus (the shape a secrets-removal or
    * notice-update pass needs at 100 TB). Output: (docId, content) for
    * every input row; ≡ `replace()` over every row (the index candidates
    * are a superset of true matches, and replacing a non-match is the
    * identity). Contract: the index at `dir` must cover every id in
    * `docs` (same coverage contract as every other `*Indexed` read);
    * tombstones are deliberately NOT applied — the output is a transform
    * of the INPUT relation, not a search over live docs.
    */
  def rewriteIndexed(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, needle: String,
      replacement: String): DataFrame = {
    require(needle.nonEmpty, "empty needle matches everything; refusing")
    val m = gramMeta(spark, dir)
    val sel = rarestGrams(spark, dir, allGrams(needle, m.k), m.nShards,
      MaxQueryGrams)
    val base = docs.select(col(idCol).cast("long").as("docId"),
      coalesce(col(textCol), lit("")).as("content"))
    if (sel.isEmpty)
      base.select(col("docId"),
        replace(col("content"), lit(needle), lit(replacement)).as("content"))
    else {
      val cand = candidates(indexedPostings(spark, dir, sel, m.nShards), sel)
      val hit = base.join(cand, Seq("docId"), "left_semi")
        .select(col("docId"),
          replace(col("content"), lit(needle), lit(replacement))
            .as("content"))
      val pass = base.join(cand, Seq("docId"), "left_anti")
      hit.unionByName(pass)
    }
  }

  // ---------------------------------------------------------------------
  // Persisted sharded layout
  // ---------------------------------------------------------------------

  private def metaPath(dir: String) = s"$dir/_grammeta.json"
  private def dfDir(dir: String) = s"$dir/_gramdf"

  /** Build the persisted gram index: one shuffle (repartition by shard),
    * files sorted by (gram, docId), plus a per-gram df table (one row
    * per distinct gram, same shard routing) that lets queries read only
    * their RAREST grams' postings. Overwrites `dir`. The meta file is
    * the commit marker and records the corpus's maxDocId — the
    * disjointness floor [[refresh]] enforces.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 3, nShards: Int = 16): Unit =
    buildFromPostings(gramPostings(docs, idCol, textCol, k), dir, k, nShards)

  /** The write half of [[build]], also the engine of [[compact]] (which
    * re-segments from STORED (gram, docId) rows — no re-gramming).
    */
  private def buildFromPostings(rows: DataFrame, dir: String,
      k: Int, nShards: Int): Unit = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    MetaIO.deleteIfExists(dir, recursive = true)
    rows
      .withColumn("shard",
        pmod(xxhash64(col("gram")), lit(nShards.toLong)).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("gram"), col("docId"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    val spark = rows.sparkSession
    val shardPaths = (0 until nShards).map(s => s"$dir/shard=$s")
      .filter(MetaIO.exists)
    val maxDocId =
      if (shardPaths.isEmpty) -1L
      else {
        val back = spark.read.option("basePath", dir).parquet(shardPaths: _*)
        back.groupBy(col("gram")).agg(count(lit(1)).as("df"))
          .withColumn("shard",
            pmod(xxhash64(col("gram")), lit(nShards.toLong)).cast("int"))
          .repartition(col("shard"))
          .sortWithinPartitions(col("gram"))
          .write.mode("overwrite").partitionBy("shard").parquet(dfDir(dir))
        back.agg(max(col("docId"))).head().getLong(0)
      }
    MetaIO.writeAtomic(metaPath(dir),
      s"""{"k":$k,"nShards":$nShards,"maxDocId":$maxDocId}"""
        .getBytes("UTF-8"))
  }

  /** The `maxGrams` rarest of the needle's grams by stored df (absent
    * grams are df 0 — rarest of all: they prove emptiness with one
    * posting read of nothing). Ties break lexicographically so the scan
    * set is deterministic. Falls back to all grams on pre-df indexes.
    *
    * ANY subset of the required grams yields a candidate SUPERSET, so
    * correctness is untouched — this is the same cost move as the
    * phrase path's rarest-term semi-join and Zoekt's rarest-trigram
    * iteration: a needle like "def select" has every gram in half the
    * corpus, and intersecting all nine fat posting lists costs more
    * than the verify it saves.
    */
  private def rarestGrams(spark: SparkSession, dir: String,
      grams: Seq[String], nShards: Int, maxGrams: Int): Seq[String] = {
    if (grams.size <= maxGrams) return grams
    rarestOf(grams, readGramDfs(spark, dir, grams, nShards), maxGrams)
  }

  /** Selection half of [[rarestGrams]] against an already-read df map —
    * shared with the batch path so single-needle and batched queries pick
    * IDENTICAL gram subsets (including the all-grams fallback on pre-df
    * indexes, where no selection basis exists).
    */
  private def rarestOf(grams: Seq[String], dfs: Map[String, Long],
      maxGrams: Int): Seq[String] = {
    if (grams.size <= maxGrams) return grams
    if (dfs.isEmpty) return grams // pre-df index (or empty): no basis
    grams.sortBy(g => (dfs.getOrElse(g, 0L), g)).take(maxGrams)
  }

  def readMeta(dir: String): (Int, Int) = {
    val s = MetaIO.readString(metaPath(dir))
    def f(key: String) = (s""""$key"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(s)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"malformed ${metaPath(dir)}: $s"))
    (f("k"), f("nShards"))
  }

  /** Posting rows for exactly these grams, read from ONLY the shard
    * directories the driver routes them to (same XXH64 arithmetic as the
    * writer) with the `In(gram, …)` filter pushed to parquet — union'd
    * across the live segments when the root is segmented (a doc's grams
    * live in exactly one segment, so the union is disjoint by docId).
    */
  private def indexedPostings(spark: SparkSession, dir: String,
      grams: Seq[String], nShards: Int): DataFrame = {
    val shards = grams.map(g => BlockIndex.shardOf(g, nShards))
      .distinct.sorted
    segDirs(dir).flatMap { seg =>
      val paths = shards.map(sh => s"$seg/shard=$sh").filter(MetaIO.exists)
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", seg).parquet(paths: _*)
        .select(col("gram"), col("docId")))
    }.reduceOption(_ union _).getOrElse(
      spark.range(0).select(col("id").as("docId"), lit("").as("gram")))
  }

  /** Substring search against the persisted index — driver-routed shard
    * reads, then the same candidates-then-verify plan as
    * [[substringSearch]].
    */
  def substringSearchIndexed(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String,
      needle: String): DataFrame = {
    val m = gramMeta(spark, dir)
    val sel = rarestGrams(spark, dir, allGrams(needle, m.k), m.nShards,
      MaxQueryGrams)
    liveOnly(spark, dir,
      matchedVerify(docs, idCol, textCol, needle, sel,
        indexedPostings(spark, dir, sel, m.nShards)))
      .select(col("docId"))
  }

  // ---------------------------------------------------------------------
  // Regex search (grep) — trigram-prefiltered via the AND/OR gram query
  // algebra of Cox 2012, "Regular Expression Matching with a Trigram
  // Index": every regex is compiled to a NECESSARY boolean condition
  // over trigram presence (AND across a concatenation's parts, OR
  // across an alternation's branches); documents failing the condition
  // cannot match, documents passing it are verified with the exact
  // regex. Deliberate, sound simplification vs the full paper: the
  // prefix/suffix/exact-set tracking that yields grams SPANNING a
  // concatenation boundary (e.g. `cde` in `(abc)de`) is not done —
  // dropping a necessary gram only widens the candidate superset, never
  // loses a match, and the rlike verify stays exact.
  // ---------------------------------------------------------------------

  /** Necessary-condition query over gram presence. `Any` = no
    * constraint (the full-scan fallback when it reaches the root).
    */
  private[graft] sealed trait GramQ
  private[graft] object GramQ {
    case object Any extends GramQ
    final case class Gram(g: String) extends GramQ
    final case class And(qs: Seq[GramQ]) extends GramQ
    final case class Or(qs: Seq[GramQ]) extends GramQ

    def and(qs: Seq[GramQ]): GramQ = {
      val flat = qs.flatMap {
        case And(xs) => xs
        case Any => Nil
        case q => Seq(q)
      }.distinct
      flat match {
        case Seq() => Any
        case Seq(q) => q
        case xs => And(xs)
      }
    }

    /** OR is only as strong as its weakest branch: any `Any` branch
      * makes the whole disjunction unconstrained.
      */
    def or(qs: Seq[GramQ]): GramQ = {
      val flat = qs.flatMap {
        case Or(xs) => xs
        case q => Seq(q)
      }.distinct
      if (flat.isEmpty || flat.contains(Any)) Any
      else if (flat.size == 1) flat.head
      else Or(flat)
    }

    def gramsOf(q: GramQ): Seq[String] = {
      def walk(q: GramQ): Seq[String] = q match {
        case Gram(g) => Seq(g)
        case And(xs) => xs.flatMap(walk)
        case Or(xs) => xs.flatMap(walk)
        case Any => Nil
      }
      walk(q).distinct
    }
  }

  /** Total distinct grams a regex query may intersect before the
    * prefilter is judged not worth its posting reads and the pattern
    * falls back to the full verify scan. AND nodes are already pruned
    * to their [[MaxQueryGrams]] rarest; this bounds pathological OR fans.
    */
  val MaxRegexGrams = 24

  /** Literal fragments of a grep-shaped pattern: `lit1.*lit2.+lit3` →
    * Some(Seq(lit1, lit2, lit3)). Kept as the cheap detector for the
    * pure-concatenation subset (and its spec); [[regexGramQuery]]
    * subsumes it for query planning.
    */
  private[graft] def literalFragments(pattern: String): Option[Seq[String]] = {
    val meta = "[](){}^$|?*+\\."
    val parts = pattern.split("""\.\*|\.\+""", -1).toSeq
    if (parts.exists(_.exists(meta.contains(_)))) None
    else Some(parts.filter(_.nonEmpty))
  }

  /** Compile a Java-regex pattern to its necessary gram condition.
    * None ⇒ a construct outside the supported subset (backreferences,
    * lookarounds, unknown escapes, malformed quantifiers) — callers
    * full-scan; the pattern still fails loudly in the verify if it is
    * genuinely invalid, same as grep.
    *
    * Supported: literals, escapes of metacharacters, `.`, character
    * classes `[…]`, groups `(…)` (non-capturing `(?:…)` too),
    * alternation, postfix `*` `+` `?` and bounded repeats `{m}` `{m,}`
    * `{m,n}`, anchors `^` `$`, and class escapes `\d \D \w \W \s \S
    * \b \B` (opaque one-position atoms). Semantics used per element:
    *   - a maximal run of exactly-once positions requires its k-grams;
    *     a position may hold a SMALL literal character class (≤
    *     [[MaxClassExpand]] expansions, e.g. `[Gg]et`, `v[0-3]x`), in
    *     which case the run compiles to the OR over its expanded
    *     variants' gram conjunctions, capped at [[MaxRunVariants]]
    *     variants per run (past the cap the run splits — weaker but
    *     sound). A range endpoint may be escaped (`[\]-a]`). Negated
    *     classes, class escapes inside classes, intersections (`&&`) and
    *     wide ranges stay opaque atoms; a nested class (a Java union)
    *     leaves the whole pattern to the full scan;
    *   - `x?` / `x*` / `x{0,…}` may be absent → contributes Any and
    *     breaks the run;
    *   - `x+` / `x{m,…}` guarantees ≥ m ≥ 1 adjacent occurrences →
    *     extends the PRECEDING run with m copies before breaking
    *     adjacency (`ab+c` requires "ab" but not "bc", since the c
    *     follows the LAST b);
    *   - `x{m}` is exactly m adjacent copies — the run CONTINUES through
    *     it (`a\d{2}b` breaks, but `ax{2}b` requires "axxb");
    *   - a group contributes its branches' OR.
    */
  private[graft] def regexGramQuery(pattern: String, k: Int): Option[GramQ] = {
    var i = 0
    val n = pattern.length
    val ClassEscapes = "dDwWsSbB"
    val LiteralEscapes = "\\.()[]{}|*+?^$-/"

    sealed trait Post
    case object PNone extends Post // no quantifier: exactly once
    case object POpt extends Post // ? * {0,…}: may be absent
    case class PAtLeast(m: Int) extends Post // + {m,} {m,n}: ≥ m, open tail
    case class PExact(m: Int) extends Post // {m}: exactly m, adjacency holds

    /** Parse an optional postfix quantifier. None = malformed `{…}`. */
    def parsePostfix(): Option[Post] = {
      if (i >= n) return Some(PNone)
      pattern.charAt(i) match {
        case '*' | '?' => i += 1; Some(POpt)
        case '+' => i += 1; Some(PAtLeast(1))
        case '{' =>
          val close = pattern.indexOf('}', i + 1)
          if (close < 0) return None
          val body = pattern.substring(i + 1, close)
          def num(t: String): Option[Int] =
            if (t.nonEmpty && t.length <= 6 && t.forall(_.isDigit))
              Some(t.toInt)
            else None
          // the clamp must stay >= k: a clamped x-run shorter than a
          // gram window could otherwise fuse the chars on both sides of
          // the repeat into a gram the real text never contains
          val clamp = math.max(MaxExactRepeat, k)
          val post = body.split(",", -1) match {
            case Array(a) => num(a).map(m =>
              if (m == 0) POpt else PExact(math.min(m, clamp)))
            case Array(a, b) => num(a).flatMap { m =>
              val hi = if (b.isEmpty) Some(Int.MaxValue) else num(b)
              hi.map { mx =>
                if (m == 0) POpt
                else if (mx == m) PExact(math.min(m, clamp))
                else PAtLeast(math.min(m, clamp))
              }
            }
            case _ => None
          }
          post.foreach(_ => i = close + 1)
          post
        case _ => Some(PNone)
      }
    }

    /** Class body after `[`. Some(Some(cs)) = expandable to literal
      * chars cs; Some(None) = valid but opaque; None = unterminated, or
      * a nested class (`[ab[cd]]` is a union in Java regex — left to the
      * full scan).
      */
    def parseClass(): Option[Option[Seq[Char]]] = {
      var opaque = false
      if (i < n && pattern.charAt(i) == '^') { opaque = true; i += 1 }
      // one class member: Some(Some(c)) a literal char, escaped or not;
      // Some(None) an opaque escape (\d …); None past the end
      def member(): Option[Option[Char]] =
        if (i >= n) None
        else if (pattern.charAt(i) != '\\') { i += 1; Some(Some(pattern.charAt(i - 1))) }
        else if (i + 1 >= n) None
        else {
          val e = pattern.charAt(i + 1)
          i += 2
          Some(if (LiteralEscapes.indexOf(e) >= 0) Some(e) else None)
        }
      val chars = Seq.newBuilder[Char]
      var first = true
      while (i < n && (pattern.charAt(i) != ']' || first)) {
        first = false
        if (pattern.charAt(i) == '[') return None
        // `&&` intersects: the class matches a subset of what it lists
        if (pattern.startsWith("&&", i)) opaque = true
        val lo = member().getOrElse(return None)
        if (i + 1 < n && pattern.charAt(i) == '-' && pattern.charAt(i + 1) != ']') {
          // a range; either endpoint may be escaped (`[\]-a]`, `[+-\]]`)
          i += 1
          (lo, member().getOrElse(return None)) match {
            case (Some(l), Some(h)) if l <= h && h - l < MaxClassExpand =>
              chars ++= (l to h)
            case _ => opaque = true
          }
        } else lo match {
          case Some(c) => chars += c
          case None => opaque = true
        }
      }
      if (i >= n) return None // unterminated class
      i += 1
      val cs = chars.result().distinct
      if (opaque || cs.isEmpty || cs.size > MaxClassExpand) Some(None)
      else Some(Some(cs))
    }

    // returns None on unsupported construct; propagates up
    def parseAlt(depth: Int): Option[GramQ] = {
      val branches = Seq.newBuilder[GramQ]
      var more = true
      while (more) {
        parseConcat(depth) match {
          case None => return None
          case Some(q) => branches += q
        }
        if (i < n && pattern.charAt(i) == '|') i += 1
        else more = false
      }
      Some(GramQ.or(branches.result()))
    }

    def parseConcat(depth: Int): Option[GramQ] = {
      val parts = Seq.newBuilder[GramQ]
      // the current literal run, as the set of its expanded variants —
      // every position appends one char to EVERY variant, so variant
      // lengths stay uniform and the ≥ k emission test is all-or-none
      var runs: List[String] = List("")
      def flushRun(): Unit = {
        if (runs.head.length >= k) {
          parts += GramQ.or(runs.map(v => GramQ.and(
            (0 to v.length - k).map(j => GramQ.Gram(v.substring(j, j + k))))))
        }
        runs = List("")
      }
      def appendPos(cs: Seq[Char]): Unit = {
        // past the variant cap, split the run: the prefix's condition is
        // emitted as-is and the suffix restarts — weaker, still sound
        if (runs.size * cs.size > MaxRunVariants) flushRun()
        runs = for (r <- runs; c <- cs) yield r + c
      }
      /** One run-position atom holding any of `cs`, with its quantifier. */
      def atom(cs: Seq[Char]): Boolean = parsePostfix() match {
        case None => false
        case Some(PNone) => appendPos(cs); true
        case Some(POpt) => flushRun(); true
        case Some(PExact(m)) =>
          (1 to m).foreach(_ => appendPos(cs)); true
        case Some(PAtLeast(m)) =>
          (1 to m).foreach(_ => appendPos(cs)); flushRun(); true
      }
      /** An opaque one-position atom: no requirement, breaks the run. */
      def opaqueAtom(): Boolean = { flushRun(); parsePostfix().isDefined }
      while (i < n) {
        val c = pattern.charAt(i)
        c match {
          case ')' =>
            if (depth == 0) return None // unbalanced
            flushRun(); return Some(GramQ.and(parts.result()))
          case '|' =>
            flushRun(); return Some(GramQ.and(parts.result()))
          case '(' =>
            i += 1
            // skip a non-capturing group marker (other (?…) forms —
            // lookarounds, flags — are out of the subset)
            if (i + 1 < n && pattern.charAt(i) == '?') {
              if (pattern.charAt(i + 1) == ':') i += 2 else return None
            }
            val inner = parseAlt(depth + 1) match {
              case None => return None
              case Some(q) => q
            }
            if (i >= n || pattern.charAt(i) != ')') return None
            i += 1
            flushRun()
            parsePostfix() match {
              case None => return None
              case Some(POpt) => // optional group: no requirement
              case Some(_) => parts += inner // ≥1 occurrence
            }
          case '[' =>
            i += 1
            parseClass() match {
              case None => return None // unterminated
              case Some(None) => if (!opaqueAtom()) return None
              case Some(Some(cs)) => if (!atom(cs)) return None
            }
          case '.' =>
            i += 1; if (!opaqueAtom()) return None
          case '^' | '$' =>
            // zero-width anchor: conservatively breaks the literal run
            i += 1; flushRun()
          case '\\' =>
            if (i + 1 >= n) return None
            val e = pattern.charAt(i + 1)
            i += 2
            if (ClassEscapes.indexOf(e) >= 0) {
              if (!opaqueAtom()) return None
            } else if (LiteralEscapes.indexOf(e) >= 0) {
              if (!atom(Seq(e))) return None
            } else return None // \1 backrefs, \p{…}, \Q…\E, …
          case '{' | '}' =>
            return None // quantifier with no preceding atom
          case '*' | '+' | '?' =>
            return None // dangling postfix — invalid pattern anyway
          case _ =>
            i += 1; if (!atom(Seq(c))) return None
        }
      }
      flushRun()
      Some(GramQ.and(parts.result()))
    }

    val q = parseAlt(0)
    if (i < n) None else q // trailing unparsed input (stray ')')
  }

  /** Largest character-class expansion the regex compiler turns into an
    * OR of literal variants (`[Gg]et`); wider or negated classes stay
    * opaque one-position atoms.
    */
  private[graft] val MaxClassExpand = 8

  /** Cap on expanded variants per literal run — the product of its
    * classes' widths. Past it the run splits (prefix condition emitted,
    * suffix restarts): weaker but sound, and the gram-count collapse in
    * [[pruneGramQuery]] still bounds total posting reads.
    */
  private[graft] val MaxRunVariants = 16

  /** Clamp on `{m…}` repeat expansion — more adjacent copies than this
    * contribute as "at least this many" (sound; bounds run length).
    */
  private[graft] val MaxExactRepeat = 64

  /** Prune each AND to its `maxGrams` RAREST gram conjuncts (absent
    * grams are df 0 — rarest of all), exactly the [[rarestOf]] cost
    * move; OR branches must ALL be kept (dropping one would strengthen
    * the condition — unsound). A tree still holding more than
    * [[MaxRegexGrams]] distinct grams collapses to Any: at that width
    * the posting reads cost more than the scan they save.
    */
  private[graft] def pruneGramQuery(q: GramQ, dfs: Map[String, Long],
      maxGrams: Int = MaxQueryGrams): GramQ = {
    def walk(q: GramQ): GramQ = q match {
      case GramQ.And(xs) =>
        val (grams, rest) = xs.partition(_.isInstanceOf[GramQ.Gram])
        val kept =
          if (grams.size <= maxGrams || dfs.isEmpty) grams
          else grams.collect { case g: GramQ.Gram => g }
            .sortBy(g => (dfs.getOrElse(g.g, 0L), g.g)).take(maxGrams)
        GramQ.and(kept ++ rest.map(walk))
      case GramQ.Or(xs) => GramQ.or(xs.map(walk))
      case other => other
    }
    val pruned = walk(q)
    if (GramQ.gramsOf(pruned).size > MaxRegexGrams) GramQ.Any else pruned
  }

  /** Doc ids satisfying an arbitrary AND/OR gram condition: per-doc
    * present-gram sets (ONE groupBy over the routed posting scan, like
    * [[candidates]]) evaluated against the tree as a Column predicate.
    * Duplicate input ids merge into one set — superset-safe.
    */
  private def candidatesOf(postings: DataFrame, q: GramQ): DataFrame = {
    val grams = GramQ.gramsOf(q)
    def ev(q: GramQ): Column = q match {
      case GramQ.Gram(g) => array_contains(col("__gs"), g)
      case GramQ.And(xs) => xs.map(ev).reduce(_ && _)
      case GramQ.Or(xs) => xs.map(ev).reduce(_ || _)
      case GramQ.Any => lit(true)
    }
    postings.where(col("gram").isin(grams: _*))
      .groupBy(col("docId"))
      .agg(collect_set(col("gram")).as("__gs"))
      .where(ev(q))
      .select(col("docId"))
  }

  /** Restrict `verified` (docId, __t) to the gram-plausible candidate
    * set of a compiled gram condition — the shared prefilter of every
    * regex read path.
    */
  private def gramCandJoin(verified: DataFrame, q: GramQ,
      postings: => DataFrame): DataFrame = q match {
    case GramQ.Any => verified
    case GramQ.Gram(g) =>
      verified.join(candidates(postings, Seq(g)), Seq("docId"), "left_semi")
    case GramQ.And(xs) if xs.forall(_.isInstanceOf[GramQ.Gram]) =>
      // pure conjunction (the concatenation subset): the cheaper
      // count-based intersection, same plan as substring search
      verified.join(
        candidates(postings, xs.collect { case g: GramQ.Gram => g.g }),
        Seq("docId"), "left_semi")
    case _ =>
      verified.join(candidatesOf(postings, q), Seq("docId"), "left_semi")
  }

  private def regexVerify(docs: DataFrame, idCol: String,
      textCol: String, pattern: String, q: GramQ,
      postings: => DataFrame): DataFrame = {
    require(pattern.nonEmpty, "empty pattern matches everything; refusing")
    val verified = docs.select(col(idCol).cast("long").as("docId"),
      coalesce(col(textCol), lit("")).as("__t"))
    val base = gramCandJoin(verified, q, postings)
    // find-anywhere semantics (Java Matcher.find ≡ RE2 partial match on
    // the supported subset)
    base.where(col("__t").rlike(pattern)).select(col("docId"))
  }

  /** grep -n for REGEX patterns: one row per line with a find-anywhere
    * match — (docId, line_no, line), 1-based numbering, trailing empties
    * kept (the [[grepLines]] layout with `rlike` as the verifier). Line
    * splitting makes the semantics exactly grep's: a pattern can never
    * match across a line boundary. Narrow pass — split + posexplode +
    * rlike inside one codegen stage.
    */
  def grepLinesRegex(docs: DataFrame, idCol: String, textCol: String,
      pattern: String): DataFrame = {
    require(pattern.nonEmpty, "empty pattern matches everything; refusing")
    val t = coalesce(col(textCol), lit(""))
    docs.select(col(idCol).cast("long").as("docId"),
        posexplode(split(t, "\n", -1)).as(Seq("__p", "line")))
      .where(col("line").rlike(pattern))
      .select(col("docId"), (col("__p") + 1).cast("long").as("line_no"),
        col("line"))
  }

  /** [[grepLinesRegex]] riding the persisted index: the pattern compiles
    * to its Cox AND/OR gram condition ([[regexGramQuery]]) and only
    * gram-plausible docs are split into lines; the doc-level prefilter
    * is sound for line-level matching because it is a SUPERSET test (a
    * doc whose literal fragments straddle lines survives the prefilter
    * and dies at the per-line verify). Patterns outside the gram-able
    * subset fall back to the full line scan.
    */
  def grepLinesRegexIndexed(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String,
      pattern: String): DataFrame = {
    val m = gramMeta(spark, dir)
    val q0 = regexGramQuery(pattern, m.k).getOrElse(GramQ.Any)
    val q = pruneGramQuery(q0,
      readGramDfs(spark, dir, GramQ.gramsOf(q0), m.nShards))
    val sel = GramQ.gramsOf(q)
    val base = docs.select(col(idCol).cast("long").as("docId"),
      coalesce(col(textCol), lit("")).as("__t"))
    val cand = gramCandJoin(base, q,
      indexedPostings(spark, dir, sel, m.nShards))
    liveOnly(spark, dir, grepLinesRegex(cand, "docId", "__t", pattern))
  }

  /** Batched substring search against the persisted index — the
    * [[graft.index.BlockIndex.bm25TopKBatch]] analogue for grep, and the
    * direct answer to the measured per-query multi-job floor (BENCH.md's
    * grep study: an indexed query that touches kilobytes still costs two
    * scheduled jobs; a batch shares them). One df probe for the union of
    * all needles' grams, ONE postings read with the union'd pushed
    * `In(gram, …)`, per-needle candidate counting via a broadcast
    * (gram, needle) map, and one verify join with a column-vs-column
    * contains. Needles shorter than k verify against the full corpus
    * inside the same pass (their candidate set is every doc — the
    * documented fallback, batched). Output: (needle, docId) rows.
    */
  def substringSearchBatch(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String,
      needles: Seq[String]): DataFrame = {
    require(needles.nonEmpty && needles.forall(_.nonEmpty),
      "needles must be non-empty")
    val meta0 = gramMeta(spark, dir)
    val (k, nShards) = (meta0.k, meta0.nShards)
    val t = coalesce(col(textCol), lit(""))
    val base = docs.select(col(idCol).cast("long").as("docId"), t.as("__t"))
    val uniq = needles.distinct

    // one df probe for the union of every needle's grams; per-needle
    // selection then matches the single-needle path exactly (rarestOf)
    val gramsByNeedle: Map[String, Seq[String]] = {
      val all = uniq.flatMap(n => allGrams(n, k)).distinct
      val dfs = readGramDfs(spark, dir, all, nShards)
      uniq.map(n => n -> rarestOf(allGrams(n, k), dfs, MaxQueryGrams)).toMap
    }
    val (grammed, scanned) = uniq.partition(n => gramsByNeedle(n).nonEmpty)

    val verifiedGrammed: Option[DataFrame] =
      if (grammed.isEmpty) None
      else {
        val unionGrams = grammed.flatMap(gramsByNeedle).distinct
        val postings = indexedPostings(spark, dir, unionGrams, nShards)
          .where(col("gram").isin(unionGrams: _*))
        // (gram, needle, required): a gram may serve several needles
        val mapping = grammed.flatMap(n =>
          gramsByNeedle(n).map(g => (g, n, gramsByNeedle(n).size)))
        val mapDf = spark.createDataFrame(mapping)
          .toDF("gram", "needle", "required")
        val cand = postings.join(broadcast(mapDf), "gram")
          .groupBy(col("needle"), col("required"), col("docId"))
          .agg(count(lit(1)).as("__ng"))
          .where(col("__ng") >= col("required")) // superset-safe, as above
          .select(col("needle"), col("docId"))
        Some(cand.join(base, "docId")
          .where(contains(col("__t"), col("needle")))
          .select(col("needle"), col("docId")))
      }
    val verifiedScanned: Option[DataFrame] =
      if (scanned.isEmpty) None
      else {
        val nd = spark.createDataFrame(scanned.map(Tuple1(_)))
          .toDF("needle")
        Some(base.crossJoin(broadcast(nd))
          .where(contains(col("__t"), col("needle")))
          .select(col("needle"), col("docId")))
      }
    liveOnly(spark, dir,
      (verifiedGrammed.toSeq ++ verifiedScanned.toSeq).reduce(_ union _))
  }

  /** Stored df of exactly these grams (absent grams simply missing),
    * summed driver-side from the routed df shards of every live segment;
    * empty map when the index predates the df table. Tombstoned docs
    * keep their df contributions until [[compact]] — heuristic-only
    * (selection order), never result-affecting.
    */
  private def readGramDfs(spark: SparkSession, dir: String,
      grams: Seq[String], nShards: Int): Map[String, Long] = {
    if (grams.isEmpty) return Map.empty
    val shards = grams.map(g => BlockIndex.shardOf(g, nShards))
      .distinct.sorted
    segDirs(dir).flatMap { seg =>
      val paths = shards.map(sh => s"${dfDir(seg)}/shard=$sh")
        .filter(MetaIO.exists)
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", dfDir(seg))
        .parquet(paths: _*)
        .where(col("gram").isin(grams: _*))
        .select(col("gram"), col("df")))
    }.reduceOption(_ union _)
      .map(_.groupBy(col("gram")).agg(sum(col("df")).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)
  }

  /** Regex (grep) search over an (id, text) relation: prefiltered by
    * the pattern's compiled AND/OR gram condition ([[regexGramQuery]]),
    * full verify scan when the pattern is outside the supported subset
    * or gram-free. Inline postings carry no df table, so AND nodes are
    * kept whole (exactly the compiled necessary condition).
    */
  def regexSearch(docs: DataFrame, idCol: String, textCol: String,
      pattern: String, k: Int = 3): DataFrame = {
    val q = pruneGramQuery(
      regexGramQuery(pattern, k).getOrElse(GramQ.Any), Map.empty)
    regexVerify(docs, idCol, textCol, pattern, q,
      gramPostings(docs, idCol, textCol, k))
  }

  /** [[regexSearch]] against the persisted sharded index: one df probe
    * for the compiled condition's grams, AND nodes pruned to their
    * rarest [[MaxQueryGrams]], then driver-routed shard reads of only
    * the surviving grams' postings.
    */
  def regexSearchIndexed(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String,
      pattern: String): DataFrame = {
    val m = gramMeta(spark, dir)
    val q0 = regexGramQuery(pattern, m.k).getOrElse(GramQ.Any)
    val q = pruneGramQuery(q0,
      readGramDfs(spark, dir, GramQ.gramsOf(q0), m.nShards))
    val sel = GramQ.gramsOf(q)
    liveOnly(spark, dir,
      regexVerify(docs, idCol, textCol, pattern, q,
        indexedPostings(spark, dir, sel, m.nShards)))
  }

  // ---------------------------------------------------------------------
  // Segments (incremental refresh) + tombstone deletes — the same
  // Lucene/LSM model as BlockIndex/PositionalIndex, gram-index-sized:
  // each segment is a complete plain gram index (its _grammeta.json is
  // the commit marker), `_gramsegments.json` is the atomically-replaced
  // commit point, and deletes are the shared tombstone files.
  // ---------------------------------------------------------------------

  val GramSegmentsName = "_gramsegments.json"

  /** Committed state of a segmented root: ordered segment names ("." =
    * the root itself), the uniform k and shard count, and the highest
    * committed docId (the disjointness floor for [[refresh]]).
    */
  final case class GramSegMeta(
      segs: Seq[String], k: Int, nShards: Int, maxDocId: Long)

  def isSegmented(dir: String): Boolean =
    MetaIO.exists(s"$dir/$GramSegmentsName")

  /** True iff `dir` holds a committed gram index (plain or segmented). */
  def exists(dir: String): Boolean =
    MetaIO.exists(metaPath(dir)) || isSegmented(dir)

  private def segDirs(dir: String): Seq[String] =
    if (!isSegmented(dir)) Seq(dir)
    else readSegments(dir).segs.map(s => if (s == ".") dir else s"$dir/$s")

  def readSegments(dir: String): GramSegMeta = {
    val s = MetaIO.readString(s"$dir/$GramSegmentsName")
    val kv = """"(\w+)":(-?\d+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val segs = """"segs":\[([^\]]*)\]""".r.findFirstMatchIn(s).map(_.group(1))
      .getOrElse("").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    GramSegMeta(segs, kv("k").toInt, kv("nShards").toInt, kv("maxDocId"))
  }

  private def writeSegments(dir: String, m: GramSegMeta): Unit = {
    val segsJson = m.segs.map("\"" + _ + "\"").mkString("[", ",", "]")
    MetaIO.writeAtomic(s"$dir/$GramSegmentsName",
      s"""{"k":${m.k},"nShards":${m.nShards},"maxDocId":${m.maxDocId},"nonce":${System.nanoTime()},"segs":$segsJson}"""
        .getBytes("UTF-8"))
  }

  /** Current metadata whether segmented or plain; plain roots read the
    * maxDocId recorded at build completion (pre-maxDocId metas fall back
    * to one column-pruned max scan).
    */
  private def gramMeta(spark: SparkSession, dir: String): GramSegMeta =
    if (isSegmented(dir)) readSegments(dir)
    else {
      val (k, nShards) = readMeta(dir)
      val maxDoc = """"maxDocId":(-?\d+)""".r
        .findFirstMatchIn(MetaIO.readString(metaPath(dir)))
        .map(_.group(1).toLong)
        .getOrElse {
          val paths = (0 until nShards).map(sh => s"$dir/shard=$sh")
            .filter(MetaIO.exists)
          if (paths.isEmpty) -1L
          else spark.read.option("basePath", dir).parquet(paths: _*)
            .agg(max(col("docId"))).head().getLong(0)
        }
      GramSegMeta(Seq("."), k, nShards, maxDoc)
    }

  /** Incrementally add `newDocs`' grams WITHOUT touching committed data:
    * the delta is built as a brand-new complete segment and committed by
    * atomically replacing `_gramsegments.json` — readers see the old
    * index until the commit instant; a kill before it leaves the old
    * index intact and the half-built segment invisible. `newDocs.docId`
    * must exceed the committed maxDocId. A caller-keyed `genName` (e.g.
    * a streaming micro-batch id) makes replay a detectable no-op before
    * any work; the default range name makes a killed refresh rebuild its
    * own directory.
    */
  def refresh(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String, genName: Option[String] = None): GramSegMeta = {
    val spark = newDocs.sparkSession
    val meta = gramMeta(spark, dir)
    genName.map(g => s"gseg-$g").foreach { gen =>
      if (isSegmented(dir) && readSegments(dir).segs.contains(gen))
        return readSegments(dir)
    }
    val b = newDocs.agg(min(col(idCol).cast("long")),
      max(col(idCol).cast("long")), count(lit(1))).head()
    if (b.getLong(2) == 0L) { // empty delta: commit = current state
      if (!isSegmented(dir)) writeSegments(dir, meta)
      return readSegments(dir)
    }
    val (minNew, maxNew) = (b.getLong(0), b.getLong(1))
    val gen = genName.map(g => s"gseg-$g").getOrElse(s"gseg-$minNew-$maxNew")
    if (isSegmented(dir) && readSegments(dir).segs.contains(gen))
      return readSegments(dir)
    require(minNew > meta.maxDocId,
      s"refresh docIds must exceed committed maxDocId=${meta.maxDocId}, got min=$minNew")
    build(newDocs, idCol, textCol, s"$dir/$gen", meta.k, meta.nShards)
    val m = GramSegMeta(meta.segs :+ gen, meta.k, meta.nShards, maxNew)
    writeSegments(dir, m)
    m
  }

  /** Mark documents DELETED without touching committed segment data —
    * the same tombstone files, replay detection, and stale-until-compact
    * semantics as [[BlockIndex.delete]] (implementation shared; only the
    * directory differs). Every indexed query path anti-joins the
    * tombstones; the per-gram df table keeps pre-delete counts until
    * [[compact]] (selection-order heuristic only).
    */
  def delete(ids: DataFrame, dir: String,
      genName: Option[String] = None): BlockIndex.TombMeta =
    BlockIndex.delete(ids, dir, genName)

  private def liveOnly(spark: SparkSession, dir: String,
      rel: DataFrame): DataFrame =
    BlockIndex.readTombMeta(dir).filter(_.gens.nonEmpty).fold(rel) { m =>
      val t = BlockIndex.tombstones(spark, dir).get.distinct()
      rel.join(
          if (m.nIds <= BlockIndex.BroadcastTombCap) broadcast(t) else t,
          Seq("docId"), "left_anti")
        // the using-column join moves docId first; restore rel's order
        .select(rel.columns.map(col).toIndexedSeq: _*)
    }

  /** Fold all committed segments back into ONE — rebuilt from the STORED
    * (gram, docId) rows with tombstoned docs dropped, no re-gramming —
    * then commit the singleton list, clear tombstone state, and sweep
    * unreferenced segment data. Single-writer maintenance op.
    */
  def compact(dir: String): GramSegMeta = {
    val tomb = BlockIndex.readTombMeta(dir).filter(_.gens.nonEmpty)
    require(isSegmented(dir) || tomb.nonEmpty,
      s"$dir is not a segmented gram index and has no tombstones to fold out")
    val spark = SparkSession.active
    val meta = gramMeta(spark, dir)
    if (meta.segs.size == 1 && meta.segs.head != "." && tomb.isEmpty) {
      sweepUnreferenced(dir, meta)
      return meta
    }
    val gen = s"gseg-compact-${meta.maxDocId}-${meta.segs.size}" +
      tomb.fold("")(t => s"-d${t.nIds}")
    val rows0 = segDirs(dir).flatMap { seg =>
      val nSh = readMeta(seg)._2
      val paths = (0 until nSh).map(sh => s"$seg/shard=$sh")
        .filter(MetaIO.exists)
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", seg).parquet(paths: _*)
        .select(col("gram"), col("docId")))
    }.reduceOption(_ union _).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("gram", "docId")
    }
    val rows = liveOnly(spark, dir, rows0)
    buildFromPostings(rows, s"$dir/$gen", meta.k, meta.nShards)
    val m = GramSegMeta(Seq(gen), meta.k, meta.nShards, meta.maxDocId)
    writeSegments(dir, m)
    BlockIndex.clearTombstones(dir)
    sweepUnreferenced(dir, m)
    m
  }

  /** Tiered maintenance for the gram index — the same two triggers and
    * partial-merge semantics as [[BlockIndex.compactTiered]]: tombstones
    * past `tombFraction` of the docId space escalate to the full
    * [[compact]]; a segment count past `maxSegments` folds the
    * `mergeFactor` smallest segments (by on-disk bytes) into one, from
    * their STORED (gram, docId) rows, tombstones untouched. No-op below
    * both.
    */
  def compactTiered(dir: String, maxSegments: Int, mergeFactor: Int = 0,
      tombFraction: Double = 0.2): GramSegMeta = {
    require(maxSegments >= 2, s"maxSegments must be >= 2, got $maxSegments")
    val spark = SparkSession.active
    val meta = gramMeta(spark, dir)
    val tomb = BlockIndex.readTombMeta(dir).filter(_.gens.nonEmpty)
    if (tomb.exists(t => meta.maxDocId >= 0 &&
        t.nIds > tombFraction * (meta.maxDocId + 1)))
      return compact(dir)
    if (!isSegmented(dir) || meta.segs.size <= maxSegments) return meta
    val mf = math.min(
      if (mergeFactor >= 2) mergeFactor else math.max(2, maxSegments / 2),
      meta.segs.size)
    val skipTop = (n: String) => n.startsWith("gseg-") || n.startsWith("tomb-")
    val victims = meta.segs
      .map(s => s -> MetaIO.dirBytes(if (s == ".") dir else s"$dir/$s", skipTop))
      .sortBy { case (s, b) => (b, s) }
      .take(mf).map(_._1)
    val gen = "gseg-tier-" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(victims.mkString("|"))) +
      s"-${victims.size}"
    val rows = victims.map(s => if (s == ".") dir else s"$dir/$s")
      .flatMap { seg =>
        val nSh = readMeta(seg)._2
        val paths = (0 until nSh).map(sh => s"$seg/shard=$sh")
          .filter(MetaIO.exists)
        if (paths.isEmpty) None
        else Some(spark.read.option("basePath", seg).parquet(paths: _*)
          .select(col("gram"), col("docId")))
      }.reduceOption(_ union _).getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("gram", "docId")
      }
    buildFromPostings(rows, s"$dir/$gen", meta.k, meta.nShards)
    val m = GramSegMeta(
      meta.segs.filterNot(victims.contains) :+ gen, meta.k, meta.nShards,
      meta.maxDocId)
    writeSegments(dir, m)
    sweepUnreferenced(dir, m)
    m
  }

  private def sweepUnreferenced(dir: String,
      committed: GramSegMeta): Unit = {
    val referenced = committed.segs.toSet
    MetaIO.list(dir)
      .filter(n => n.startsWith("gseg-") && !referenced.contains(n))
      .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
    if (!referenced.contains(".")) {
      MetaIO.list(dir).filter(_.startsWith("shard="))
        .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
      MetaIO.deleteIfExists(dfDir(dir), recursive = true)
      MetaIO.deleteIfExists(metaPath(dir))
    }
  }
}
