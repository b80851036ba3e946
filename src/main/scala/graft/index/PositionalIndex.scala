package graft.index

import graft.analysis.Analyzer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional postings + phrase queries — the fulltext capability the
  * tf-only inverted index cannot express ("exact phrase" matching needs
  * token ADJACENCY, not just co-occurrence). The reference engine has no
  * positional index; this is a Spark-first extension layered NEXT TO the
  * block index as an independent sidecar artifact, so the compressed
  * block format, segments, refresh and compaction stay untouched.
  *
  * Phrase evaluation is a single-shuffle dataflow, not an m-way join:
  * each posting of phrase term i at position p is a vote for a phrase
  * occurrence starting at p − i; a start that collects all m distinct
  * vote indices is a match. This folds the classic positional-intersect
  * loop (e.g. Manning/Raghavan/Schütze IIR §2.4.2) into
  * union → one exchange on docId → two co-partitioned aggregations,
  * which scales with executors and has no driver-side state.
  *
  * Physical sidecar layout (mirrors the block index's routing so query
  * planning stays driver-local): parquet partitioned by
  * `shard = pmod(xxhash64(term), nShards)`, rows
  * (term, docId, positions array<long> ascending), sorted by (term,
  * docId) within files so parquet row-group stats serve the pushed
  * `In(term, …)` filter. Position lists ride parquet's delta-packed
  * integer encoding — the same gap-compression role varbyte plays for
  * the block index's docId stream.
  */
object PositionalIndex {

  /** Positions of gap between title and body (Lucene's default
    * `positionIncrementGap`). Must exceed the longest supported gapped
    * pattern: [[phraseHitsGapped]] does not re-verify wildcard slots, so
    * a pattern spanning MORE positions than this gap could anchor its
    * ends in different fields and fake a match through the empty slots.
    * Callers of the gapped path enforce the bound
    * ([[phraseSearchGapped]] rejects longer patterns).
    */
  private[index] val FieldGapWidth = 100

  /** (term, docId, pos) over the engine's document model — title tokens
    * then body tokens (the same stream [[IndexBuilder.tokenStream]]
    * indexes, so phrase semantics agree with what the tf index matched),
    * with [[FieldGapWidth]] positions of gap between the fields (the
    * Lucene position-increment-gap idiom): a phrase — contiguous or
    * gapped up to the supported pattern length — must not match across
    * the title→body boundary, where the tokens are not actually adjacent
    * prose. The gap is pure position arithmetic (no sentinel tokens
    * materialize), and the op stays narrow: no shuffle.
    */
  def positionsStream(docs: DataFrame): DataFrame = {
    // the gap is ARITHMETIC, not materialized: body positions start at
    // |title| + FieldGapWidth (bench: exploding 100 filtered sentinel
    // array elements per doc cost the positional build family ~30%)
    val titleRows = docs.select(col("docId"),
        posexplode(Analyzer.tokensCol(col("title"))).as(Seq("pos", "term")))
      .select(col("term"), col("docId"), col("pos").cast("long").as("pos"))
    val bodyRows = docs.select(col("docId"),
        (size(Analyzer.tokensCol(col("title"))) + FieldGapWidth).as("__off"),
        posexplode(Analyzer.tokensCol(col("body"))).as(Seq("p0", "term")))
      .select(col("term"), col("docId"),
        (col("p0") + col("__off")).cast("long").as("pos"))
    titleRows.unionAll(bodyRows)
  }

  /** Positions over an arbitrary (id, text) relation — the pipeline-side
    * twin of [[positionsStream]] for tables without the document model.
    */
  def textPositions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("docId"),
        posexplode(Analyzer.tokensCol(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col("docId"), col("pos").cast("long").as("pos"))

  /** Documents containing `phrase` contiguously, with the number of
    * occurrences: (docId, phrase_tf). Overlapping occurrences count
    * ("a a" occurs twice in "a a a"), matching position arithmetic
    * rather than substring search. A repeated term in the phrase is
    * handled by the distinct-vote count (its postings vote at every i
    * where it appears). Empty phrase ⇒ empty result.
    *
    * Shape at scale: broadcast the m-row phrase pattern, ONE exchange of
    * the matched postings on docId; both aggregations (per-start vote
    * count, per-doc occurrence count) then run co-partitioned with no
    * further shuffle.
    */
  def phraseHits(positions: DataFrame, phrase: Seq[String]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    if (phrase.isEmpty)
      return Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    val pattern = phrase.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "term")
    positions
      .join(broadcast(pattern), "term")
      .select(col("docId"), (col("pos") - col("i")).as("start"), col("i"))
      .repartition(col("docId"))
      .groupBy(col("docId"), col("start"))
      .agg(countDistinct(col("i")).as("nhit"))
      .where(col("nhit") === phrase.size)
      .groupBy(col("docId"))
      .agg(count(lit(1)).as("phrase_tf"))
  }

  /** Gapped exact phrase (Lucene MultiPhraseQuery position-increment
    * semantics): `pattern` positions holding `None` are single-token
    * wildcards — "spark * join" matches spark at i and join at i+2,
    * whatever sits between. Same vote dataflow as [[phraseHits]], with
    * votes cast only by the ANCHOR terms and the hit bar at the anchor
    * count. Gap positions are not re-verified against the token stream:
    * interior positions of a field are contiguous by construction, and
    * the title→body field gap spans [[FieldGapWidth]] empty positions —
    * wider than any pattern the callers accept — so a cross-field
    * alignment cannot fake a match through the gap. Leading/trailing
    * wildcards are the caller's to trim — they constrain nothing here
    * (a leading gap aligned before the first token would otherwise
    * admit a doc with no token in that slot).
    */
  def phraseHitsGapped(positions: DataFrame,
      pattern: Seq[Option[String]]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    val anchors = pattern.zipWithIndex.collect { case (Some(t), i) => (i, t) }
    if (anchors.isEmpty)
      return Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    val pat = anchors.toDF("i", "term")
    positions
      .join(broadcast(pat), "term")
      .select(col("docId"), (col("pos") - col("i")).as("start"), col("i"))
      .repartition(col("docId"))
      .groupBy(col("docId"), col("start"))
      .agg(countDistinct(col("i")).as("nhit"))
      .where(col("nhit") === anchors.size)
      .groupBy(col("docId"))
      .agg(count(lit(1)).as("phrase_tf"))
  }

  /** Top-k gapped phrase search against a persisted sidecar: the query
    * string tokenized with the WILDCARD analyzer (`*` survives as the
    * single-token gap marker), edge gaps trimmed, anchors scanned
    * through the shard-routed unigram path (the nextword accelerator is
    * bigram-keyed and cannot answer gapped patterns — deliberately not
    * consulted). Output: (docId, phrase_tf), (tf desc, docId) order.
    */
  def phraseSearchGapped(spark: SparkSession, dir: String, phrase: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val raw = Analyzer.tokenizeWildcard(phrase)
      .map(t => if (t == "*") None else Some(t))
    val pattern = raw.dropWhile(_.isEmpty).reverse.dropWhile(_.isEmpty)
      .reverse
    require(pattern.size <= FieldGapWidth,
      s"gapped pattern spans ${pattern.size} positions; max $FieldGapWidth " +
        "(the title/body position-increment gap soundness bound)")
    val empty = Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    val anchors = pattern.flatten
    if (anchors.isEmpty) return empty
    queryPositions(spark, dir, anchors)
      .fold(empty)(p => phraseHitsGapped(p, pattern)
        .orderBy(col("phrase_tf").desc, col("docId").asc).limit(k))
  }

  /** Proximity ranking: the smallest position window containing ALL the
    * (distinct) query terms, per document — the classic minimal-cover
    * primitive behind "sloppy phrase" / proximity-boosted retrieval
    * (IIR §2.4; an adjacent pair scores span 2, scattered terms score
    * wide). Pure window dataflow: sort each document's matching
    * positions; at every occurrence, the best cover ENDING there spans
    * from the latest prior position of each term (a running
    * conditional max per term) to the current position; the document's
    * score is the minimum over its occurrences. One column per distinct
    * query term — queries are a handful of terms, so the width is
    * bounded — and the window partitions by docId whose row count is
    * bounded by document length, so no skew hazard.
    *
    * Output: (docId, min_span), only documents containing every term;
    * min_span = 1 for a single-term query.
    */
  def proximityHits(positions: DataFrame, terms: Seq[String]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    if (terms.distinct.isEmpty)
      return Seq.empty[(Long, Long)].toDF("docId", "min_span")
    coverSpans(positions, terms.distinct)
      .groupBy(col("docId")).agg(min(col("__span")).as("min_span"))
  }

  /** Per matching occurrence, the tightest cover ENDING at it:
    * (docId, pos, __span) — the shared core of [[proximityHits]] and
    * [[bestWindows]]. `distinctTerms` must be non-empty and distinct.
    */
  private def coverSpans(positions: DataFrame,
      distinctTerms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("docId")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastCols = distinctTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("pos"))).over(w).as(s"__last$i")
    }
    val idx = distinctTerms.indices
    positions.where(col("term").isin(distinctTerms: _*))
      .select(Seq(col("docId"), col("pos")) ++ lastCols: _*)
      .where(idx.map(i => col(s"__last$i").isNotNull).reduce(_ && _))
      .select(col("docId"), col("pos"),
        (col("pos") - (if (idx.size == 1) col("__last0")
                       else least(idx.map(i => col(s"__last$i")): _*)) + 1)
          .as("__span"))
  }

  /** The single best (tightest; ties → earliest) covering window per
    * document: (docId, win_start, win_end), position-inclusive. This is
    * the anchor for result snippets — deterministic, so the serving
    * layer and the SQL oracle agree on WHICH window gets rendered.
    */
  def bestWindows(positions: DataFrame, terms: Seq[String]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    val distinctTerms = terms.distinct
    if (distinctTerms.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("docId", "win_start", "win_end")
    coverSpans(positions, distinctTerms)
      .groupBy(col("docId"))
      .agg(min(struct(col("__span"), col("pos"))).as("__best"))
      .select(col("docId"),
        (col("__best.pos") - col("__best.__span") + 1).as("win_start"),
        col("__best.pos").as("win_end"))
  }

  /** KWIC snippets: for every document containing ALL query terms, the
    * tokens of its best covering window (see [[bestWindows]]) expanded by
    * `ctx` tokens of context either side, query terms bracketed
    * (`[term]`) — the search-result preview a SERP renders under each
    * hit. Token-level by design: the snippet is the analyzer's view of
    * the document (lowercased terms), so what is highlighted is exactly
    * what matched.
    *
    * Shape at scale: one token-position stream feeds both the window
    * search and the render join, co-partitioned on docId; the window
    * relation is one row per matching doc. Clamping at the document tail
    * is implicit (positions past the end simply don't exist). Output:
    * (docId, snippet).
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], ctx: Int = 2): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val distinctTerms = terms.distinct
    if (distinctTerms.isEmpty)
      return Seq.empty[(Long, String)].toDF("docId", "snippet")
    val toks = textPositions(docs, idCol, textCol)
    val marked = when(col("term").isin(distinctTerms: _*),
        concat(lit("["), col("term"), lit("]")))
      .otherwise(col("term")).as("word")
    toks.join(bestWindows(toks, distinctTerms), "docId")
      .where(col("pos").between(
        col("win_start") - ctx, col("win_end") + ctx))
      .select(col("docId"), col("pos"), marked)
      .groupBy(col("docId"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")),
        " ").as("snippet"))
  }

  /** Serving-layer previews over MODEL-FORM documents (docId, title,
    * body), computed on the driver: a results page holds ≤ 5 documents,
    * so rendering them locally costs microseconds where a DataFrame
    * render costs several Spark jobs. Every input doc gets a snippet, by
    * a three-step fallback — the best covering window when the doc
    * contains ALL query terms (the [[bestWindows]] rule: tightest, ties
    * → earliest); else the FIRST occurrence of any query term (a
    * BM25/fuzzy hit need not contain every term, but a snippet should
    * still show what matched); else the document's LEAD tokens. The
    * window is widened by `ctx` positions either side and query terms
    * inside it are bracketed, as in [[snippets]]. Positions are those of
    * [[positionsStream]]: title tokens from 0, body tokens from |title| +
    * [[FieldGapWidth]], so a window's context never leaks across the
    * field gap. The gated [[snippets]] op is deliberately partial
    * (all-terms docs only); this is its total serving twin. Token-free
    * docs get no entry (render as no preview). Output: docId → snippet.
    */
  def previewSnippets(docs: Seq[(Long, String, String)], terms: Seq[String],
      ctx: Int = 2): Map[Long, String] = {
    val distinctTerms = terms.distinct.toIndexedSeq
    docs.flatMap { case (id, title, body) =>
      preview(title, body, distinctTerms, ctx).map(id -> _)
    }.toMap
  }

  /** One document's preview (see [[previewSnippets]]). */
  private def preview(title: String, body: String,
      distinctTerms: IndexedSeq[String], ctx: Int): Option[String] = {
    // the same scanner as the TokensExpr column positionsStream uses;
    // a null field tokenizes to nothing
    val t = Analyzer.tokenizeFast(title)
    val toks = (t.iterator.zipWithIndex.map { case (w, i) => (i.toLong, w) } ++
      Analyzer.tokenizeFast(body).iterator.zipWithIndex.map { case (w, j) =>
        (t.size + FieldGapWidth + j.toLong, w)
      }).toIndexedSeq
    if (toks.isEmpty) return None
    val termIdx = distinctTerms.zipWithIndex.toMap
    // tightest cover ending at each matching occurrence: from the latest
    // prior position of every term to here (the coverSpans rule)
    val last = Array.fill(distinctTerms.size)(-1L)
    var best: Option[(Long, Long)] = None
    for ((p, w) <- toks; i <- termIdx.get(w)) {
      last(i) = p
      if (last.forall(_ >= 0)) {
        val start = last.min
        if (best.forall { case (s, e) => p - start < e - s }) best = Some((start, p))
      }
    }
    val (winStart, winEnd) = best
      .orElse(toks.collectFirst { case (p, w) if termIdx.contains(w) => (p, p) })
      .getOrElse((toks.head._1, toks.head._1))
    Some(toks.iterator
      .filter { case (p, _) => p >= winStart - ctx && p <= winEnd + ctx }
      .map { case (_, w) => if (termIdx.contains(w)) s"[$w]" else w }
      .mkString(" "))
  }

  // ---------------------------------------------------------------------
  // Persisted sidecar
  // ---------------------------------------------------------------------

  private def metaPath(dir: String) = s"$dir/_posmeta.json"

  /** The per-term document-frequency table (vocab-sized, same shard
    * routing as the postings) — [[phraseSearch]]'s selectivity probe
    * reads a handful of its rows with a pushed `In(term)` instead of
    * counting posting rows per query.
    */
  private def dfStatsDir(dir: String) = s"$dir/dfstats"

  /** Build the positional sidecar for a model-form corpus. One shuffle
    * (the (term, docId) position aggregation); the shard repartition
    * rides the same exchange count because the write clusters by the
    * derived shard column before `partitionBy`, giving one file per
    * (shard, write-task) instead of nShards files per task. The df table
    * derives from a read-back of the written postings column-pruned to
    * `term` — it never touches the positions payload.
    *
    * Crash discipline: the build deletes the target first and writes
    * `_posmeta.json` LAST, so the metadata file is the commit marker — a
    * killed build leaves a directory that [[phraseSearch]] REFUSES
    * loudly (readNShards throws on the missing marker) and the next
    * build() heals by starting clean.
    */
  def build(docs: DataFrame, dir: String, nShards: Int = 8): Unit =
    buildFromRows(
      positionsStream(docs)
        .groupBy(col("term"), col("docId"))
        .agg(sort_array(collect_list(col("pos"))).as("positions")),
      dir, nShards)

  /** The write half of [[build]] over already-aggregated
    * (term, docId, positions) rows — also the engine of [[compact]],
    * which re-segments WITHOUT re-tokenizing. The read-back that derives
    * the df table also supplies the segment's maxDocId (recorded in the
    * meta commit marker — [[refresh]]'s disjointness floor) from
    * column-pruned scans of the written postings.
    */
  private def buildFromRows(rows: DataFrame, dir: String,
      nShards: Int): Unit = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    MetaIO.deleteIfExists(dir, recursive = true)
    rows
      .withColumn("shard",
        pmod(xxhash64(col("term")), lit(nShards.toLong)).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("term"), col("docId"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    val spark = rows.sparkSession
    val shardPaths = (0 until nShards).map(s => s"$dir/shard=$s")
      .filter(MetaIO.exists)
    val maxDocId =
      if (shardPaths.isEmpty) -1L
      else {
        val back = spark.read.option("basePath", dir).parquet(shardPaths: _*)
        back.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .withColumn("shard",
            pmod(xxhash64(col("term")), lit(nShards.toLong)).cast("int"))
          .repartition(col("shard"))
          .sortWithinPartitions(col("term"))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(dfStatsDir(dir))
        back.agg(max(col("docId"))).head().getLong(0)
      }
    MetaIO.writeAtomic(metaPath(dir),
      s"""{"nShards":$nShards,"maxDocId":$maxDocId}""".getBytes("UTF-8"))
  }

  def readNShards(dir: String): Int = {
    val s = MetaIO.readString(metaPath(dir))
    """"nShards"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"malformed ${metaPath(dir)}: $s"))
  }

  // ---------------------------------------------------------------------
  // Segments: incremental refresh without re-tokenizing the committed
  // corpus (the same Lucene/LSM segment model as BlockIndex, sidecar-
  // sized: each segment is a complete plain sidecar; `_possegments.json`
  // is the atomically-replaced commit point)
  // ---------------------------------------------------------------------

  val PosSegmentsName = "_possegments.json"

  /** Committed state of a segmented sidecar root: ordered segment
    * directory names (`"."` = the root itself — the in-place conversion
    * of a plain sidecar), the uniform shard count, and the highest
    * committed docId (the floor for the next refresh — segments must
    * partition the corpus by docId range so a doc's positions live in
    * exactly one segment).
    */
  final case class PosSegmentsMeta(
      segs: Seq[String], nShards: Int, maxDocId: Long)

  def isSegmented(dir: String): Boolean =
    MetaIO.exists(s"$dir/$PosSegmentsName")

  /** True iff `dir` holds a committed sidecar (plain or segmented). */
  def exists(dir: String): Boolean =
    MetaIO.exists(metaPath(dir)) || isSegmented(dir)

  private def segDirs(dir: String): Seq[String] =
    if (!isSegmented(dir)) Seq(dir)
    else readSegments(dir).segs.map(s => if (s == ".") dir else s"$dir/$s")

  def readSegments(dir: String): PosSegmentsMeta = {
    val s = MetaIO.readString(s"$dir/$PosSegmentsName")
    val kv = """"(\w+)":(-?\d+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val segs = """"segs":\[([^\]]*)\]""".r.findFirstMatchIn(s).map(_.group(1))
      .getOrElse("").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    PosSegmentsMeta(segs, kv("nShards").toInt, kv("maxDocId"))
  }

  private def writeSegments(dir: String, m: PosSegmentsMeta): Unit = {
    val segsJson = m.segs.map("\"" + _ + "\"").mkString("[", ",", "]")
    MetaIO.writeAtomic(s"$dir/$PosSegmentsName",
      s"""{"nShards":${m.nShards},"maxDocId":${m.maxDocId},"nonce":${System.nanoTime()},"segs":$segsJson}"""
        .getBytes("UTF-8"))
  }

  /** Current metadata whether segmented or plain; plain sidecars read
    * the maxDocId recorded at build completion (pre-maxDocId metas fall
    * back to one column-pruned max scan).
    */
  private def segMeta(spark: SparkSession, dir: String): PosSegmentsMeta =
    if (isSegmented(dir)) readSegments(dir)
    else {
      val nShards = readNShards(dir)
      val maxDoc = """"maxDocId":(-?\d+)""".r
        .findFirstMatchIn(MetaIO.readString(metaPath(dir)))
        .map(_.group(1).toLong)
        .getOrElse {
          val paths = (0 until nShards).map(s => s"$dir/shard=$s")
            .filter(MetaIO.exists)
          if (paths.isEmpty) -1L
          else spark.read.option("basePath", dir).parquet(paths: _*)
            .agg(max(col("docId"))).head().getLong(0)
        }
      PosSegmentsMeta(Seq("."), nShards, maxDoc)
    }

  /** Incrementally add `newDocs`' positions WITHOUT touching committed
    * data: the delta is tokenized and built as a brand-new immutable
    * segment (reusing [[build]], whose meta file is its commit marker),
    * then committed by atomically replacing `_possegments.json`. Readers
    * see the old sidecar until the commit instant; a kill before it
    * leaves the old sidecar intact and the half-built segment invisible.
    *
    * `newDocs.docId` must all exceed the committed maxDocId (checked
    * with one tiny aggregation). A caller-keyed `genName` (e.g. a
    * streaming micro-batch id) makes replay a detectable no-op before
    * any work, as in [[BlockIndex.refresh]]; the default name is the
    * delta's docId range, so re-running the same refresh after a kill
    * rebuilds the same directory and an abandoned different delta gets
    * a fresh one.
    */
  def refresh(newDocs: DataFrame, dir: String,
      genName: Option[String] = None): PosSegmentsMeta = {
    val spark = newDocs.sparkSession
    val meta = segMeta(spark, dir)
    genName.map(g => s"pseg-$g").foreach { gen =>
      if (isSegmented(dir) && readSegments(dir).segs.contains(gen))
        return readSegments(dir)
    }
    val bounds = newDocs.agg(
      min(col("docId")), max(col("docId")), count(lit(1))).head()
    if (bounds.getLong(2) == 0L) { // empty delta: commit = current state
      if (!isSegmented(dir)) writeSegments(dir, meta)
      return readSegments(dir)
    }
    val (minNew, maxNew) = (bounds.getLong(0), bounds.getLong(1))
    val gen = genName.map(g => s"pseg-$g").getOrElse(s"pseg-$minNew-$maxNew")
    if (isSegmented(dir) && readSegments(dir).segs.contains(gen))
      return readSegments(dir)
    require(minNew > meta.maxDocId,
      s"refresh docIds must exceed committed maxDocId=${meta.maxDocId}, got min=$minNew")
    build(newDocs, s"$dir/$gen", meta.nShards)
    val m = PosSegmentsMeta(meta.segs :+ gen, meta.nShards, maxNew)
    writeSegments(dir, m)
    m
  }

  /** Fold all committed segments back into ONE — built from the stored
    * (term, docId, positions) rows, no re-tokenization — then commit the
    * singleton list and sweep unreferenced segment data (including any
    * leftovers of an earlier kill between commit and cleanup). Single-
    * writer maintenance op, like [[BlockIndex.compact]].
    */
  def compact(dir: String): PosSegmentsMeta = {
    val tomb = BlockIndex.readTombMeta(dir).filter(_.gens.nonEmpty)
    require(isSegmented(dir) || tomb.nonEmpty,
      s"$dir is not a segmented positional sidecar and has no tombstones" +
        " to fold out")
    val spark = SparkSession.active
    val meta = segMeta(spark, dir)
    if (meta.segs.size == 1 && meta.segs.head != "." && tomb.isEmpty) {
      sweepUnreferenced(dir, meta)
      return meta
    }
    // named by corpus identity (append-only ⇒ (maxDocId, segment count)
    // pins the fold; the committed tombstone row count pins the delete
    // set on top): a killed compaction re-runs its own directory
    val gen = s"pseg-compact-${meta.maxDocId}-${meta.segs.size}" +
      tomb.fold("")(t => s"-d${t.nIds}")
    val rows0 = segDirs(dir).flatMap { seg =>
      val paths = (0 until readNShards(seg)).map(s => s"$seg/shard=$s")
        .filter(MetaIO.exists)
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", seg).parquet(paths: _*)
        .select(col("term"), col("docId"), col("positions")))
    }.reduceOption(_ union _).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, Seq[Long])].toDF("term", "docId", "positions")
    }
    // physical reclaim of deleted docs' positions — like
    // [[BlockIndex.compact]], a kill between the commit below and
    // clearTombstones re-runs the (then no-op) fold: wasteful once,
    // never wrong
    val rows = tomb.fold(rows0)(_ => antiJoinTombstones(spark, dir, rows0))
    buildFromRows(rows, s"$dir/$gen", meta.nShards)
    val m = PosSegmentsMeta(Seq(gen), meta.nShards, meta.maxDocId)
    writeSegments(dir, m)
    BlockIndex.clearTombstones(dir)
    sweepUnreferenced(dir, m)
    m
  }

  /** Tiered maintenance for the sidecar — the same two triggers and
    * partial-merge semantics as [[BlockIndex.compactTiered]]: tombstones
    * past `tombFraction` of the docId space escalate to the full
    * [[compact]]; a segment count past `maxSegments` folds the
    * `mergeFactor` smallest segments (by on-disk bytes) into one, from
    * their STORED rows, tombstones untouched. No-op below both.
    */
  def compactTiered(dir: String, maxSegments: Int, mergeFactor: Int = 0,
      tombFraction: Double = 0.2): PosSegmentsMeta = {
    require(maxSegments >= 2, s"maxSegments must be >= 2, got $maxSegments")
    val spark = SparkSession.active
    val meta = segMeta(spark, dir)
    val tomb = BlockIndex.readTombMeta(dir).filter(_.gens.nonEmpty)
    if (tomb.exists(t => meta.maxDocId >= 0 &&
        t.nIds > tombFraction * (meta.maxDocId + 1)))
      return compact(dir)
    if (!isSegmented(dir) || meta.segs.size <= maxSegments) return meta
    val mf = math.min(
      if (mergeFactor >= 2) mergeFactor else math.max(2, maxSegments / 2),
      meta.segs.size)
    val skipTop = (n: String) => n.startsWith("pseg-") ||
      n.startsWith("tomb-") || n == "nextword" // accelerator ≠ data bytes
    val victims = meta.segs
      .map(s => s -> MetaIO.dirBytes(if (s == ".") dir else s"$dir/$s", skipTop))
      .sortBy { case (s, b) => (b, s) }
      .take(mf).map(_._1)
    val gen = "pseg-tier-" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(victims.mkString("|"))) +
      s"-${victims.size}"
    val rows = victims.map(s => if (s == ".") dir else s"$dir/$s")
      .flatMap { seg =>
        val paths = (0 until readNShards(seg)).map(s => s"$seg/shard=$s")
          .filter(MetaIO.exists)
        if (paths.isEmpty) None
        else Some(spark.read.option("basePath", seg).parquet(paths: _*)
          .select(col("term"), col("docId"), col("positions")))
      }.reduceOption(_ union _).getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long, Seq[Long])].toDF("term", "docId", "positions")
      }
    buildFromRows(rows, s"$dir/$gen", meta.nShards)
    val m = PosSegmentsMeta(
      meta.segs.filterNot(victims.contains) :+ gen, meta.nShards, meta.maxDocId)
    writeSegments(dir, m)
    sweepUnreferenced(dir, m)
    m
  }

  /** Mark documents DELETED in the sidecar without touching committed
    * segment data — the same tombstone files, replay detection, and
    * Lucene stale-until-compact semantics as [[BlockIndex.delete]] (the
    * implementation is shared; only the directory differs). The sidecar
    * lives in its own directory, so deletes are per-structure: run the
    * same delete against the block index dir AND the sidecar dir.
    * [[phraseSearch]]/[[proximitySearch]] anti-join the tombstones;
    * the df selectivity probe keeps pre-delete counts until [[compact]]
    * folds the deletes out physically (heuristic-only, never affects
    * which docs are returned).
    */
  def delete(ids: DataFrame, dir: String,
      genName: Option[String] = None): BlockIndex.TombMeta =
    BlockIndex.delete(ids, dir, genName)

  /** Filter position rows down to live (untombstoned) docs; identity
    * when no delete was ever committed.
    */
  private def antiJoinTombstones(spark: SparkSession, dir: String,
      rows: DataFrame): DataFrame =
    BlockIndex.readTombMeta(dir).filter(_.gens.nonEmpty).fold(rows) { m =>
      val t = BlockIndex.tombstones(spark, dir).get.distinct()
      rows.join(
        if (m.nIds <= BlockIndex.BroadcastTombCap) broadcast(t) else t,
        Seq("docId"), "left_anti")
    }

  private def sweepUnreferenced(dir: String,
      committed: PosSegmentsMeta): Unit = {
    val referenced = committed.segs.toSet
    MetaIO.list(dir)
      .filter(n => n.startsWith("pseg-") && !referenced.contains(n))
      .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
    if (!referenced.contains(".")) {
      MetaIO.list(dir).filter(_.startsWith("shard="))
        .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
      MetaIO.deleteIfExists(dfStatsDir(dir), recursive = true)
      MetaIO.deleteIfExists(nextwordDir(dir), recursive = true)
      MetaIO.deleteIfExists(metaPath(dir))
    }
  }

  /** Every phrase match lies in the rarest term's document set, so when
    * term selectivities are skewed (a tail identifier next to stop-word-
    * grade keywords — the common code-search phrase), semi-joining the
    * scan on that set BEFORE positions explode keeps the head terms'
    * position streams off the shuffle entirely. The probe costs one
    * row-count job over the term-filtered scan (positions column
    * pruned), so it only runs when it can pay: dfs within `SkewRatio`
    * of each other skip it. Broadcast under `BroadcastDf` candidate
    * docs, shuffle semi-join above.
    */
  private val SkewRatio = 8L
  private val BroadcastDf = 500000L

  /** Top-k phrase search against a persisted sidecar: driver-local shard
    * routing (no job) → pushed `In(term, …)` over only the phrase terms'
    * shard directories → rarest-term semi-join when selectivities are
    * skewed (see above) → [[phraseHits]] → TakeOrdered top-k by
    * (phrase_tf desc, docId asc). Output: (docId, phrase_tf).
    */
  /** Shard-routed, term-filtered position rows of ONE plain sidecar
    * (a root or a segment) plus its per-term dfs — the df probe reads a
    * few pushed-In(term) rows of the vocab-sized df table when the
    * sidecar has one, else counts posting rows (compat).
    */
  private def segScan(spark: SparkSession, dir: String,
      qTerms: Seq[String]): Option[(DataFrame, Map[String, Long])] = {
    val nShards = readNShards(dir)
    val shards = qTerms.map(BlockIndex.shardOf(_, nShards)).distinct.sorted
    val paths = shards.map(s => s"$dir/shard=$s").filter(MetaIO.exists)
    if (paths.isEmpty) return None
    val rows = spark.read.option("basePath", dir).parquet(paths: _*)
      .where(col("term").isin(qTerms: _*))
      .select(col("term"), col("docId"), col("positions"))
    val statsPaths = shards.map(s => s"${dfStatsDir(dir)}/shard=$s")
      .filter(MetaIO.exists)
    val dfs =
      (if (statsPaths.nonEmpty)
        spark.read.option("basePath", dfStatsDir(dir)).parquet(statsPaths: _*)
          .where(col("term").isin(qTerms: _*))
          .select(col("term"), col("df"))
      else rows.groupBy(col("term")).agg(count(lit(1)).as("df")))
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    Some((rows, dfs))
  }

  /** Shard-routed, term-filtered, rarest-term-prefiltered position rows
    * of a persisted sidecar (plain or segmented — segments' scans union;
    * dfs sum across segments) for a query's terms — the shared scan
    * under [[phraseSearch]] and [[proximitySearch]]. None ⇔ some query
    * term has no postings anywhere (no result can exist).
    */
  private def queryPositions(spark: SparkSession, dir: String,
      terms: Seq[String]): Option[DataFrame] =
    positionsOver(spark, dir, segDirs(dir), terms)

  /** The scan core shared by the unigram and nextword paths: union the
    * shard-routed, token-filtered scans of `scanDirs`, anti-join the ROOT
    * sidecar's tombstones, and semi-join on the rarest token's documents
    * when selectivities are skewed. None ⇔ some query token has no
    * postings in ANY of `scanDirs` (or `scanDirs` is empty).
    */
  private def positionsOver(spark: SparkSession, rootDir: String,
      scanDirs: Seq[String], tokens: Seq[String]): Option[DataFrame] = {
    val qTerms = tokens.distinct
    val perSeg = scanDirs.flatMap(seg => segScan(spark, seg, qTerms))
    if (perSeg.isEmpty) return None
    val dfs = perSeg.flatMap(_._2.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    if (qTerms.exists(t => dfs.getOrElse(t, 0L) == 0L)) return None
    // tombstoned docs vanish before any matching; the df probe above
    // keeps stale (pre-delete) counts until compact — heuristic-only
    val rows = antiJoinTombstones(spark, rootDir,
      perSeg.map(_._1).reduce(_ union _))
    val (rareTerm, rareDf) = dfs.minBy(_._2)
    val filtered =
      if (dfs.values.max / math.max(rareDf, 1L) < SkewRatio) rows
      else {
        val cand = rows.where(col("term") === rareTerm).select(col("docId"))
        val candSide = if (rareDf <= BroadcastDf) broadcast(cand) else cand
        rows.join(candSide, Seq("docId"), "leftsemi")
      }
    Some(filtered
      .select(col("term"), col("docId"), explode(col("positions")).as("pos")))
  }

  def phraseSearch(spark: SparkSession, dir: String, phrase: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val terms = Analyzer.tokenize(phrase)
    val empty = Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    if (terms.isEmpty) return empty
    def rank(hits: DataFrame): DataFrame =
      hits.orderBy(col("phrase_tf").desc, col("docId").asc).limit(k)
    if (terms.size >= 2) {
      val (armed, plain) = segDirs(dir).partition(hasNextword)
      if (armed.nonEmpty) {
        // segments partition the corpus by docId, so evaluating armed
        // segments through bigram postings and unarmed ones through the
        // unigram path and UNIONING the per-doc counts is exact
        val grams = terms.sliding(2).map(_.mkString(" ")).toVector
        val parts =
          positionsOver(spark, dir, armed.map(nextwordDir), grams)
            .map(phraseHits(_, grams)).toSeq ++
          positionsOver(spark, dir, plain, terms)
            .map(phraseHits(_, terms)).toSeq
        return parts.reduceOption(_ unionByName _).fold(empty)(rank)
      }
    }
    queryPositions(spark, dir, terms).fold(empty)(p => rank(phraseHits(p, terms)))
  }

  // ---------------------------------------------------------------------
  // Nextword accelerator (Williams, Zobel & Bahle 2004, "Fast phrase
  // querying with combined indexes"): an auxiliary postings structure
  // over ADJACENT TERM PAIRS. A head-head phrase ("def val", both terms
  // in ~every document) is the sidecar's worst regime — the rarest-term
  // semi-join cannot prune, so the unigram path explodes both full
  // position streams. The pair's document frequency is typically orders
  // of magnitude below either unigram's, so scanning bigram postings
  // instead bounds the evaluated rows by the PHRASE's selectivity, not
  // the terms'. An n-term phrase needs only its n−1 adjacent pairs: a
  // start s is a match iff pair i occurs at s+i for all i — the same
  // vote dataflow as [[phraseHits]], with grams as the pattern tokens.
  //
  // Lifecycle: DERIVED data, built PER SEGMENT from that segment's
  // STORED rows (no re-tokenization, no access to the original corpus —
  // field-gap and tombstone discipline carry over because adjacency and
  // docIds are reconstructed from the committed positions themselves).
  // Segments are immutable, so a segment's nextword can never go stale:
  // [[buildNextword]] arms whichever committed segments lack one (after
  // a refresh that is exactly the DELTA segment — incremental
  // maintenance, not a corpus rebuild), and [[phraseSearch]] evaluates
  // armed segments through bigram postings, unarmed ones through the
  // unigram path, and unions the per-doc counts — exact, because
  // segments partition the corpus by docId. Compaction folds segments
  // into a fresh one (initially unarmed → unigram until re-armed); its
  // sweep removes orphaned accelerators with their segments. Deletes
  // need no re-arm: tombstones anti-join at query time on both paths.
  // ---------------------------------------------------------------------

  private def nextwordDir(seg: String) = s"$seg/nextword"

  private def hasNextword(seg: String): Boolean =
    MetaIO.exists(metaPath(nextwordDir(seg)))

  /** Arm every committed segment that lacks its nextword accelerator.
    * Idempotent and incremental: armed segments are skipped, so after a
    * refresh this builds only the delta segment's pairs. A kill mid-build
    * leaves that segment's accelerator uncommitted (buildFromRows writes
    * its meta marker last) — the segment stays on the unigram path and
    * the next call heals it.
    *
    * Shape at scale (per segment): one exchange groups the exploded
    * (docId, pos, term) stream per document (bounded rows per group —
    * document length; a docId lives in exactly ONE segment, so the group
    * is complete); adjacent pairs form ARRAY-LOCALLY over the sorted
    * (pos, term) structs; two more exchanges aggregate per-(gram, doc)
    * position lists and cluster by shard for the partitioned write — the
    * same write path, shard routing, df table and commit-marker
    * discipline as the sidecar itself ([[buildFromRows]] with grams as
    * the term column). Position gaps (the title→body field gap,
    * tombstone-swept holes) break adjacency naturally: a pair exists
    * only where pos(next) = pos(prev) + 1.
    */
  def buildNextword(dir: String): Unit = {
    val spark = SparkSession.active
    segDirs(dir).filterNot(hasNextword).foreach { seg =>
      val nShards = readNShards(seg)
      val paths = (0 until nShards).map(s => s"$seg/shard=$s")
        .filter(MetaIO.exists)
      val rows =
        if (paths.isEmpty) {
          import spark.implicits._
          Seq.empty[(String, Long, Seq[Long])].toDF("term", "docId", "positions")
        } else spark.read.option("basePath", seg).parquet(paths: _*)
          .select(col("term"), col("docId"), col("positions"))
      buildFromRows(pairRows(rows), nextwordDir(seg), nShards)
    }
  }

  /** (gram, docId, positions-of-first-token) rows derived from stored
    * unigram position rows — the relation [[buildNextword]] persists.
    */
  private def pairRows(rows: DataFrame): DataFrame = {
    val perDoc = rows
      .select(col("docId"), col("term"), explode(col("positions")).as("pos"))
      .groupBy(col("docId"))
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
        .as("tp"))
    perDoc.select(col("docId"),
      explode(filter(
        zip_with(
          slice(col("tp"), lit(1), greatest(size(col("tp")) - 1, lit(0))),
          slice(col("tp"), lit(2), greatest(size(col("tp")) - 1, lit(0))),
          (a, b) => when(b.getField("pos") === a.getField("pos") + 1,
            struct(a.getField("pos").as("pos"),
              concat(a.getField("term"), lit(" "), b.getField("term"))
                .as("gram")))),
        p => p.isNotNull)).as("pg"))
      .select(col("pg.gram").as("term"), col("docId"), col("pg.pos").as("pos"))
      .groupBy(col("term"), col("docId"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
  }

  /** Phrase autocomplete from the nextword accelerator: the top-k
    * next-word continuations of `prev`'s LAST token, ranked by bigram
    * DOCUMENT frequency (df desc, term asc — typeahead's rule at bigram
    * granularity). Reads ONLY the armed segments' bigram df-stats
    * tables — one row per distinct bigram, metadata-scale; postings are
    * never touched — so a suggestion probe costs a stats scan, not an
    * index query. Unarmed segments contribute nothing (callers wanting
    * full coverage run [[buildNextword]] first; [[nextwordFresh]]
    * probes). Like typeahead, tombstoned docs still count: df is a
    * ranking signal, refreshed by compaction.
    */
  def nextwordSuggest(spark: SparkSession, dir: String, prev: String,
      k: Int): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val empty = Seq.empty[(String, Long)].toDF("next_term", "df")
    graft.analysis.Analyzer.tokenize(prev).lastOption match {
      case None => empty
      case Some(p) =>
        val armed = segDirs(dir).filter(hasNextword)
        if (armed.isEmpty) empty
        else
          armed.map(seg =>
              spark.read.parquet(dfStatsDir(nextwordDir(seg)))
                .select(col("term"), col("df")))
            .reduce(_ unionByName _)
            .where(col("term").startsWith(p + " "))
            .groupBy(col("term"))
            .agg(sum(col("df")).cast("long").as("df"))
            .select(substring_index(col("term"), " ", -1).as("next_term"),
              col("df"))
            .orderBy(col("df").desc, col("next_term").asc)
            .limit(k)
    }
  }

  /** True iff EVERY committed segment is armed — i.e. phrase queries run
    * fully accelerated, with no unigram mixing. Metadata existence
    * checks only, no job. (Partial arming still accelerates: armed
    * segments use bigram postings regardless.)
    */
  def nextwordFresh(spark: SparkSession, dir: String): Boolean = {
    val _ = spark // kept for API symmetry with the other probes
    val segs = segDirs(dir)
    segs.nonEmpty && segs.forall(hasNextword)
  }

  /** Top-k proximity search against a persisted sidecar: same scan as
    * [[phraseSearch]], ranked by the minimal covering window
    * (min_span asc — tightest co-occurrence first — then docId).
    * Output: (docId, min_span).
    */
  def proximitySearch(spark: SparkSession, dir: String, query: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val terms = Analyzer.tokenize(query)
    val empty = Seq.empty[(Long, Long)].toDF("docId", "min_span")
    if (terms.isEmpty) return empty
    queryPositions(spark, dir, terms).fold(empty) { positions =>
      proximityHits(positions, terms)
        .orderBy(col("min_span").asc, col("docId").asc)
        .limit(k)
    }
  }
}
