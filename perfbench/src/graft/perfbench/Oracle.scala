package graft.perfbench

import scala.collection.mutable

/** Independent BM25 reference: a plain in-memory inverted index over the
  * generated documents, ported from `tools/reference_oracle.py` and
  * sharing no code with the engine. Its semantics are the reference
  * engine's:
  *   - tokens are the lower-cased runs of `[a-zA-Z0-9]`, from title and body;
  *   - document length is the body's whitespace word count;
  *   - idf = log10(N / df) with N = vocabulary size;
  *   - BM25 with k1 = 0.9, b = 0.4, summed per query token (a repeated
  *     query token counts twice).
  */
final class Oracle(docs: Iterable[(Long, String, String)]) {
  import Oracle._

  private val postings = mutable.HashMap.empty[String, (mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofInt)]
  private val lens = mutable.HashMap.empty[Long, Int]
  private var totalLen = 0L

  docs.foreach { case (id, title, body) =>
    val tf = mutable.HashMap.empty[String, Int]
    (tokenize(title) ++ tokenize(body)).foreach(t => tf(t) = tf.getOrElse(t, 0) + 1)
    tf.foreach { case (t, n) =>
      val p = postings.getOrElseUpdate(t, (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofInt))
      p._1 += id; p._2 += n
    }
    val dl = wordCount(body)
    lens(id) = dl
    totalLen += dl
  }

  private val frozen: Map[String, (Array[Long], Array[Int])] =
    postings.iterator.map { case (t, (d, f)) => t -> (d.result(), f.result()) }.toMap

  val nDocs: Int = lens.size
  val vocabSize: Int = frozen.size
  val avgdl: Double = totalLen.toDouble / nDocs

  def df(term: String): Int = frozen.get(term).fold(0)(_._1.length)
  def terms: Iterator[(String, Int)] = frozen.iterator.map { case (t, p) => t -> p._1.length }

  def idf(term: String): Double = {
    val d = df(term)
    if (vocabSize == 0 || d == 0) 0.0 else math.log10(vocabSize.toDouble / d)
  }

  /** Every matching document, ordered (score desc, docId asc). */
  def bm25(query: String): Array[(Long, Double)] = {
    val acc = mutable.HashMap.empty[Long, Double]
    for (tok <- tokenize(query); (ids, tfs) <- frozen.get(tok)) {
      val w = idf(tok)
      var i = 0
      while (i < ids.length) {
        val tf = tfs(i).toDouble
        val dl = lens(ids(i)).toDouble
        val s = w * (K1 + 1) * tf / (K1 * ((1 - B) + B * (dl / avgdl)) + tf)
        acc(ids(i)) = acc.getOrElse(ids(i), 0.0) + s
        i += 1
      }
    }
    acc.toArray.sortBy { case (d, s) => (-s, d) }
  }

  /** Does `got` (docId, score) equal the oracle's top-k of `query`?
    * docIds must match in rank order and every score within `Eps`. Only
    * among documents whose oracle scores lie within `Eps` of each other
    * may the order differ, because summation order can break such ties
    * either way.
    */
  def checkTopK(query: String, k: Int, got: Seq[(Long, Double)]): Option[String] = {
    val all = bm25(query)
    val want = all.take(k)
    if (got.length != want.length)
      return Some(s"rows ${got.length} != ${want.length}")
    val scoreOf = all.toMap
    val gotIds = got.map(_._1)
    if (gotIds.distinct.length != gotIds.length) return Some("duplicate docIds")
    for (((gid, gs), (wid, ws)) <- got.zip(want)) {
      if (math.abs(gs - ws) > Eps) return Some(f"score $gs%.12f != $ws%.12f at doc $wid")
      if (gid != wid) {
        val s = scoreOf.get(gid)
        if (s.forall(x => math.abs(x - ws) > Eps))
          return Some(s"doc $gid != $wid")
      }
    }
    None
  }

  /** [[checkTopK]] on docIds alone, for result pages that show no score:
    * page `page` (5 per page) of the ranked list, ties as above.
    */
  def checkPage(query: String, page: Int, gotIds: Seq[Long], total: Long): Option[String] = {
    val all = bm25(query)
    if (total != all.length) return Some(s"total $total != ${all.length}")
    val want = all.slice((page - 1) * 5, page * 5)
    if (gotIds.length != want.length) return Some(s"rows ${gotIds.length} != ${want.length}")
    val scoreOf = all.toMap
    for ((gid, (wid, ws)) <- gotIds.zip(want) if gid != wid)
      if (scoreOf.get(gid).forall(x => math.abs(x - ws) > Eps))
        return Some(s"doc $gid != $wid")
    None
  }
}

object Oracle {
  val K1 = 0.9
  val B = 0.4
  val Eps = 1e-9
  private val NonWord = "[^a-zA-Z0-9]+".r
  private val Space = "\\s+".r

  def tokenize(s: String): Seq[String] =
    if (s == null) Nil
    else NonWord.split(s).iterator.filter(_.nonEmpty)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSeq

  def wordCount(s: String): Int =
    if (s == null) 0 else Space.split(s).count(_.nonEmpty)
}
