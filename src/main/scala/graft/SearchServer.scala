package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.index.IndexBuilder
import graft.query.QueryEngine
import graft.sources.CorpusSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The reference's HTTP serving surface (reference server.go:55-103) as a
  * thin driver-side wrapper over [[graft.query.QueryEngine]]:
  * `GET /?q=&alg=&page=` answers a query with the algorithm registry
  * (unknown → BM25, reference server.go:39-53), paginates 5 results per
  * page (server.go:11,23-28) and renders an HTML SERP with prev/next
  * links. JDK-only (`com.sun.net.httpserver`) — no new dependency.
  *
  * Requests run concurrently on a fixed pool with one thread per unit of
  * the session's `defaultParallelism` (Spark schedules concurrent jobs
  * from any thread); `stop()` shuts the pool down. Per request, the
  * corpus-sized scoring plan (the CLI's DataFrame plan) runs on Spark;
  * the page-sized rest — the ≤5 hits' documents, fetched with one scan,
  * and their previews — runs on the driver. Beyond the prebuilt index
  * bundle the server holds only its SERP and suggestion caches.
  */
class SearchServer(engine: QueryEngine, docs: DataFrame, port: Int = 0,
    serpCacheTtlMs: Long = 60000L) {

  final case class Hit(docId: Long, title: String, url: String,
      snippet: String)

  // ---- SERP cache -----------------------------------------------------
  // Every request otherwise re-plans and re-runs the scoring job — a
  // fixed multi-job Spark floor per hit of a head-heavy query
  // distribution that serves identical results. A bounded LRU of
  // fully-rendered pages (hits + total, snippets included) absorbs the
  // repeats; the TTL bounds staleness against a concurrently refreshed
  // persisted index (serpCacheTtlMs = 0 disables caching entirely).
  private final case class SerpEntry(hits: Seq[Hit], total: Long, at: Long)
  private val MaxSerpEntries = 256
  private val serpCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, Int), SerpEntry](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Int), SerpEntry]): Boolean =
        size() > MaxSerpEntries
    })
  private val hitCount = new AtomicLong()
  /** Requests answered from the SERP cache (observability + spec hook). */
  private[graft] def cacheHits: Long = hitCount.get

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(
      docs.sparkSession.sparkContext.defaultParallelism, (r: Runnable) => {
        val t = new Thread(r, s"graft-serve-$boundPort-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
  server.setExecutor(pool)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val p = params(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        val q = p.getOrElse("q", "")
        val alg = p.getOrElse("alg", "BM25")
        val page = p.get("page").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
        val (hits, total) = search(q, alg, page)
        // zero results + a fixable typo → "did you mean" link (a bounded
        // vocab-sized candidate job, only on the empty-SERP path; cached
        // under the same TTL so a hammered dead query pays it once)
        val didYouMean =
          if (total == 0 && q.nonEmpty) suggestCached(q) else None
        val body = html(q, alg, page, hits, total, didYouMean)
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } catch {
        case e: Throwable =>
          // the 200 headers may already be out (e.g. client disconnected
          // mid-body) — a second sendResponseHeaders throws and would
          // mask the original failure
          try {
            val msg = s"internal error: ${e.getMessage}".getBytes(StandardCharsets.UTF_8)
            ex.sendResponseHeaders(500, msg.length)
            ex.getResponseBody.write(msg)
          } catch { case _: Throwable => () }
      } finally ex.close()
  })

  // autocomplete endpoint: GET /suggest?p=<prefix> → one completion per
  // line, df-ranked (QueryEngine.typeahead) — the vocab-sized query an
  // autocomplete box fires on every keystroke
  server.createContext("/suggest", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val p = params(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          .getOrElse("p", "")
        val terms = engine.typeahead(p, 8).collect()
          .map(_.getString(0)).mkString("\n")
        val body = terms.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
        ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
        if (body.nonEmpty) ex.getResponseBody.write(body)
      } catch {
        case e: Throwable =>
          try {
            val msg = s"internal error: ${e.getMessage}"
              .getBytes(StandardCharsets.UTF_8)
            ex.sendResponseHeaders(500, msg.length)
            ex.getResponseBody.write(msg)
          } catch { case _: Throwable => () }
      } finally ex.close()
  })

  /** Bound port (ephemeral when constructed with port = 0). */
  def boundPort: Int = server.getAddress.getPort
  def start(): Int = { server.start(); boundPort }
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
  }

  /** The query path shared by the handler and the spec: ranked results of
    * `page` (5/page) materialized in rank order, plus the total count.
    */
  def search(query: String, alg: String, page: Int): (Seq[Hit], Long) = {
    val key = (query, alg, page)
    if (serpCacheTtlMs > 0) {
      val e = serpCache.get(key)
      if (e != null) {
        if (System.currentTimeMillis() - e.at <= serpCacheTtlMs) {
          hitCount.incrementAndGet()
          return (e.hits, e.total)
        }
        serpCache.remove(key)
      }
    }
    // corpus-sized scoring stays distributed; everything page-sized (the
    // ≤5 hits, their documents, their previews) runs on the driver
    val (total, pageDocs) = pinned(engine.byName(alg)(query)) { ranked =>
      (ranked.count(), engine.materialize(engine.paginate(ranked, page), docs)
        .select("docId", "title", "url", "body"))
    }
    // a local relation: this collect launches no job
    val rows = pageDocs.collect()
    val snippets: Map[Long, String] =
      if (rows.isEmpty) Map.empty
      else if (alg == "Grep" && query.nonEmpty)
        // Grep hits are RAW substring matches (possibly crossing token
        // boundaries), so the preview is the raw ±ctx-char excerpt
        // with the needle bracketed — not the token-based KWIC window
        graft.index.GramIndex.grepStats(pageDocs, "docId", "body",
            query, ctx = 24)
          .collect().map { r =>
            val ex = r.getAs[String]("excerpt")
            val i = ex.indexOf(query)
            val marked =
              if (i < 0) ex
              else ex.substring(0, i) + "[" + query + "]" +
                ex.substring(i + query.length)
            r.getLong(0) -> marked
          }.toMap
      else
        // KWIC previews: best covering window when a hit contains every
        // query term, first match, else lead tokens
        graft.index.PositionalIndex.previewSnippets(
          rows.map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq,
          graft.analysis.Analyzer.tokenize(query), ctx = 3)
    val hits = rows.toSeq.map { r =>
      Hit(r.getLong(0), r.getString(1), r.getString(2),
        snippets.getOrElse(r.getLong(0), ""))
    }
    if (serpCacheTtlMs > 0)
      serpCache.put(key, SerpEntry(hits, total, System.currentTimeMillis()))
    (hits, total)
  }

  // Requests whose ranked plans are equal (page 1 and page 2 of one
  // query, or an unknown algorithm and its BM25 fallback) share ONE
  // CacheManager entry, so a request may only unpersist the plan when no
  // concurrent request still reads it.
  private val pinCounts = scala.collection.mutable.HashMap.empty[LogicalPlan, Int]

  /** Runs `f` over `ranked` persisted, so its scoring plan runs ONCE per
    * request: the count materializes the cache and the page reads the
    * cached partitions back.
    */
  private def pinned[A](ranked: DataFrame)(f: DataFrame => A): A = {
    val plan = ranked.queryExecution.normalized.canonicalized
    pinCounts.synchronized {
      val n = pinCounts.getOrElse(plan, 0)
      if (n == 0) ranked.persist(StorageLevel.MEMORY_AND_DISK)
      pinCounts(plan) = n + 1
    }
    try f(ranked)
    finally pinCounts.synchronized {
      val n = pinCounts(plan) - 1
      if (n > 0) pinCounts(plan) = n
      else { pinCounts.remove(plan); ranked.unpersist() }
    }
  }

  private val suggestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Option[String], Long)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Option[String], Long)]): Boolean =
        size() > 64
    })

  private def suggestCached(q: String): Option[String] = {
    if (serpCacheTtlMs <= 0) return engine.suggestQuery(q)
    val e = suggestCache.get(q)
    if (e != null && System.currentTimeMillis() - e._2 <= serpCacheTtlMs)
      return e._1
    val s = engine.suggestQuery(q)
    suggestCache.put(q, (s, System.currentTimeMillis()))
    s
  }

  private def params(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val Array(k, v) = (kv.split("=", 2) match {
        case Array(k) => Array(k, "")
        case a => a
      }): @unchecked
      k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  private def esc(s: String): String =
    if (s == null) "" // nullable title/url columns (JDBC) render empty
    else s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")

  private def pageUrl(q: String, alg: String, page: Int): String =
    s"/?q=${java.net.URLEncoder.encode(q, StandardCharsets.UTF_8)}" +
      s"&alg=${java.net.URLEncoder.encode(alg, StandardCharsets.UTF_8)}&page=$page"

  /** Minimal SERP mirroring the reference template's fields (Query, Page,
    * Results, Algorithm, NextURL, PrevURL — reference server.go:13-20).
    */
  private def html(q: String, alg: String, page: Int,
      hits: Seq[Hit], total: Long,
      didYouMean: Option[String] = None): String = {
    val suggest = didYouMean.fold("") { s =>
      s"""<p id="didyoumean">did you mean <a href="${pageUrl(s, alg, 1)}">${esc(s)}</a>?</p>"""
    }
    val items = hits.map { h =>
      val snip = if (h.snippet.isEmpty) ""
        else s"""<br/><small class="snippet">${esc(h.snippet)}</small>"""
      s"""  <li><a href="${esc(h.url)}">${esc(h.title)}</a> <small>#${h.docId}</small>$snip</li>"""
    }.mkString("\n")
    val prev = if (page > 1)
      s"""<a id="prev" href="${pageUrl(q, alg, page - 1)}">prev</a>""" else ""
    val next = if (page.toLong * 5 < total)
      s"""<a id="next" href="${pageUrl(q, alg, page + 1)}">next</a>""" else ""
    s"""<!doctype html>
       |<html><head><title>graft search</title></head><body>
       |<form action="/"><input name="q" value="${esc(q)}"/>
       |<input type="hidden" name="alg" value="${esc(alg)}"/>
       |<button>Search</button></form>
       |<p>query='${esc(q)}' algorithm=${esc(alg)} page=$page results=$total</p>
       |$suggest
       |<ol start="${(page - 1) * 5 + 1}">
       |$items
       |</ol>
       |$prev $next
       |</body></html>""".stripMargin
  }
}

/** `runMain graft.SearchServer <csvPath|parquetDir> [port]` — index the
  * corpus and serve until killed (the reference's RunServer,
  * server.go:98-103).
  */
object SearchServer {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: SearchServer <csvPath|parquetDir>[@blockIndexDir] [port]")
      sys.exit(2)
    }
    val path = args(0)
    val port = if (args.length > 1) args(1).toInt else 8080
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "corpus@indexDir" serves from the persisted (plain or segmented)
    // block index — no per-process rebuild (SearchCli.resolve)
    val (engine, docs) = SearchCli.resolve(spark, path)
    val srv = new SearchServer(engine, docs, port)
    println(s"serving on http://127.0.0.1:${srv.start()}/")
    Thread.currentThread.join()
  }
}
