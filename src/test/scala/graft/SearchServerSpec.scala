package graft

import graft.index.IndexBuilder
import graft.query.QueryEngine
import graft.sources.CorpusSource
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP SERP surface (reference server.go:55-103): q/page/alg params,
  * 5-per-page pagination with prev/next, unknown-algorithm fallback to
  * BM25, and agreement with the CLI query path on the reference corpus.
  */
class SearchServerSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private lazy val docs = CorpusSource.readDocsCsv(
    spark, SparkSessionFixture.resourcePath("example.csv"))
  private lazy val engine = new QueryEngine(IndexBuilder.build(docs, k = 3),
    positions = Some(graft.index.PositionalIndex.positionsStream(docs)),
    rawDocs = Some(docs))

  private lazy val server: SearchServer = {
    val s = new SearchServer(engine, docs, port = 0)
    s.start()
    s
  }
  private lazy val client = HttpClient.newHttpClient()

  private def get(query: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.boundPort}/$query")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("BM25 golden query over HTTP: rank order #3 then #2") {
    val (code, body) = get("?q=matrix+communication+channel&alg=BM25")
    assert(code == 200)
    assert(body.contains("results=2"))
    val i3 = body.indexOf("Code-division multiple access")
    val i2 = body.indexOf("Latent semantic analysis")
    assert(i3 >= 0 && i2 >= 0 && i3 < i2, "rank order must be #3 then #2")
  }

  test("SERP cache: identical request served from cache, identical body; TTL=0 disables") {
    val cached = new SearchServer(engine, docs, port = 0,
      serpCacheTtlMs = 60000L)
    val port = cached.start()
    try {
      def fetch(): String = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?q=matrix+communication+channel&alg=BM25"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val first = fetch()
      assert(cached.cacheHits == 0L)
      val second = fetch()
      assert(cached.cacheHits == 1L, "repeat request must hit the SERP cache")
      assert(second == first, "cached SERP must render identically")
      // a different page is its own cache key — not a false hit
      client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/?q=matrix+communication+channel&alg=BM25&page=2"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(cached.cacheHits == 1L)
    } finally cached.stop()
    val uncached = new SearchServer(engine, docs, port = 0,
      serpCacheTtlMs = 0L)
    uncached.start()
    try {
      val (h1, t1) = uncached.search("matrix communication channel", "BM25", 1)
      val (h2, t2) = uncached.search("matrix communication channel", "BM25", 1)
      assert(uncached.cacheHits == 0L, "TTL=0 must bypass the cache")
      assert(h1 == h2 && t1 == t2)
    } finally uncached.stop()
  }

  test("unknown algorithm falls back to BM25 (reference server.go:39-53)") {
    val (_, viaUnknown) = get("?q=matrix+communication+channel&alg=NoSuchAlg")
    val (_, viaBm25) = get("?q=matrix+communication+channel&alg=BM25")
    // identical result list (strip the echoed algorithm name before comparing)
    def results(b: String) = b.substring(b.indexOf("<ol"))
    assert(results(viaUnknown) == results(viaBm25))
  }

  test("pagination: page beyond the results is empty and links back") {
    val (code, body) = get("?q=matrix+communication+channel&alg=BM25&page=2")
    assert(code == 200)
    assert(!body.contains("<li>"))
    assert(body.contains("id=\"prev\""))
    assert(!body.contains("id=\"next\""))
  }

  test("empty / missing query returns an empty SERP, no error") {
    assert(get("?q=&alg=BM25")._1 == 200)
    val (code, body) = get("")
    assert(code == 200 && body.contains("results=0"))
  }

  test("corpus@indexDir serving: block-index-backed server == in-memory server") {
    val csv = SparkSessionFixture.resourcePath("example.csv")
    val idx = java.nio.file.Files.createTempDirectory("serve-idx").toString
    graft.index.BlockIndex.build(docs, idx,
      graft.index.BlockIndex.Layout(blockSpan = 4, nShards = 4))
    val (idxEngine, idxDocs) = SearchCli.resolve(spark, s"$csv@$idx")
    val s2 = new SearchServer(idxEngine, idxDocs, port = 0)
    s2.start()
    try {
      for (alg <- Seq("BM25", "Classic TF-IDF", "Terms", "Fuzzy")) {
        val q = if (alg == "Fuzzy") "matrx comunication chanel"
                else "matrix communication channel"
        assert(s2.search(q, alg, 1) == server.search(q, alg, 1), s"alg=$alg")
      }
    } finally s2.stop()
  }

  test("SERP snippets: each hit previews its match with terms bracketed") {
    val (code, body) = get("?q=matrix+communication+channel&alg=BM25")
    assert(code == 200)
    assert(body.contains("class=\"snippet\""))
    // doc 3 (communication+channel, no matrix) falls back to its first
    // matching term; doc 2 brackets its lone 'matrix' occurrence
    assert(body.contains("[channel]"), body)
    assert(body.contains("[matrix]"), body)
  }

  test("Grep algorithm over HTTP: case-sensitive raw substring hits render with raw excerpt") {
    val (code, body) = get("?q=Cohen&alg=Grep")
    assert(code == 200)
    assert(body.contains("results=1"), body)
    assert(body.contains("Cohen's kappa"))
    // the snippet is the RAW excerpt with the needle bracketed (not the
    // token-based KWIC window)
    assert(body.contains("[Cohen]"), body)
    // a needle crossing a token boundary still previews
    val (_, crossBody) = get("?q=rater+reliability&alg=Grep")
    assert(crossBody.contains("results=1"), crossBody)
    assert(crossBody.contains("[rater reliability]"), crossBody)
    // lowercase needle misses the capitalized body text
    assert(get("?q=cohen&alg=Grep")._2.contains("results=0"))
  }

  test("Proximity algorithm over HTTP: tightest window first, pair bracketed") {
    val (code, body) = get("?q=communication+channel&alg=Proximity")
    assert(code == 200)
    assert(body.contains("results=1"), body)
    assert(body.contains("Code-division multiple access"))
    // the adjacent pair is the best covering window → rendered together
    assert(body.contains("[communication] [channel]"), body)
  }

  test("zero-result typo query renders a did-you-mean link; hits never do") {
    val (code, body) = get("?q=matrx+comunication&alg=BM25")
    assert(code == 200 && body.contains("results=0"))
    assert(body.contains("id=\"didyoumean\""), body)
    assert(body.contains(">matrix communication</a>"), body)
    // a query with results shows no suggestion block
    val (_, ok) = get("?q=matrix+communication+channel&alg=BM25")
    assert(!ok.contains("didyoumean"))
  }

  test("/suggest endpoint: df-ranked prefix completions, empty prefix empty body") {
    val (code, body) = get("suggest?p=sem")
    assert(code == 200)
    assert(body.linesIterator.toSeq.headOption.exists(_.startsWith("sem")), body)
    assert(body.contains("semantic"), body)
    assert(get("suggest?p=")._2.isEmpty)
    assert(get("suggest?p=zzzz")._2.isEmpty)
  }

  private def sendAll(port: Int, queries: Seq[String]): Seq[String] =
    queries.map(q => client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/$q"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()))
      .map(_.get(300, java.util.concurrent.TimeUnit.SECONDS).body())

  private def poolThreads(port: Int): Seq[Thread] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"graft-serve-$port-"))

  test("concurrent requests across algorithms: each body equals the request made alone") {
    val s = new SearchServer(engine, docs, port = 0, serpCacheTtlMs = 0L)
    val port = s.start()
    try {
      val reqs = Seq(
        "?q=matrix+communication+channel&alg=BM25",
        // page 1 and page 2 rank with EQUAL plans, which share one
        // persisted cache entry while both run
        "?q=matrix+communication+channel&alg=BM25&page=2",
        "?q=semantic+analysis&alg=Classic+TF-IDF",
        "?q=qualitative+%7C%7C+semantics+%26%26+reliability+%7C%7C+technologies&alg=Boolean",
        "?q=radi+techologies&alg=Fuzzy",
        "?q=sem*t*c&alg=Wildcard")
      val alone = reqs.map(q => sendAll(port, Seq(q)).head)
      alone.foreach(b => assert(b.contains("results=") && !b.contains("internal error"), b))
      assert(sendAll(port, reqs ++ reqs) == alone ++ alone)
      assert(poolThreads(port).nonEmpty)
    } finally s.stop()
    assert(poolThreads(port).isEmpty, "stop() must end every pool thread")
  }

  test("SERP cache: the hit counter is exact under concurrent repeats") {
    val s = new SearchServer(engine, docs, port = 0)
    val port = s.start()
    try {
      val q = "?q=matrix+communication+channel&alg=Classic+TF-IDF"
      val first = sendAll(port, Seq(q)).head
      assert(s.cacheHits == 0L)
      assert(sendAll(port, Seq.fill(48)(q)).forall(_ == first))
      assert(s.cacheHits == 48L)
    } finally s.stop()
  }

  test("server.search == the CLI query path (byName + paginate + materialize)") {
    val (hits, total) = server.search("matrix communication channel", "BM25", 1)
    assert(total == 2)
    assert(hits.map(_.docId) == Seq(3L, 2L))
    assert(hits.head.title == "Code-division multiple access")
  }
}
