package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import graft.{SearchCli, SearchServer}

/** serve_mix: two HTTP clients in closed loops against an in-process
  * `SearchServer` built through the deploy path
  * `SearchCli.resolve("<corpus>@<blockIndexDir>")` with default cache
  * settings. Every request asks a key (query, algorithm, page) not asked
  * before in the run, so each one runs the engine: at a few seconds per
  * uncached request, a run is too short for a skewed key stream to reach
  * a steady cache hit ratio.
  */
object ServeWorkload {
  val NDocs = 2000L
  val Reps = 3
  val Clients = 2
  val DistinctKeys = 600

  final case class Key(q: String, alg: String, page: Int)
  final case class Resp(op: Op, key: Key, status: Int, body: String)

  /** Algorithm of the i-th key: Pattern(i % 10), six tenths BM25. The
    * sequence is the same in every run; the seed picks what each key asks.
    */
  private val Pattern = Seq("BM25", "BM25", "Classic TF-IDF", "BM25", "Boolean", "BM25",
    "Fuzzy", "BM25", "Wildcard", "BM25")
  private val IdTerm = "id[0-9]+".r
  private val DocRef = "<small>#([0-9]+)</small>".r
  private val Total = "results=([0-9]+)</p>".r

  def run(ctx: Ctx): Outcome = {
    val e2e = new Metrics
    val layer = new Metrics
    val nDocs = ctx.docs(NDocs)
    val spark = ctx.spark
    ctx.tracer.attach()
    val (times, (corpusDir, idxDir, srv)) = Setup.repeated(ctx, nDocs, Reps) { (rep, n) =>
      val c = ctx.dir(s"corpus-$rep")
      val i = ctx.dir(s"index-$rep")
      val g = Setup.gen(ctx, rep, n, c)
      val b = Setup.build(ctx, rep, c, i)
      val t0 = Clock.ms
      val s = ctx.tracer.call(Setup.step("resolve", rep)) {
        val (engine, docs) = SearchCli.resolve(spark, s"$c@$i")
        val s = new SearchServer(engine, docs, port = 0)
        s.start()
        s
      }
      (Setup.Times(g, b, (Clock.ms - t0) / 1000), (c, i, s))
    } { case (c, i, s) => s.stop(); Dirs.delete(c); Dirs.delete(i) }
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    ctx.mark("setup")

    val rows = Setup.rows(spark, corpusDir)
    val oracle = new Oracle(rows)
    val keys = traffic(ctx, oracle)
    val base = s"http://127.0.0.1:${srv.boundPort}/"
    try {
      // warm-up: one request per algorithm, off the timed key set
      get(ctx, base, Key("def val", "BM25", 1), -1, traced = false)
      ctx.mark("warm-up")
      val hits0 = srv.cacheHits
      val resps = java.util.concurrent.ConcurrentHashMap.newKeySet[Resp]()
      val blocks = ctx.blocks
      val ids = new java.util.concurrent.atomic.AtomicLong(0)
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      var windowS = 0.0
      // (start, end, traced, cache hits) of each block
      val windows = Seq.newBuilder[(Double, Double, Boolean, Long)]
      for (b <- 0 until blocks) {
        val traced = ctx.tracer.enabled && b % 2 == 1
        if (traced) ctx.tracer.attach() else ctx.tracer.detach()
        val h0 = srv.cacheHits
        val start = Clock.ms
        val end = start + ctx.seconds * 1000 / blocks
        val threads = (0 until Clients).map { _ =>
          new Thread(() => {
            while (Clock.ms < end) {
              val k = keys(next.getAndIncrement() % keys.size)
              resps.add(get(ctx, base, k, ids.getAndIncrement(), traced))
            }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        windows += ((start, Clock.ms, traced, srv.cacheHits - h0))
        windowS += (Clock.ms - start) / 1000
      }
      ctx.tracer.detach()
      ctx.mark("window")
      // an oracle mismatch fails its request like a non-200 answer does
      val all = resps.toArray(Array.empty[Resp]).toSeq.sortBy(_.op.startMs)
        .map(r => r.copy(op = r.op.copy(error = check(oracle, r))))
      val failures = all.flatMap(r => r.op.error.map(m =>
        s"${r.key.alg} '${r.key.q}' page ${r.key.page}: $m"))

      Setup.report(e2e, layer, times, nDocs)
      // throughput as the completion rate between the first and the last
      // completion: with a few requests per run, a count over the fixed
      // window would move in steps of one request
      val ends = all.filter(_.op.error.isEmpty).map(r => r.op.startMs + r.op.ms).sorted
      val rateS = if (ends.size < 2) windowS else (ends.last - ends.head) / 1000 *
        ends.size / (ends.size - 1)
      Wand.reportOps(e2e, layer, all.map(_.op), rateS)
      e2e("index_bytes_per_content_byte", "ratio",
        Dirs.bytes(idxDir).toDouble / Setup.contentBytes(rows))
      layer("setup.cached_mb", "MB", cachedMb)
      if (ctx.tracer.enabled) {
        val rec = ctx.tracer.rec
        // per window: Spark work is not attributable to one request
        // here, because the server runs it on its own dispatcher thread
        val tracedBlocks = windows.result().filter(_._3)
        val tw = tracedBlocks.map(w => (w._1, w._2))
        val traced = all.filter(r => r.op.traced && r.op.error.isEmpty)
        val twS = tw.map(w => w._2 - w._1).sum / 1000
        val jobs = rec.jobsWhere(j => tw.exists(w => j.submitMs >= w._1 && j.submitMs <= w._2))
        val w = rec.work(jobs, tw)
        val busy = tw.map(w => Windows.covered(rec.jobIntervals(w._1, w._2), w._1, w._2)).sum
        val requests = all.count(_.op.traced)
        val hits = tracedBlocks.map(_._4).sum
        layer("serve.requests", "count", requests)
        layer("serve.cache_hit_ratio", "ratio", hits.toDouble / math.max(1, requests))
        layer("serve.window_s", "s", twS)
        layer("serve.spark_busy_frac", "ratio", busy / math.max(1.0, twS * 1000))
        layer("serve.jobs_per_miss", "count", jobs.size.toDouble / math.max(1L, requests - hits))
        for ((alg, name) <- Seq("BM25" -> "bm25", "Classic TF-IDF" -> "tfidf",
            "Boolean" -> "boolean", "Fuzzy" -> "fuzzy", "Wildcard" -> "wildcard"))
          layer(s"serve.p50_ms.$name", "ms", Stats.median(traced.filter(_.key.alg == alg).map(_.op.ms)))
        val n = math.max(1, traced.size).toDouble
        layer("spark.actions", "count", w.actions / n)
        layer("spark.jobs", "count", w.jobs / n)
        layer("spark.stages", "count", w.stages / n)
        layer("spark.tasks", "count", w.tasks / n)
        layer("catalyst.analysis_ms", "ms", w.analysisMs / n)
        layer("catalyst.optimization_ms", "ms", w.optimizationMs / n)
        layer("catalyst.planning_ms", "ms", w.planningMs / n)
        layer("spark.scheduler_delay_ms", "ms", w.schedDelayMs / n)
        layer("spark.gc_ms", "ms", w.gcMs / n)
        Setup.reportBuild(ctx, layer, Reps)
        Wand.reportOverhead(layer, all.map(_.op))
        layer("index.bytes_on_disk", "bytes", Dirs.bytes(idxDir))
      }
      Outcome(all.size, failures, e2e, layer,
        Seq(s"docs=$nDocs keys=${keys.size} requests=${all.size} " +
          s"cache_hits=${srv.cacheHits - hits0} window_s=$windowS"))
    } finally srv.stop()
  }

  /** DistinctKeys seeded (query, algorithm, page) keys; the i-th asks
    * algorithm Pattern(i % 10) for page 1 + (i / 10) % 2.
    */
  private def traffic(ctx: Ctx, oracle: Oracle): IndexedSeq[Key] = {
    val rng = ctx.rng(3)
    val ids = oracle.terms.collect {
      case (t, df) if IdTerm.matches(t) && df >= 5 && df <= 400 => t
    }.toSeq.sorted.toIndexedSeq
    val kws = graft.tools.CorpusGen.Keywords.toIndexedSeq
    val longKws = kws.filter(_.length >= 4)
    def id() = ids(rng.nextInt(ids.size))
    def kw() = kws(rng.nextInt(kws.size))
    def query(alg: String): String = alg match {
      case "Boolean" => s"${kw()} && ${id()} || ${id()}"
      case "Fuzzy" =>
        // one digit changed: within the edit budget of the identifier
        val t = id()
        val i = 2 + rng.nextInt(t.length - 2)
        t.updated(i, ((t(i) - '0' + 1) % 10 + '0').toChar) + " " + kw()
      case "Wildcard" =>
        val k = longKws(rng.nextInt(longKws.size))
        k.take(2) + "*" + k.takeRight(1) + " " + id().dropRight(1) + "?"
      case _ =>
        if (rng.nextBoolean()) Seq.fill(1 + rng.nextInt(2))(id()).mkString(" ") + " " + kw()
        else Seq.fill(1 + rng.nextInt(3))(id()).mkString(" ")
    }
    val seen = scala.collection.mutable.HashSet.empty[Key]
    (0 until DistinctKeys).map { r =>
      val alg = Pattern(r % Pattern.size)
      Iterator.continually(Key(query(alg), alg, 1 + (r / Pattern.size) % 2)).find(seen.add).get
    }
  }

  private def get(ctx: Ctx, base: String, k: Key, id: Long, traced: Boolean): Resp = {
    def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
    val t0 = Clock.ms
    try ctx.tracer.spans("http", id) {
      val c = URI.create(s"$base?q=${enc(k.q)}&alg=${enc(k.alg)}&page=${k.page}")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      try {
        val status = c.getResponseCode
        val in = if (status < 400) c.getInputStream else c.getErrorStream
        val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        Resp(Op(id, k.alg, t0, Clock.ms - t0, traced,
          error = if (status == 200) None else Some(s"HTTP $status")), k, status, body)
      } finally c.disconnect()
    } catch {
      case e: Exception =>
        Resp(Op(id, k.alg, t0, Clock.ms - t0, traced, error = Some(e.toString)), k, -1, "")
    }
  }

  /** BM25 pages must equal the oracle's page; every request must answer
    * 200 without an internal error.
    */
  private def check(oracle: Oracle, r: Resp): Option[String] =
    r.op.error
      .orElse(if (r.body.contains("internal error")) Some("internal error") else None)
      .orElse(if (r.key.alg != "BM25") None
        else {
          val ids = DocRef.findAllMatchIn(r.body).map(_.group(1).toLong).toSeq
          Total.findFirstMatchIn(r.body).map(_.group(1).toLong) match {
            case None => Some("no result count in page")
            case Some(total) => oracle.checkPage(r.key.q, r.key.page, ids, total)
          }
        })
}
