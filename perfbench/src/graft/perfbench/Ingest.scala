package graft.perfbench

import scala.collection.mutable

import graft.index.{BlockIndex, KeyMap}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** ingest_commits: a warm build of a base corpus, then a sequence of
  * commits through `StreamOps.indexUpsertBatch` keyed by url = repo/path.
  * Each commit regenerates a few percent of the files and adds a few new
  * ones; the benchmark then calls `BlockIndex.compactTiered` itself and
  * runs a fixed set of head and tail probes. The run ends with
  * `BlockIndex.compact`, after which every probe must equal the oracle
  * over the live corpus.
  */
object IngestWorkload {
  val NDocs = 4000L
  val Reps = 3
  val UpdateFrac = 0.02
  val NewFrac = 0.005
  val MaxSegments = 4
  val Probes = 9

  private val IdTerm = "id[0-9]+".r
  private val FileId = "File([0-9]+)\\.".r

  def run(ctx: Ctx): Outcome = {
    val e2e = new Metrics
    val layer = new Metrics
    val nDocs = ctx.docs(NDocs)
    val spark = ctx.spark
    import spark.implicits._
    ctx.tracer.attach()
    val (times, (corpusDir, idxDir, keyDir)) = Setup.repeated(ctx, nDocs, Reps) { (rep, n) =>
      val c = ctx.dir(s"corpus-$rep")
      val i = ctx.dir(s"index-$rep")
      val k = ctx.dir(s"keymap-$rep")
      val g = Setup.gen(ctx, rep, n, c)
      val b = Setup.build(ctx, rep, c, i)
      val t0 = Clock.ms
      ctx.tracer.call(Setup.step("keymap", rep)) {
        KeyMap.commit(spark.read.parquet(c).select(col("url").as("key"), col("docId")), k, "base")
      }
      (Setup.Times(g, b, (Clock.ms - t0) / 1000), (c, i, k))
    } { case (c, i, k) => Dirs.delete(c); Dirs.delete(i); Dirs.delete(k) }

    ctx.mark("setup")
    // live corpus by url, for the oracle: outside set-up and the window
    val live = mutable.LinkedHashMap.empty[String, (String, String)]
    spark.read.parquet(corpusDir).select("url", "title", "body").collect()
      .foreach(r => live(r.getString(0)) = (r.getString(1), r.getString(2)))
    val baseOracle = new Oracle(Setup.rows(spark, corpusDir))
    val rng = ctx.rng(4)
    val tail = baseOracle.terms.collect {
      case (t, df) if IdTerm.matches(t) && df >= 40 && df <= 80 => t
    }.toSeq.sorted.toIndexedSeq
    val kws = graft.tools.CorpusGen.Keywords.toIndexedSeq
    // one head probe of three keywords, the others single tail terms
    val probes = rng.shuffle(kws).take(3).mkString(" ") +: rng.shuffle(tail).take(Probes - 1)

    var nextId = nDocs // CorpusGen row id of the next new file
    val ops = Seq.newBuilder[Op]
    final case class Commit(upsertMs: Double, compactMs: Double, inBytes: Long,
        segments: Int, tombIds: Long, bytes: Long, traced: Boolean, start: Double, end: Double)
    val commits = Seq.newBuilder[Commit]
    var opId = 0L
    var batch = 0L

    /** One commit cycle: upsert, tiered compaction, probes. Returns its
      * time in ms. A warm-up cycle records nothing.
      */
    def cycle(traced: Boolean, warmup: Boolean): Double = {
      // the warm-up needs one probe of each shape only
      val qs = if (warmup) probes.take(2) else probes
      batch += 1
      // the commit's documents, generated outside the timed cycle
      val urls = live.keysIterator.toIndexedSeq
      val upd = rng.shuffle(urls.indices.toIndexedSeq)
        .take(math.max(1, (urls.size * UpdateFrac).toInt)).map(urls)
      val nNew = math.max(1, (nDocs * NewFrac).toInt)
      val updIds = upd.map(u => FileId.findFirstMatchIn(u).get.group(1).toLong)
      val wanted = updIds ++ (nextId until nextId + nNew)
      nextId += nNew
      val rows = Setup.corpus(spark, nextId, ctx.seed * 7919L + batch)
        .where(col("docId").isin(wanted: _*)).select("title", "body", "url")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      val inBytes = rows.map(r => (r._1 + r._2 + r._3).getBytes("UTF-8").length.toLong).sum
      val batchDf = rows.toDF("title", "body", "url")

      val c0 = Clock.ms
      try {
        ctx.tracer.call("upsert", batch) {
          StreamOps.indexUpsertBatch(batchDf, batch, idxDir, Setup.Layout, Seq("url"), keyDir)
        }
        val c1 = Clock.ms
        ctx.tracer.call("compactTiered", batch) {
          BlockIndex.compactTiered(idxDir, MaxSegments)
        }
        val c2 = Clock.ms
        rows.foreach(r => live(r._3) = (r._1, r._2))
        // between commits df and N are stale until compaction, by design:
        // a probe fails only on an exception or more than k rows
        qs.foreach { q =>
          val (op, r) = Wand.op(ctx, idxDir, q, if (warmup) -1L else opId, traced)
          if (!warmup) {
            ops += (if (op.error.isEmpty && r.length > Wand.K)
              op.copy(error = Some(s"${r.length} rows > k")) else op)
            opId += 1
          }
        }
        val c3 = Clock.ms
        if (!warmup)
          commits += Commit(c1 - c0, c2 - c1, inBytes, BlockIndex.readSegments(idxDir).segs.size,
            BlockIndex.readTombMeta(idxDir).map(_.nIds).getOrElse(0L), Dirs.bytes(idxDir),
            traced, c0, c3)
        c3 - c0
      } catch {
        case e: Exception =>
          ops += Op(opId, s"commit $batch", c0, Clock.ms - c0, traced,
            error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          opId += 1
          Clock.ms - c0
      }
    }

    // warm-up: one whole commit cycle, so that the plans over a segmented,
    // tombstoned index are compiled before the window
    cycle(traced = false, warmup = true)
    ctx.mark("warm-up")
    var windowMs = 0.0
    val blocks = ctx.blocks
    for (b <- 0 until blocks) {
      val traced = ctx.tracer.enabled && b % 2 == 1
      if (traced) ctx.tracer.attach() else ctx.tracer.detach()
      // a cycle starts only if it is due to end inside the block
      val blockMs = ctx.seconds * 1000 / blocks
      var used = 0.0
      var last = 0.0
      while (used == 0.0 || used + last <= blockMs) {
        last = cycle(traced, warmup = false)
        used += last
      }
      windowMs += used
    }
    ctx.mark("window")
    if (ctx.tracer.enabled) ctx.tracer.attach()
    val f0 = Clock.ms
    ctx.tracer.call("compact", -2L)(BlockIndex.compact(idxDir))
    val finalCompactMs = Clock.ms - f0

    // after the final compact every probe must equal the oracle over the
    // live corpus; docIds map to urls through the keymap's live rows
    val liveKeys = KeyMap.liveRows(spark, keyDir, idxDir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val idOf = liveKeys.toMap
    val liveRows = live.iterator.map { case (u, (t, b)) => (idOf.getOrElse(u, -1L), t, b) }.toSeq
    val missing = live.keys.count(u => !idOf.contains(u))
    val oracle = new Oracle(liveRows)
    val finalOps = probes.map { q =>
      val (op, r) = Wand.op(ctx, idxDir, q, opId, traced = false)
      opId += 1
      op.copy(error = op.error.orElse(oracle.checkTopK(q, Wand.K, r)))
    }
    ctx.tracer.detach()
    val window = ops.result()
    val failures = (window ++ finalOps).flatMap(o => o.error.map(m => s"probe '${o.label}': $m")) ++
      (if (missing > 0) Seq(s"$missing live urls have no live docId") else Nil) ++
      (if (idOf.size < liveKeys.length) Seq(s"${liveKeys.length - idOf.size} urls have two live docIds")
       else Nil)

    Setup.report(e2e, layer, times, nDocs)
    Wand.reportOps(e2e, layer, window, windowMs / 1000)
    e2e("index_bytes_per_content_byte", "ratio",
      Dirs.bytes(idxDir).toDouble / Setup.contentBytes(liveRows))
    val cs = commits.result()
    if (ctx.tracer.enabled) {
      val rec = ctx.tracer.rec
      Wand.reportLayers(ctx, layer, window)
      Setup.reportBuild(ctx, layer, Reps)
      Wand.reportOverhead(layer, window)
      val tc = cs.filter(_.traced)
      val ups = tc.map(c => (c, rec.work(rec.jobsWhere(j => j.phase == "upsert" &&
        j.submitMs >= c.start && j.submitMs <= c.end), Nil)))
      layer("upsert.commits", "count", tc.size)
      layer("upsert.ms", "ms", Stats.median(tc.map(_.upsertMs)))
      layer("upsert.jobs", "count", Stats.median(ups.map(_._2.jobs.toDouble)))
      layer("upsert.shuffle_write_bytes", "bytes", Stats.median(ups.map(_._2.shuffleWrite.toDouble)))
      layer("upsert.output_bytes_per_input_byte", "ratio",
        ups.map(_._2.outBytes).sum.toDouble / math.max(1L, tc.map(_.inBytes).sum))
      // the traced commits' tiered compactions plus the final compact
      val compactJobs = rec.jobsWhere(j => j.phase == "compact" || (j.phase == "compactTiered" &&
        tc.exists(c => j.submitMs >= c.start && j.submitMs <= c.end)))
      layer("compact.ms", "ms", tc.map(_.compactMs).sum + finalCompactMs)
      layer("compact.bytes_rewritten", "bytes", rec.work(compactJobs, Nil).outBytes)
      cs.lastOption.foreach { c =>
        layer("index.segments", "count", c.segments)
        layer("index.tombstoned_ids", "count", c.tombIds)
        layer("index.bytes_on_disk", "bytes", c.bytes)
      }
    }
    Outcome(window.length + finalOps.length, failures, e2e, layer,
      Seq(s"docs=$nDocs commits=${cs.size} probes=${window.length} " +
        s"commit_p50_ms=${Stats.median(cs.map(_.upsertMs))} " +
        s"compact_ms=${cs.map(_.compactMs).sum + finalCompactMs} window_s=${windowMs / 1000}"))
  }
}
