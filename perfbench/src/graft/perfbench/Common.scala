package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.index.BlockIndex
import graft.tools.CorpusGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload gets: the session, the tracer, the seed, the
  * length of the timed window and a scratch directory of its own.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, work: String, scale: Double = 1.0) {
  /** A workload's corpus size at this run's scale. */
  def docs(n: Long): Long = math.max(100L, (n * scale).toLong)
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
  def dir(name: String): String = s"$work/$name"

  /** Blocks the window is cut into. A traced run runs its first half
    * untraced and its second half traced, so that it measures its own
    * tracing overhead; the traced half gives the per-layer numbers.
    */
  def blocks: Int = if (tracer.enabled) 2 else 1

  /** Logs how far into the process a run's phase ended. */
  def mark(phase: String): Unit = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] $phase%-8s done at ${(System.currentTimeMillis() - jvm) / 1000.0}%.1f s")
  }
}

/** One timed operation, as the client saw it. */
final case class Op(id: Long, label: String, startMs: Double, ms: Double,
    traced: Boolean, error: Option[String] = None, hits: Int = 0,
    planMs: Double = 0.0, execMs: Double = 0.0)

/** Metric values in print order, each with its unit. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
}

/** The outcome of one run. `failures` names each failed op. */
final case class Outcome(attempted: Long, failures: Seq[String],
    endToEnd: Metrics, perLayer: Metrics, notes: Seq[String])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Dirs {
  def bytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally st.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }
}

/** Seeded inputs and the shared set-up steps: corpus generation, block
  * index build, and the per-layer numbers of both.
  */
object Setup {
  /** The layout every workload builds with. */
  val Layout = BlockIndex.Layout(blockSpan = 256, nShards = 8)

  /** A seeded `CorpusGen` corpus in the document model the engine indexes:
    * title and url are repo/path, body is the file content.
    */
  def corpus(spark: SparkSession, nDocs: Long, seed: Long): DataFrame = {
    val key = concat_ws("/", col("repo"), col("path"))
    CorpusGen.generate(spark, nDocs, seed = seed)
      .select(col("docId"), key.as("title"), col("content").as("body"), key.as("url"))
  }

  final case class Times(genS: Double, buildS: Double, readyS: Double) {
    def total: Double = genS + buildS + readyS
  }

  /** Runs `reps` set-ups after an untimed warm-up set-up; `one(rep)`
    * returns the rep's times and a handle, of which only the last is kept
    * (`drop` releases the others). The warm-up is full size: after one on
    * a tenth of the docs, build times still fell from rep to rep.
    */
  def repeated[H](ctx: Ctx, nDocs: Long, reps: Int)(one: (Int, Long) => (Times, H))(
      drop: H => Unit): (Seq[Times], H) = {
    val (_, warm) = one(-1, nDocs)
    drop(warm)
    val runs = (0 until reps).map(r => one(r, nDocs))
    runs.init.foreach(r => drop(r._2))
    (runs.map(_._1), runs.last._2)
  }

  /** Span name of a set-up step; the warm-up rep (-1) is kept apart. */
  def step(name: String, rep: Int): String = if (rep < 0) s"warmup.$name" else name

  /** Generate the corpus into `dir` as parquet: the gen step. */
  def gen(ctx: Ctx, rep: Int, nDocs: Long, dir: String): Double = {
    val t0 = Clock.ms
    ctx.tracer.call(step("gen", rep)) {
      corpus(ctx.spark, nDocs, ctx.seed).write.mode("overwrite").parquet(dir)
    }
    (Clock.ms - t0) / 1000
  }

  /** Build the block index of the corpus at `corpusDir`: the build step. */
  def build(ctx: Ctx, rep: Int, corpusDir: String, idxDir: String): Double = {
    val t0 = Clock.ms
    ctx.tracer.call(step("build", rep)) {
      BlockIndex.build(ctx.spark.read.parquet(corpusDir)
        .select("docId", "title", "body"), idxDir, Layout)
    }
    (Clock.ms - t0) / 1000
  }

  /** (docId, title, body) of a generated corpus, for the oracle. */
  def rows(spark: SparkSession, corpusDir: String): Seq[(Long, String, String)] =
    spark.read.parquet(corpusDir).select("docId", "title", "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  def contentBytes(rows: Iterable[(Long, String, String)]): Long =
    rows.iterator.map(_._3.getBytes("UTF-8").length.toLong).sum

  /** End-to-end metrics every workload reports about its set-up. */
  def report(e2e: Metrics, layer: Metrics, times: Seq[Times], nDocs: Long): Unit = {
    System.err.println("[perfbench] set-up reps (gen, build, ready) s: " +
      times.map(t => f"(${t.genS}%.2f, ${t.buildS}%.2f, ${t.readyS}%.2f)").mkString(" "))
    e2e("setup_s", "s", Stats.median(times.map(_.total)))
    e2e("build_docs_per_s", "docs/s", nDocs / Stats.median(times.map(_.buildS)))
    layer("setup.gen_s", "s", Stats.median(times.map(_.genS)))
    layer("setup.build_s", "s", Stats.median(times.map(_.buildS)))
    layer("setup.ready_s", "s", Stats.median(times.map(_.readyS)))
  }

  /** Spark work of the timed builds, per build. */
  def reportBuild(ctx: Ctx, layer: Metrics, reps: Int): Unit = {
    val rec = ctx.tracer.rec
    val w = rec.work(rec.jobsWhere(_.phase == "build"), Nil)
    val n = reps.toDouble
    layer("build.executor_cpu_ms", "ms", w.cpuMs / n)
    layer("build.shuffle_write_bytes", "bytes", w.shuffleWrite / n)
    layer("build.spill_bytes", "bytes", w.spill / n)
    layer("build.output_bytes", "bytes", w.outBytes / n)
    layer("build.stages", "count", w.stages / n)
  }
}
