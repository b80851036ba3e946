package graft.perfbench

import graft.index.BlockIndex

/** A BM25 top-k op through the public `BlockIndex.bm25TopK`: the call
  * (driver-side planning, including its envelope and θ-probe jobs) and
  * the collect of the returned plan (scan, decode, score, top-k).
  */
object Wand {
  val K = 10

  def op(ctx: Ctx, dir: String, query: String, id: Long, traced: Boolean)
      : (Op, Seq[(Long, Double)]) = {
    val t0 = Clock.ms
    try {
      val df = ctx.tracer.call("bm25TopK", id) {
        BlockIndex.bm25TopK(ctx.spark, dir, query, K)
      }
      val t1 = Clock.ms
      val rows = ctx.tracer.call("collect", id)(df.collect())
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val t2 = Clock.ms
      (Op(id, query, t0, t2 - t0, traced, hits = rows.length,
        planMs = t1 - t0, execMs = t2 - t1), rows)
    } catch {
      case e: Exception =>
        (Op(id, query, t0, Clock.ms - t0, traced,
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")), Nil)
    }
  }

  /** The end-to-end latency of `ops`, and their throughput: successful
    * ops per second of `windowS`. The p90 has too few samples beyond it in
    * a run to bound a change, so it is reported per layer, beside its
    * sample count.
    */
  def reportOps(e2e: Metrics, layer: Metrics, ops: Seq[Op], windowS: Double): Unit = {
    val lat = ops.filter(_.error.isEmpty).map(_.ms)
    e2e("latency_p50_ms", "ms", Stats.median(lat))
    e2e("throughput_ops_s", "ops/s", lat.length / windowS)
    layer("ops.count", "count", lat.length)
    layer("ops.p90_ms", "ms", Stats.quantile(lat, 0.9))
  }

  /** Per-layer numbers of the traced ops: the bm25TopK call, the collect
    * of its plan, and the Spark engine under both.
    */
  def reportLayers(ctx: Ctx, layer: Metrics, ops: Seq[Op]): Unit = {
    val rec = ctx.tracer.rec
    val traced = ops.filter(o => o.traced && o.error.isEmpty)
    final case class PerOp(plan: SparkWork, exec: SparkWork, all: SparkWork)
    val per = traced.map { o =>
      val js = rec.jobsWhere(j => j.op == o.id && (j.phase == "bm25TopK" || j.phase == "collect"))
      val win = Seq((o.startMs, o.startMs + o.ms))
      val planWin = Seq((o.startMs, o.startMs + o.planMs))
      val execWin = Seq((o.startMs + o.planMs, o.startMs + o.ms))
      PerOp(rec.work(js.filter(_.phase == "bm25TopK"), planWin),
        rec.work(js.filter(_.phase == "collect"), execWin), rec.work(js, win))
    }
    def med(f: PerOp => Double) = Stats.median(per.map(f))
    val hits = traced.map(_.hits.toLong).sum
    layer("wand.ops", "count", traced.length)
    layer("wand.plan_ms", "ms", Stats.median(traced.map(_.planMs)))
    layer("wand.plan_jobs", "count", med(_.plan.jobs))
    layer("wand.exec_ms", "ms", Stats.median(traced.map(_.execMs)))
    layer("wand.input_rows", "rows", med(_.all.inRows.toDouble))
    layer("wand.input_bytes", "bytes", med(_.all.inBytes.toDouble))
    layer("wand.executor_cpu_ms", "ms", med(_.all.cpuMs))
    layer("wand.hits", "count", hits)
    layer("wand.rows_per_hit", "ratio",
      if (hits == 0) 0.0 else per.map(_.all.inRows).sum.toDouble / hits)
    layer("spark.actions", "count", med(_.all.actions))
    layer("spark.jobs", "count", med(_.all.jobs))
    layer("spark.stages", "count", med(_.all.stages))
    layer("spark.tasks", "count", med(_.all.tasks))
    layer("catalyst.analysis_ms", "ms", med(_.all.analysisMs))
    layer("catalyst.optimization_ms", "ms", med(_.all.optimizationMs))
    layer("catalyst.planning_ms", "ms", med(_.all.planningMs))
    layer("spark.scheduler_delay_ms", "ms", med(_.all.schedDelayMs.toDouble))
    layer("spark.gc_ms", "ms", med(_.all.gcMs.toDouble))
  }

  /** Tracing overhead: traced minus untraced median latency. */
  def reportOverhead(layer: Metrics, ops: Seq[Op]): Unit = {
    val ok = ops.filter(_.error.isEmpty)
    val t = Stats.median(ok.filter(_.traced).map(_.ms))
    val u = Stats.median(ok.filterNot(_.traced).map(_.ms))
    layer("trace.traced_p50_ms", "ms", t)
    layer("trace.untraced_p50_ms", "ms", u)
    layer("trace.overhead_ms", "ms", t - u)
  }
}
