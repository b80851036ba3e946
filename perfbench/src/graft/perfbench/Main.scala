package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--trace-out <file>]`. Prints a summary and,
  * as its last line, one JSON object with every metric the run measured;
  * `perfbench/run.py` selects the ones a run reports.
  */
object Main {
  val Workloads = Seq("serve_mix", "ingest_commits")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(workload == "train" || Workloads.contains(workload), s"unknown workload $workload")
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, opt("trace") == "1")
    val ctx = Ctx(spark, tracer, opt("seed").toLong, opt("seconds").toDouble, work)
    ctx.mark("session")
    if (workload == "train") {
      // a short pass over every workload at a fifth of its size, so that
      // the JVM can archive the classes the benchmark loads
      Workloads.foreach(w => run(w, ctx.copy(work = s"$work/$w", seconds = 1, scale = 0.2)))
      spark.stop()
      return
    }
    val out =
      try run(workload, ctx)
      finally tracer.detach()
    if (tracer.enabled) {
      val self = tracer.spans.selfMs
      self.foreach { case (name, ms) => out.perLayer(s"self_ms.$name", "ms", ms) }
      opt.get("trace-out").foreach(p => writeTrace(p, workload, ctx.seed, tracer.spans, self))
    }
    spark.stop()
    ctx.mark("stop")

    val failed = out.failures.size
    out.notes.foreach(n => println(s"[perfbench] $workload: $n"))
    out.failures.take(20).foreach(f => println(s"[perfbench] FAILED $f"))
    println(f"[perfbench] $workload: failed_frac=${failed.toDouble / out.attempted}%.4f " +
      s"($failed of ${out.attempted} ops)")
    def metrics(m: Metrics) = m.values.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${out.attempted},"failed":$failed,""" +
      s""""end_to_end":{${metrics(out.endToEnd)}},"per_layer":{${metrics(out.perLayer)}},""" +
      s""""failures":[${out.failures.take(20).map(f => "\"" + esc(f) + "\"").mkString(",")}]}""")
  }

  private def run(workload: String, ctx: Ctx): Outcome = workload match {
    case "serve_mix" => ServeWorkload.run(ctx)
    case "ingest_commits" => IngestWorkload.run(ctx)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  /** Spans (name, start, end, parent, op) and self time per span name. */
  private def writeTrace(path: String, workload: String, seed: Long, spans: Spans,
      self: Map[String, Double]): Unit = {
    val ss = spans.all.map(s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    val selfJs = self.toSeq.sortBy(-_._2).map { case (n, ms) => f""""$n":$ms%.3f""" }
    val json = s"""{"workload":"$workload","seed":$seed,""" +
      s""""self_ms":{${selfJs.mkString(",")}},"spans":[\n${ss.mkString(",\n")}\n]}\n"""
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
  }
}
