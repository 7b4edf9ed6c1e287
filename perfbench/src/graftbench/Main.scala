package graftbench

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 25,
    trace: Boolean = false,
    toy: Boolean = false,
    corrupt: Boolean = false,
    chunkRate: Double = 2.0,
    workDir: String = "",
    traceFile: String = "")

final case class Ctx(spark: SparkSession, opts: Opts, spans: Spans, listener: Option[JobListener],
                     sessionStartMs: Double)

/** What a workload hands back: end-to-end metrics, per-layer metrics, and
  * the operation/check tally behind `failed_ops_frac`.
  */
final case class Outcome(
    e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, checks: Seq[String], report: Option[Report])

/** Benchmark process: runs one workload on `local[4]` with the
  * session config of [[graft.Bench.session]] and prints its result as one
  * line prefixed `@@RESULT `, plus a run-validity line `@@VALIDITY `.
  */
object Main {
  val Cores = 4

  val E2E: Seq[String] = Seq("setup_s", "replay_events_per_s", "freshness_p50_s", "freshness_p75_s",
    "lookup_p50_s")

  def parse(args: Array[String]): Opts = args.grouped(2).foldLeft(Opts()) {
    case (o, Array("--workload", v)) => o.copy(workload = v)
    case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Array("--seconds", v)) => o.copy(seconds = v.toInt)
    case (o, Array("--trace", v)) => o.copy(trace = v == "1")
    case (o, Array("--toy", v)) => o.copy(toy = v == "1")
    case (o, Array("--corrupt-expected", v)) => o.copy(corrupt = v == "1")
    case (o, Array("--chunk-rate", v)) => o.copy(chunkRate = v.toDouble)
    case (o, Array("--work", v)) => o.copy(workDir = v)
    case (o, Array("--trace-file", v)) => o.copy(traceFile = v)
    case (_, a) => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    require(Set("replay_bulk", "trickle_rw")(opts.workload), s"unknown workload '${opts.workload}'")
    val spinPre = graft.Bench.spinProbeMs()
    val memPre = graft.Bench.memProbeGBs()
    val sessionStart = Clock.nowMs
    val spark = graft.Bench.session(Cores, s"graftbench-${opts.workload}")
    val listener = if (opts.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, opts, new Spans, listener, sessionStart)
    val out = opts.workload match {
      case "replay_bulk" => Replay.run(ctx)
      case "trickle_rw" => Trickle.run(ctx)
    }
    val spinPost = graft.Bench.spinProbeMs()
    val memPost = graft.Bench.memProbeGBs()

    out.report.foreach { r =>
      System.err.print(r.summaryText())
      if (opts.traceFile.nonEmpty) java.nio.file.Files.writeString(java.nio.file.Paths.get(opts.traceFile),
        r.traceJson(Seq("workload" -> Json.str(opts.workload), "seed" -> opts.seed.toString,
          "end_to_end" -> Json.obj(out.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    }
    ctx.spans.all.filter(s => Set("writeLog", "warmup", "prefill", "compact")(s.name)).foreach(s =>
      System.err.println(f"[graftbench] setup step ${s.name}: ${s.durS}%.2f s"))
    out.checks.foreach(c => System.err.println(s"[graftbench] check: $c"))
    System.err.println(f"[graftbench] session start to result: ${(Clock.nowMs - sessionStart) / 1e3}%.1f s")
    println("@@VALIDITY " + Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> Cores.toString,
      "seed" -> opts.seed.toString,
      "spin_ms_pre" -> Json.num(spinPre), "spin_ms_post" -> Json.num(spinPost),
      "mem_gbs_pre" -> Json.num(memPre), "mem_gbs_post" -> Json.num(memPost),
      "failed_ops_frac" -> Json.num(out.failed.toDouble / math.max(1L, out.attempted)))))
    println("@@RESULT " + Json.obj(Seq(
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "end_to_end" -> Json.obj(E2E.map(k => k -> Json.num(out.e2e.getOrElse(k, Double.NaN)))),
      "per_layer" -> Json.obj(out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
    spark.stop()
  }
}
