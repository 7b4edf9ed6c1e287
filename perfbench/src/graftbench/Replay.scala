package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.model.{MergeSpec, Schemas}
import graft.operators.CdcApply
import graft.table.IceLite

/** `replay_bulk`: backfill of a pre-written log, one caller, closed loop.
  * Each `applyBatch` epoch takes one chunk of about 1M events into a
  * 128-bucket table with the default [[MergeSpec]], after an untimed
  * warm-up epoch of a smaller first chunk. Afterwards a closed loop of
  * point lookups reads the freshly loaded table.
  */
object Replay {
  val Buckets = 128
  /** Events per timed epoch and in the warm-up epoch; the epoch count is
    * sized from `--seconds` (not from measured speed), so a run is the
    * same work on any engine version. */
  val EpochEvents = 1000000L
  val WarmEvents = 100000L
  val SecondsPerEpoch = 10.0
  val Lookups = 12
  /** Untimed lookups first: the read path's JIT warm-up. */
  val WarmLookups = 2

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val epochEvents = if (opts.toy) 20000L else EpochEvents
    val warmEvents = if (opts.toy) 5000L else WarmEvents
    val epochs = if (opts.toy) 2 else math.max(2, math.ceil(opts.seconds / SecondsPerEpoch).toInt)
    val nLookups = if (opts.toy) 10 else Lookups
    val numEvents = warmEvents + epochs * epochEvents
    val cfg = GenConfig(numEvents = numEvents, numConvs = math.max(100, (numEvents / 100).toInt), seed = opts.seed)
    val spec = MergeSpec(numBuckets = Buckets)
    val logDir = s"${opts.workDir}/log"
    // chunk 0 is the warm-up epoch, chunks 1..epochs the timed ones
    spans.time("writeLog", "gen") {
      ChangeLogGen.events(spark, cfg)
        .withColumn("chunk", when(col("offset") < warmEvents, lit(0))
          .otherwise(lit(1) + ((col("offset") - warmEvents) / epochEvents).cast("int")))
        .write.partitionBy("chunk").parquet(logDir)
    }
    val log = spark.read.parquet(logDir)
    def chunk(k: Int) = log.filter(col("chunk") === k).drop("chunk")

    // untimed warm-up: chunk 0 is the table's first epoch
    val table = IceLite.create(s"${opts.workDir}/table", Schemas.transcript, Buckets)
    spans.time("warmup", "setup") { CdcApply.applyBatch(spark, table, chunk(0), spec, epoch = Some(("bench", 0L))) }
    val commits = new CommitLog(spark, table.dir)
    commits.poll()
    val lookupConvs = Checks.sampleConvs(opts.seed + 2, cfg.numConvs, WarmLookups + nLookups)
    val checkConvs = Checks.sampleConvs(opts.seed + 3, cfg.numConvs, 40)
    val bucket = Checks.bucketsOf(spark, lookupConvs, Buckets)
    val setupS = (Clock.nowMs - sessionStartMs) / 1e3

    // timed: the epochs, back to back
    val w0 = Clock.nowMs
    var failed = 0L
    var events = 0L
    val walls = (1 to epochs).flatMap { k =>
      try {
        val (r, sp) = spans.time("applyBatch", "apply",
          counts = (r: CdcApply.BatchResult) => Map("events" -> r.eventsSeen.toDouble, "rows_written" -> r.rowsWritten.toDouble)) {
          CdcApply.applyBatch(spark, table, chunk(k), spec, epoch = Some(("bench", k.toLong)))
        }
        commits.poll()
        events += r.eventsSeen
        Some(sp.durS)
      } catch { case NonFatal(e) => failed += 1; System.err.println(s"[graftbench] epoch $k failed: $e"); None }
    }
    val w1 = Clock.nowMs

    // timed: point lookups against the loaded table, one at a time, after untimed warm-up ones
    val lookupS = lookupConvs.zipWithIndex.flatMap { case (c, i) =>
      try {
        val sp = Checks.timedLookup(spark, spans, table, c, bucket(c), if (i < WarmLookups) "setup" else "read")
        if (i < WarmLookups) None else Some(sp.durS)
      } catch { case NonFatal(e) => failed += 1; System.err.println(s"[graftbench] lookup $c failed: $e"); None }
    }
    val w2 = Clock.nowMs

    System.err.println(s"[graftbench] epoch samples ${walls.map(x => f"$x%.2f").mkString(" ")}")
    System.err.println(s"[graftbench] lookup samples ${lookupS.map(x => f"$x%.2f").mkString(" ")}")
    val fullStateS =
      if (opts.trace) spans.time("fullRead", "read")(table.read(spark).count())._2.durS else 0.0
    val (ok, msg) =
      try Checks.stateMatches(spark, table, log.filter(col("chunk") <= walls.size).drop("chunk"), checkConvs, opts.corrupt)
      catch { case NonFatal(e) => (false, s"state check failed to run: $e") }
    if (!ok) failed += 1

    val report = listener.map { l =>
      org.apache.spark.BusDrain(spark.sparkContext)
      new Report(spans.all, Some(l), commits.all, w0, w2)
    }
    val inputBytes = dirBytes(logDir)
    val tableBytes = commits.all.lastOption.map(c => c.baseBytes + c.deltaBytes).getOrElse(0L)
    val layers = report.map(_.layerMetrics()).getOrElse(Map.empty) ++ Map(
      "read.full_state_s" -> fullStateS,
      "table.bytes_per_input_byte" -> tableBytes.toDouble / math.max(1L, inputBytes),
      "trace.span_coverage" -> spans.all.filter(_.layer == "apply").map(s => s.endMs - s.startMs).sum /
        math.max(1.0, w1 - w0)) ++ Trickle.streamZeros
    Outcome(
      e2e = Map(
        "setup_s" -> setupS,
        "replay_events_per_s" -> events / math.max(1e-9, walls.sum),
        "freshness_p50_s" -> Stats.median(walls),
        "freshness_p75_s" -> Stats.pct(walls, 0.75),
        "lookup_p50_s" -> Stats.median(lookupS)),
      layers = layers,
      attempted = epochs + WarmLookups + nLookups + 1L,
      failed = failed,
      checks = Seq(s"state: ${if (ok) "ok" else "MISMATCH"} ($msg)"),
      report = report)
  }

  def dirBytes(dir: String): Long = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
    } finally w.close()
  }
}
