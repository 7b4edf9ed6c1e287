package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.model.{MergeSpec, Schemas}
import graft.operators.CdcApply
import graft.streaming.CdcStream
import graft.table.IceLite

/** `trickle_rw`: the table is pre-filled with one bulk epoch and compacted
  * to base files. Then `CdcStream` tails the log directory while a feeder
  * releases pre-generated chunk files on a fixed schedule (open loop: a
  * chunk's freshness is timed from its due time), and one reader issues
  * seeded point lookups back to back beside it (closed loop). Chunk 0
  * primes the stream (its first trigger pays the stream's start-up), then
  * the schedule runs [[WarmSeconds]] untimed, so batch sizes, delta
  * compaction and the JIT are in their steady state when the timed window
  * opens. Delta compaction and the stream's maintenance cadence both fire
  * within a run.
  */
object Trickle {
  val Buckets = 128
  val PrefillEvents = 100000L
  val ChunkEvents = 1000L
  val WarmSeconds = 3
  /** Stream spec: the default MergeSpec but with a delta-compaction
    * threshold low enough that compaction reaches its steady state
    * within the warm-up. */
  val Spec = MergeSpec(numBuckets = Buckets, morCompactThreshold = 4)
  val MaintenanceEvery = 4

  /** Stream/feeder metrics a workload without a stream reports as 0. */
  val streamZeros: Map[String, Double] = Seq("stream.batches", "stream.events_per_batch_p50",
    "stream.trigger_p50_s", "stream.add_batch_p50_s", "stream.overhead_p50_s", "stream.queue_wait_p50_s",
    "stream.backlog_files_end", "gen.late_p90_s", "gen.late_max_s").map(_ -> 0.0).toMap

  private final case class Chunk(k: Int, files: Seq[java.nio.file.Path], maxOff: Map[Int, Long]) {
    val bytes: Long = files.map(Files.size).sum
    def coveredBy(c: Commit): Boolean = maxOff.forall { case (p, o) => c.maxOff.get(p).exists(_ >= o) }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val prefill = if (opts.toy) 20000L else PrefillEvents
    val chunkEvents = if (opts.toy) 500L else ChunkEvents
    val warmSeconds = if (opts.toy) 2 else WarmSeconds
    val rate = opts.chunkRate
    val nChunks = 1 + math.round((warmSeconds + opts.seconds) * rate).toInt
    val numEvents = prefill + nChunks * chunkEvents
    val cfg = GenConfig(numEvents = numEvents, numConvs = math.max(100, (numEvents / 100).toInt), seed = opts.seed)
    val genDir = s"${opts.workDir}/gen"
    val logDir = s"${opts.workDir}/log"
    val tableDir = s"${opts.workDir}/table"
    val ckpt = s"${opts.workDir}/checkpoint"

    // input: one generated log, split into the pre-fill part and one file per chunk
    spans.time("writeLog", "gen") {
      val log = ChangeLogGen.events(spark, cfg)
      log.filter(col("offset") < prefill).write.parquet(s"$genDir/prefill")
      log.filter(col("offset") >= prefill)
        .withColumn("chunk", ((col("offset") - prefill) / chunkEvents).cast("int"))
        .repartition(col("chunk"))
        .write.partitionBy("chunk").parquet(s"$genDir/chunks")
    }
    val maxOffs = spark.read.parquet(s"$genDir/chunks")
      .groupBy("chunk", "partition").agg(max("offset")).collect()
      .groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    val chunks = (0 until nChunks).map { k =>
      val d = Paths.get(genDir, "chunks", s"chunk=$k")
      val files = Files.list(d).iterator.asScala.filter(_.toString.endsWith(".parquet")).toList.sorted
      Chunk(k, files, maxOffs.getOrElse(k, Map.empty))
    }

    // pre-fill: one bulk epoch, compacted to base files
    val table = IceLite.create(tableDir, Schemas.transcript, Buckets)
    spans.time("prefill", "setup") {
      CdcApply.applyBatch(spark, table, spark.read.parquet(s"$genDir/prefill"), Spec, epoch = Some(("prefill", 0L)))
    }
    spans.time("compact", "setup")(table.compactDeltas(spark))
    val commits = new CommitLog(spark, tableDir)
    commits.poll()
    val recorder = new StreamRecorder(commits)
    spark.streams.addListener(recorder)
    Files.createDirectories(Paths.get(logDir))
    val query = CdcStream.start(spark, CdcStream.StreamConfig(logDir = logDir, tableDir = tableDir,
      checkpointDir = ckpt, streamId = "bench", spec = Spec, availableNow = false,
      maintenanceEvery = MaintenanceEvery))

    def release(c: Chunk): Unit = {
      val now = System.currentTimeMillis()
      c.files.zipWithIndex.foreach { case (f, i) =>
        Files.setLastModifiedTime(f, FileTime.fromMillis(now))
        Files.move(f, Paths.get(logDir, s"chunk-${c.k}-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
    }
    def firstCover(c: Chunk): Option[Commit] = commits.all.find(c.coveredBy)
    def awaitCovered(cs: Seq[Chunk], timeoutMs: Double): Boolean = {
      val end = Clock.nowMs + timeoutMs
      while (Clock.nowMs < end && query.isActive && !cs.forall(c => firstCover(c).isDefined)) {
        Thread.sleep(20)
        commits.poll()
      }
      cs.forall(c => firstCover(c).isDefined)
    }

    val lookupConvs = Checks.sampleConvs(opts.seed + 2, cfg.numConvs, 1000)
    val bucket = Checks.bucketsOf(spark, lookupConvs, Buckets)
    val checkConvs = Checks.sampleConvs(opts.seed + 3, cfg.numConvs, 40)

    // chunk 0 primes the stream; then one schedule: warmSeconds untimed, the timed window [t0, tEnd)
    release(chunks.head)
    val primed = awaitCovered(chunks.take(1), 120000)
    val tw = Clock.nowMs + 100
    val t0 = tw + warmSeconds * 1000.0
    val tEnd = t0 + opts.seconds * 1000.0
    def due(c: Chunk): Double = tw + (c.k - 1) * 1000.0 / rate
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val feeder = new Thread(() => chunks.tail.foreach { c =>
      Clock.sleepUntil(due(c))
      if (due(c) >= t0) late.add((Clock.nowMs - due(c)) / 1e3)
      spans.time("release", "gen", counts = (_: Unit) => Map("files" -> c.files.size.toDouble))(release(c))
    }, "graftbench-feeder")
    feeder.start()

    // reader: point lookups back to back from one caller, timed from t0
    val handle = IceLite.load(tableDir)
    var lookupFailures = 0L
    val lookupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var n = 0
    while (Clock.nowMs < tEnd) {
      val conv = lookupConvs(n % lookupConvs.size)
      val timedLookup = Clock.nowMs >= t0
      n += 1
      try {
        val sp = Checks.timedLookup(spark, spans, handle, conv, bucket(conv), if (timedLookup) "read" else "setup")
        if (timedLookup) lookupS += sp.durS
      } catch { case NonFatal(e) =>
        lookupFailures += 1; System.err.println(s"[graftbench] lookup $conv failed: $e")
      }
    }
    feeder.join()
    val setupS = (t0 - sessionStartMs) / 1e3
    // drain: every released chunk committed and the last trigger finished
    val drained = primed && awaitCovered(chunks, 90000)
    if (drained) query.processAllAvailable()
    val wEnd = Clock.nowMs
    org.apache.spark.BusDrain(spark.sparkContext)
    query.stop()
    CdcStream.awaitMaintenance(ckpt)
    spark.streams.removeListener(recorder)
    commits.poll()

    // freshness: a chunk's due time to the commit that first covers all its offsets
    val timed = chunks.filter(c => due(c) >= t0)
    val cover = timed.map(c => c -> firstCover(c)).toMap
    val fresh = timed.flatMap(c => cover(c).map(cm => (cm.committedAtMs - due(c)) / 1e3))

    // stream triggers of the timed window, with their addBatch as the apply span
    val triggers = recorder.triggers.filter(t => t.startMs >= t0 - 1 && t.startMs <= wEnd)
    val windowCommits = commits.all.filter(c => c.committedAtMs >= t0 && c.committedAtMs <= wEnd)
    val trig = triggers.map { t =>
      val tid = spans.nextId()
      val ev = windowCommits.filter(c => c.isApply && c.committedAtMs >= t.addBatchStartMs - 2 &&
        c.committedAtMs <= t.addBatchEndMs + 2).map(_.metrics("eventsApplied").toDouble).sum
      spans.add(Span(tid, "trigger", "stream", 0L, t.startMs, t.endMs, Map("events" -> ev)))
      spans.add(Span(spans.nextId(), "addBatch", "apply", tid, t.addBatchStartMs, t.addBatchEndMs, Map("events" -> ev)))
      (t, ev)
    }
    val queueWait = timed.flatMap(c =>
      cover(c).flatMap(cm => triggers.find(t => cm.committedAtMs >= t.startMs && cm.committedAtMs <= t.endMs + 2))
        .map(t => (t.startMs - due(c)) / 1e3))

    val fullStateS =
      if (opts.trace) spans.time("fullRead", "read")(table.read(spark).count())._2.durS else 0.0
    val (ok, msg) =
      try Checks.stateMatches(spark, IceLite.load(tableDir),
        spark.read.parquet(s"$genDir/prefill").unionByName(spark.read.parquet(logDir)), checkConvs, opts.corrupt)
      catch { case NonFatal(e) => (false, s"state check failed to run: $e") }

    val report = listener.map { l =>
      org.apache.spark.BusDrain(spark.sparkContext)
      new Report(spans.all, Some(l), windowCommits, t0, wEnd)
    }
    val lates = late.asScala.toSeq
    // apply capacity over the triggers that started inside the window, not the drain's
    // (a window shorter than one trigger, as in the toy run, has none: use all)
    val capacity = Some(trig.filter(_._1.startMs < tEnd)).filter(_.nonEmpty).getOrElse(trig)
    val addBatchS = trig.map(_._1.addBatchMs / 1e3)
    val tableGrowth = (for (a <- commits.all.find(_.committedAtMs >= t0); z <- commits.all.lastOption)
      yield (z.baseBytes + z.deltaBytes) - (a.baseBytes + a.deltaBytes)).getOrElse(0L)
    val covered = Stats.unionMs(spans.all.filter(s => (s.layer == "stream" && s.name == "trigger") ||
      (s.layer == "read" && s.name == "lookup")).map(s => (s.startMs, s.endMs)), t0, tEnd)
    val layers = report.map(_.layerMetrics()).getOrElse(Map.empty) ++ Map(
      "read.full_state_s" -> fullStateS,
      "table.bytes_per_input_byte" -> tableGrowth / math.max(1.0, timed.map(_.bytes).sum.toDouble),
      "trace.span_coverage" -> covered / (tEnd - t0),
      "stream.batches" -> trig.size.toDouble,
      "stream.events_per_batch_p50" -> nz(Stats.median(trig.map(_._2))),
      "stream.trigger_p50_s" -> nz(Stats.median(triggers.map(t => (t.endMs - t.startMs) / 1e3))),
      "stream.add_batch_p50_s" -> nz(Stats.median(addBatchS)),
      "stream.overhead_p50_s" -> nz(Stats.median(triggers.map(t => (t.endMs - t.startMs - t.addBatchMs) / 1e3))),
      "stream.queue_wait_p50_s" -> nz(Stats.median(queueWait)),
      "stream.backlog_files_end" -> timed.filter(c => due(c) <= tEnd && cover(c).forall(_.committedAtMs > tEnd))
        .map(_.files.size).sum.toDouble,
      "gen.late_p90_s" -> nz(Stats.pct(lates, 0.9)),
      "gen.late_max_s" -> (if (lates.isEmpty) 0.0 else lates.max))
    System.err.println(s"[graftbench] triggers (start s, events, addBatch s) ${trig.map { case (t, e) =>
      f"(${(t.startMs - t0) / 1e3}%.1f, ${e}%.0f, ${t.addBatchMs / 1e3}%.2f)" }.mkString(" ")}")
    System.err.println(s"[graftbench] freshness samples ${fresh.map(x => f"$x%.2f").mkString(" ")}")
    System.err.println(s"[graftbench] lookup samples ${lookupS.map(x => f"$x%.2f").mkString(" ")}")
    val streamErrors = recorder.errors ++ Option(query.exception.orNull).map(_.toString).toList
    streamErrors.foreach(e => System.err.println(s"[graftbench] stream: $e"))
    val failed = lookupFailures + (if (ok) 0 else 1) + (if (drained) 0 else 1) + (timed.size - fresh.size) +
      (if (streamErrors.isEmpty) 0 else 1)
    Outcome(
      e2e = Map(
        "setup_s" -> setupS,
        "replay_events_per_s" -> capacity.map(_._2).sum / math.max(1e-9, capacity.map(_._1.addBatchMs / 1e3).sum),
        "freshness_p50_s" -> Stats.median(fresh),
        "freshness_p75_s" -> Stats.pct(fresh, 0.75),
        "lookup_p50_s" -> Stats.median(lookupS.toSeq)),
      layers = layers,
      attempted = n + timed.size + 3L,
      failed = failed,
      checks = Seq(s"state: ${if (ok) "ok" else "MISMATCH"} ($msg)",
        s"timed chunks ${timed.size}, with a freshness sample ${fresh.size}; timed lookups ${lookupS.size}",
        s"commits missed by the log reader: ${commits.missed}"),
      report = report)
  }

  private def nz(d: Double): Double = if (d.isNaN) 0.0 else d
}
