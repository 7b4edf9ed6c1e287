package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.table.{IceLiteTable, MetaTables}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener timestamps and file mtimes.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def sleepUntil(ms: Double): Unit = {
    val d = ms - nowMs
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }
}

/** One timed boundary: a call into the engine, a lookup, a stream
  * trigger, or a feeder release. Spans of one epoch, lookup or trigger
  * share `id`; `counts` holds rows/bytes/files seen at the boundary.
  */
final case class Span(
    id: Long, name: String, layer: String, parent: Long,
    startMs: Double, endMs: Double, counts: Map[String, Double] = Map.empty) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Span = synchronized { buf += s; s }
  def all: Seq[Span] = synchronized(buf.toList)

  /** Time `body` as a span; the span is recorded even when `body` throws.
    * `counts` are recorded with it, from the body's result.
    */
  def time[A](name: String, layer: String, id: Long = -1L,
              counts: A => Map[String, Double] = (_: A) => Map.empty[String, Double])(body: => A): (A, Span) = {
    val sid = if (id < 0) nextId() else id
    val t0 = Clock.nowMs
    var ok = false
    try {
      val a = body
      ok = true
      val t1 = Clock.nowMs
      (a, add(Span(sid, name, layer, 0L, t0, t1, counts(a))))
    } finally if (!ok) add(Span(sid, name, layer, 0L, t0, Clock.nowMs, Map("failed" -> 1.0)))
  }
}

final class JobRec(val id: Int, val startMs: Long, val desc: String, val pool: String,
                   val spanId: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var ok: Boolean = true
}

final class StageRec(val id: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs: ArrayBuffer[Long] = ArrayBuffer.empty
}

/** Records every Spark job, stage and task of the traced run. Jobs keep
  * the description the engine set, the scheduler pool, and the span id a
  * benchmark thread tagged its own calls with.
  */
final class JobListener extends SparkListener {
  val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  val stages = scala.collection.concurrent.TrieMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, prop("spark.job.description"),
      prop("spark.scheduler.pool"), scala.util.Try(prop(JobListener.SpanProp).toLong).getOrElse(0L),
      e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach { j =>
    j.endMs = e.time
    j.ok = e.jobResult == JobSucceeded
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId)).taskMs += e.taskInfo.duration
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val r = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
    r.submitMs = si.submissionTime.getOrElse(0L)
    r.completeMs = si.completionTime.getOrElse(0L)
    r.tasks = si.numTasks
    val m = si.taskMetrics
    if (m != null) {
      r.runMs = m.executorRunTime
      r.cpuNs = m.executorCpuTime
      r.gcMs = m.jvmGCTime
      r.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      r.spillBytes = m.diskBytesSpilled
    }
  }

  /** Completed stages of `j`. A stage listed by several jobs (reused
    * shuffle output) belongs to the job it was submitted in.
    */
  def stagesOf(j: JobRec): Seq[StageRec] =
    j.stageIds.flatMap(stages.get).filter(s =>
      s.completeMs > 0 && s.submitMs >= j.startMs - 1 && (j.endMs < 0 || s.submitMs <= j.endMs + 1))
}

object JobListener {
  /** Thread-local Spark property a benchmark thread sets around its own
    * engine calls, so their jobs are attributed without guessing by time.
    */
  val SpanProp = "graftbench.span"

  def tagged[A](spark: SparkSession, spanId: Long)(body: => A): A = {
    spark.sparkContext.setLocalProperty(SpanProp, spanId.toString)
    try body finally spark.sparkContext.setLocalProperty(SpanProp, null)
  }
}

/** One stream trigger as reported by Structured Streaming's progress. */
final case class Trigger(batchId: Long, startMs: Double, durations: Map[String, Long]) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def addBatchMs: Double = durations.getOrElse("addBatch", 0L).toDouble
  /** addBatch runs just before the offset commit, at the end of the trigger. */
  def addBatchEndMs: Double = endMs - durations.getOrElse("commitOffsets", 0L)
  def addBatchStartMs: Double = addBatchEndMs - addBatchMs
}

/** One table commit, read from snapshot metadata. */
final case class Commit(
    version: Long, committedAtMs: Long, metrics: Map[String, Long], maxOff: Map[Int, Long],
    baseFiles: Int, deltaFiles: Int, baseBytes: Long, deltaBytes: Long) {
  def isApply: Boolean = metrics.contains("eventsApplied")
  def bucketsCompacted: Long = metrics.getOrElse("bucketsCompacted", 0L)
}

/** Follows a table's snapshot log from outside: every new version is read
  * once (metrics, `maxoff:<partition>` properties, layout counts and the
  * `committed_at` instant from [[MetaTables.snapshots]]).
  */
final class CommitLog(spark: SparkSession, dir: String) {
  private val table = new IceLiteTable(dir)
  private var seen = 0L
  private val buf = ArrayBuffer.empty[Commit]
  @volatile var missed = 0L

  def all: Seq[Commit] = synchronized(buf.toList)

  def poll(): Unit = synchronized {
    val cur = table.currentVersion
    if (cur <= seen) return
    val rows = MetaTables.snapshots(spark, table).collect().map(r => r.getAs[Long]("version") -> r).toMap
    val fresh = ((seen + 1) to cur).flatMap { v =>
      rows.get(v) match {
        case None => missed += 1; None
        case Some(r) =>
          // expiry may remove a version between the listing and this read
          val snap = scala.util.Try(table.snapshot(v)).toOption
          if (snap.isEmpty) missed += 1
          snap.map(s => Commit(v, r.getAs[java.sql.Timestamp]("committed_at").getTime, s.metrics,
            s.properties.collect { case (k, o) if k.startsWith("maxoff:") => k.stripPrefix("maxoff:").toInt -> o.toLong },
            r.getAs[Int]("n_base_files"), r.getAs[Int]("n_delta_files"),
            r.getAs[Long]("base_bytes"), r.getAs[Long]("delta_bytes")))
      }
    }
    seen = cur
    buf ++= fresh
  }
}

/** Records stream triggers and, after each one, the commits it made. */
final class StreamRecorder(commits: CommitLog) extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[Trigger]
  def triggers: Seq[Trigger] = synchronized(buf.toList)
  @volatile var errors: List[String] = Nil

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => errors ::= x)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) synchronized {
      buf += Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d)
    }
    try commits.poll()
    catch { case t: Throwable => errors ::= s"commit poll: $t" }
  }
}
