package graftbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Attributes the traced run's Spark jobs to the benchmark's spans and
  * derives the per-layer metrics and the self-time summary.
  *
  * Jobs a benchmark thread tagged (lookups) go to their span; jobs from
  * the maintenance pool go to `stream`; every other job goes to the
  * `apply` span whose interval holds its start (an applyBatch call, or a
  * trigger's addBatch), and is then classed by the job description the
  * engine set. Jobs without a description stay `unlabelled`: inside an
  * epoch that committed a compaction, after the epoch's own commit, they
  * are reported as `table.compact`, elsewhere as unlabelled. Jobs of a
  * stream trigger outside its addBatch go to `stream`; jobs outside every
  * span are `unattributed`.
  */
final class Report(
    spans: Seq[Span], listener: Option[JobListener], commits: Seq[Commit],
    w0: Double, w1: Double) {

  private val applySpans = spans.filter(_.layer == "apply").sortBy(_.startMs)
  private val triggerSpans = spans.filter(s => s.layer == "stream" && s.name == "trigger")
  private val spanById = spans.map(s => s.id -> s).toMap

  private def within(t: Double, s: Span, slackMs: Double = 5): Boolean =
    t >= s.startMs - slackMs && t <= s.endMs + slackMs

  private val jobs: Seq[JobRec] = listener.toSeq.flatMap(_.jobs.values)
    .filter(j => j.startMs >= w0 && j.startMs <= w1 && j.endMs >= 0).sortBy(_.startMs)

  /** job → (parent span, layer class) */
  val attributed: Seq[(JobRec, Option[Span], String)] = jobs.map { j =>
    if (j.spanId != 0L) (j, spanById.get(j.spanId), "read")
    else if (j.pool == "graft-maintenance") (j, None, "stream.maintenance")
    else applySpans.find(s => within(j.startMs, s)) match {
      case Some(s) =>
        val cls =
          if (j.desc.startsWith("cdc: fold + delta write")) "fold"
          else if (j.desc.startsWith("cdc: planning aggregate")) "apply.plan"
          else if (j.desc.startsWith("cdc: wipe count")) "apply.wipe_count"
          else if (compacting(s) && applyCommitMs(s).forall(j.startMs >= _)) "table.compact"
          else "unlabelled"
        (j, Some(s), cls)
      case None => triggerSpans.find(s => within(j.startMs, s)) match {
        case Some(t) => (j, Some(t), "stream")
        case None => (j, None, "unattributed")
      }
    }
  }

  private def commitsIn(s: Span): Seq[Commit] =
    commits.filter(c => c.committedAtMs >= s.startMs - 2 && c.committedAtMs <= s.endMs + 2)
  private def compacting(s: Span): Boolean = commitsIn(s).exists(_.bucketsCompacted > 0)
  private def applyCommitMs(s: Span): Option[Long] = commitsIn(s).filter(_.isApply).map(_.committedAtMs).maxOption

  private def jobMs(j: JobRec): Double = (j.endMs - j.startMs).toDouble
  private def stagesOf(j: JobRec): Seq[StageRec] = listener.map(_.stagesOf(j)).getOrElse(Nil)
  private def sumStages(js: Seq[JobRec])(f: StageRec => Double): Double = js.flatMap(stagesOf).map(f).sum
  private def cls(c: String): Seq[JobRec] = attributed.collect { case (j, _, k) if k == c => j }

  def layerMetrics(): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    // fold
    val fold = cls("fold")
    m("fold.write_s") = fold.map(jobMs).sum / 1e3
    m("fold.task_s") = sumStages(fold)(_.runMs.toDouble) / 1e3
    m("fold.cpu_s") = sumStages(fold)(_.cpuNs.toDouble) / 1e9
    m("fold.shuffle_bytes") = sumStages(fold)(_.shuffleBytes.toDouble)
    m("fold.spill_bytes") = sumStages(fold)(_.spillBytes.toDouble)
    val big = fold.flatMap(stagesOf).sortBy(-_.runMs).headOption
    m("fold.stage_concurrency") = big.map(s => s.runMs.toDouble / math.max(1L, s.completeMs - s.submitMs)).getOrElse(0.0)
    m("fold.task_skew") = big.filter(_.taskMs.nonEmpty)
      .map(s => s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))).getOrElse(0.0)
    // apply
    val epochs = applySpans
    val inApply = attributed.collect { case (j, Some(s), _) if s.layer == "apply" => j }
    val n = math.max(1, epochs.size)
    m("apply.epochs") = epochs.size.toDouble
    m("apply.epoch_p50_s") = nz(Stats.median(epochs.map(_.durS)))
    m("apply.epoch_max_s") = if (epochs.isEmpty) 0.0 else epochs.map(_.durS).max
    m("apply.task_s") = sumStages(inApply)(_.runMs.toDouble) / 1e3
    m("apply.cpu_s") = sumStages(inApply)(_.cpuNs.toDouble) / 1e9
    m("apply.gc_s") = sumStages(inApply)(_.gcMs.toDouble) / 1e3
    m("apply.jobs_per_epoch") = inApply.size.toDouble / n
    m("apply.tasks_per_epoch") = sumStages(inApply)(_.tasks.toDouble) / n
    m("apply.plan_s") = cls("apply.plan").map(jobMs).sum / 1e3
    m("apply.wipe_count_s") = cls("apply.wipe_count").map(jobMs).sum / 1e3
    m("apply.post_write_s") = epochs.flatMap { s =>
      val lastFold = attributed.collect { case (j, Some(p), "fold") if p.id == s.id => j.endMs }
      val commit = commitsIn(s).filter(_.isApply).map(_.committedAtMs)
      if (lastFold.isEmpty || commit.isEmpty) None else Some((commit.max - lastFold.max).max(0L) / 1e3)
    }.sum
    m("apply.driver_only_s") = epochs.map { s =>
      val iv = attributed.collect { case (j, Some(p), _) if p.id == s.id => (j.startMs.toDouble, j.endMs.toDouble) }
      (s.endMs - s.startMs - Stats.unionMs(iv, s.startMs, s.endMs)) / 1e3
    }.sum
    m("apply.unlabelled_s") = cls("unlabelled").map(jobMs).sum / 1e3
    // table
    val applied = commits.filter(_.isApply)
    val compactions = commits.filter(_.bucketsCompacted > 0)
    m("table.delta_files_added") = applied.map(_.metrics.getOrElse("deltaFilesAdded", 0L).toDouble).sum
    m("table.delta_files_live_end") = commits.lastOption.map(_.deltaFiles.toDouble).getOrElse(0.0)
    m("table.base_files_end") = commits.lastOption.map(_.baseFiles.toDouble).getOrElse(0.0)
    m("table.compact_runs") = compactions.size.toDouble
    m("table.compact_buckets") = compactions.map(_.bucketsCompacted.toDouble).sum
    m("table.compact_s") = cls("table.compact").map(jobMs).sum / 1e3
    m("table.versions") = commits.size.toDouble
    // read
    val lookups = spans.filter(s => s.layer == "read" && s.name == "lookup")
    val lookupJobs = cls("read")
    m("read.lookups") = lookups.size.toDouble
    m("read.lookup_task_s") = sumStages(lookupJobs)(_.runMs.toDouble) / 1e3
    m("read.lookup_jobs") = lookupJobs.size.toDouble
    m("read.deltas_per_lookup_p50") = nz(Stats.median(lookups.flatMap(_.counts.get("delta_files"))))
    m("read.lookup_p75_s") = nz(Stats.pct(lookups.map(_.durS), 0.75))
    // trace health
    m("trace.unattributed_job_s") = cls("unattributed").map(jobMs).sum / 1e3
    m.toMap
  }

  private def nz(d: Double): Double = if (d.isNaN) 0.0 else d

  /** Self time per layer: each span's duration minus the part covered by
    * its children (trigger ⊃ addBatch ⊃ jobs; applyBatch ⊃ jobs; lookup ⊃
    * jobs). Jobs are leaves. Returns layer → (count, total s, self s).
    */
  def selfTimes(): Seq[(String, Int, Double, Double)] = {
    case class Node(layer: String, s: Double, e: Double, parent: Long)
    val spanNodes = spans.filter(s => s.startMs >= w0 - 1 && s.startMs <= w1).map(s =>
      s.id -> Node(s"${s.layer}.${s.name}", s.startMs, s.endMs, s.parent))
    val jobNodes = attributed.map { case (j, p, c) =>
      Node(s"job:$c", j.startMs.toDouble, j.endMs.toDouble, p.map(_.id).getOrElse(-1L)) }
    val children = (spanNodes.map(_._2) ++ jobNodes).groupBy(_.parent)
    val ids = spanNodes.toMap
    val rows = ids.toSeq.map { case (id, n) =>
      val kids = children.getOrElse(id, Nil).map(k => (k.s, k.e))
      (n.layer, n.e - n.s, n.e - n.s - Stats.unionMs(kids, n.s, n.e))
    } ++ jobNodes.map(n => (n.layer, n.e - n.s, n.e - n.s))
    rows.groupBy(_._1).toSeq.map { case (l, xs) => (l, xs.size, xs.map(_._2).sum / 1e3, xs.map(_._3).sum / 1e3) }
      .sortBy(-_._4)
  }

  def summaryText(): String = {
    val b = new StringBuilder
    b ++= f"self time by layer over the measured window (${(w1 - w0) / 1e3}%.1f s)\n"
    b ++= f"${"layer"}%-32s ${"n"}%6s ${"total_s"}%10s ${"self_s"}%10s\n"
    selfTimes().foreach { case (l, n, t, s) => b ++= f"$l%-32s $n%6d $t%10.3f $s%10.3f\n" }
    b.result()
  }

  def traceJson(extra: Seq[(String, String)]): String = {
    val sp = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "parent" -> s.parent.toString, "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "counts" -> Json.obj(s.counts.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    val js = attributed.map { case (j, p, c) =>
      val st = stagesOf(j)
      Json.obj(Seq(
        "job" -> j.id.toString, "class" -> Json.str(c), "desc" -> Json.str(j.desc),
        "parent" -> p.map(_.id).getOrElse(-1L).toString, "start_ms" -> j.startMs.toString,
        "end_ms" -> j.endMs.toString, "ok" -> j.ok.toString,
        "tasks" -> st.map(_.tasks).sum.toString, "task_ms" -> st.map(_.runMs).sum.toString,
        "cpu_ns" -> st.map(_.cpuNs).sum.toString, "shuffle_bytes" -> st.map(_.shuffleBytes).sum.toString))
    }
    val self = selfTimes().map { case (l, n, t, s) =>
      Json.obj(Seq("layer" -> Json.str(l), "n" -> n.toString, "total_s" -> Json.num(t), "self_s" -> Json.num(s))) }
    Json.obj(extra ++ Seq("window_ms" -> Json.arr(Seq(Json.num(w0), Json.num(w1))),
      "spans" -> Json.arr(sp), "jobs" -> Json.arr(js), "self_time" -> Json.arr(self)))
  }
}
