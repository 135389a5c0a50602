package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Files and bytes of every committed snapshot version a traced pass
  * publishes (read from the table directory, outside the program). */
object Census {
  final case class Version(files: Long, bytes: Long, months: Long)
  val versions = new java.util.concurrent.ConcurrentLinkedQueue[Version]()
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def record(table: String): Unit = if (Trace.on) {
    val root = new File(table)
    Option(root.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f.getName.matches("v\\d{8}"))
      .filter(v => new File(root, "_manifests/m" + v.getName.drop(1)).exists())
      .foreach { v =>
        if (seen.add(v.getPath)) {
          val parts = walk(v).filter(f => f.getName.endsWith(".parquet"))
          val months = Option(v.listFiles()).toSeq.flatten.count(_.getName.startsWith("txn_month="))
          versions.add(Version(parts.size.toLong, parts.map(_.length).sum, months.toLong))
        }
      }
  }

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def bytesUnder(path: String): Long = walk(new File(path)).map(_.length).sum

  def deleteRec(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete()
    ()
  }
}

/** Per-layer figures computed from the trace of one pass. */
object Layers {
  private def named(n: String): Seq[Trace.Span] =
    Trace.spans.asScala.filter(_.name == n).toSeq

  private def prefixed(p: String): Seq[Trace.Span] =
    Trace.spans.asScala.filter(_.name.startsWith(p)).toSeq

  /** ms, jobs, tasks, task_ms, driver_ms, shuffle_bytes and spill_bytes
    * of the spans named `n`, as medians per call. */
  def spanMetrics(n: String): Map[String, Double] = {
    val rs = named(n).map(Trace.rollup)
    def med(f: Trace.Rollup => Double) = Stats.median(rs.map(f))
    Map(s"$n.ms" -> med(_.ms), s"$n.jobs" -> med(_.jobs.toDouble),
      s"$n.tasks" -> med(_.tasks.toDouble), s"$n.task_ms" -> med(_.taskMs.toDouble),
      s"$n.driver_ms" -> med(_.driverMs), s"$n.shuffle_bytes" -> med(_.shuffleBytes.toDouble),
      s"$n.spill_bytes" -> med(_.spillBytes.toDouble))
  }

  def pipeline(): Map[String, Double] = {
    // applyMonthly split by SQL execution: the stats collect (merge and
    // cache), the parquet write, and the driver remainder
    val apply = named("pipeline.apply_monthly").map { s =>
      val ps = Trace.plansOf(s)
      val merge = ps.filter(_.func == "collect").map(_.ms).sum
      val write = ps.filter(p => p.func != "collect" && p.func != "count").map(_.ms).sum
      (merge, write, math.max(0.0, s.ms - merge - write))
    }
    Seq("pipeline.initialize", "pipeline.decide_and_log", "pipeline.apply_monthly",
      "pipeline.maintain", "pipeline.verify_and_fix").flatMap(spanMetrics).toMap ++ Map(
      "pipeline.apply_monthly.merge_ms" -> Stats.median(apply.map(_._1)),
      "pipeline.apply_monthly.write_ms" -> Stats.median(apply.map(_._2)),
      "pipeline.apply_monthly.commit_ms" -> Stats.median(apply.map(_._3)),
      "sources.pp_csv.ms" -> Stats.median(named("sources.pp_csv").map(_.ms)))
  }

  /** The census of every version the pass committed. */
  def sources(): Map[String, Double] = {
    val vs = Census.versions.asScala.toSeq
    Map("sources.publish.files" -> Stats.median(vs.map(_.files.toDouble)),
      "sources.publish.bytes" -> Stats.median(vs.map(_.bytes.toDouble)),
      "sources.publish.files_per_month" ->
        Stats.median(vs.filter(_.months > 0).map(v => v.files.toDouble / v.months)))
  }

  /** Tasks per stage and the slowest task over the median task, per stage. */
  def session(): Map[String, Double] = {
    val stages = Trace.stageTasks.values().asScala.map(_.asScala.map(_.doubleValue).toSeq).toSeq
    Map("session.tasks_per_stage_p50" -> Stats.median(stages.map(_.size.toDouble)),
      "session.skew_ratio_p95" -> Stats.quantile(stages.filter(_.size > 1)
        .map(ts => ts.max / math.max(1.0, Stats.median(ts))), 0.95))
  }

  /** Analyst queries: one `query.<template>` span each, with `sources.resolve`
    * and `exec` children. */
  def reads(totalFiles: Long): Map[String, Double] = {
    val qs = prefixed("query.")
    val byTemplate = qs.groupBy(_.name.stripPrefix("query."))
    val plans = qs.flatMap(Trace.plansOf)
    val exec = named("exec").map(Trace.rollup)
    def ruleHits(rule: String, templates: Seq[String]): Double = {
      val ss = templates.flatMap(t => byTemplate.getOrElse(t, Nil))
      val hits = ss.count(s => Trace.plansOf(s).exists(_.rules.get(s"graft.plans.$rule").exists(_._3 > 0)))
      if (ss.isEmpty) 0.0 else hits.toDouble / ss.size
    }
    val skip = byTemplate.getOrElse("skipping", Nil).flatMap(Trace.plansOf).map(_.files)
    Map(
      "sources.resolve_ms_p50" -> Stats.median(named("sources.resolve").map(_.ms)),
      "sources.files_scanned_per_query" -> Stats.median(qs.map(s => Trace.plansOf(s).map(_.files).sum.toDouble)),
      "sources.skip.pruned_ratio" ->
        (if (skip.isEmpty || totalFiles == 0) 0.0 else 1.0 - Stats.median(skip.map(_.toDouble)) / totalFiles),
      "plans.analysis_ms_p50" -> Stats.median(plans.map(_.analysisMs)),
      "plans.optimization_ms_p50" -> Stats.median(plans.map(_.optimizationMs)),
      "plans.physical_ms_p50" -> Stats.median(plans.map(_.physicalMs)),
      "plans.graft_rules_us_p50" -> Stats.median(plans.map(_.rules.values.map(_._1).sum / 1e3)),
      "plans.mv_rewrite.hit_ratio" -> ruleHits("MatViewRewrite", Seq("sql_view")),
      "plans.meta_agg.hit_ratio" -> ruleHits("MetaAggregate", Seq("whole_table")),
      "plans.scan_inline.hit_ratio" -> ruleHits("GraftScanInline", Seq("whole_table", "sql_view", "sql_period")),
      "exec.ms_p50" -> Stats.median(exec.map(_.ms)),
      "exec.jobs_per_query" -> Stats.mean(exec.map(_.jobs.toDouble)),
      "exec.tasks_per_query" -> Stats.mean(exec.map(_.tasks.toDouble)),
      "exec.task_ms_per_query" -> Stats.mean(exec.map(_.taskMs.toDouble)),
      "exec.driver_gap_ms_p50" -> Stats.median(exec.map(_.driverMs)))
  }

  def operators(): Map[String, Double] =
    Seq("clean_corpus", "dup_clusters", "cluster_split", "cluster_split_incr", "export")
      .flatMap(n => spanMetrics(s"operators.$n")).toMap

  /** Per-trigger figures from `StreamingQueryProgress.durationMs`, and the
    * stream's jobs and task time per trigger. */
  def streaming(): Map[String, Double] = {
    val ts = Trace.triggers.asScala.toSeq
    def d(keys: String*) = Stats.median(ts.map(t => keys.map(t.durations.getOrElse(_, 0L)).sum.toDouble))
    val streamSpans = named("streaming.apply_updates").map(_.id).toSet
    val js = Trace.jobs.values().asScala.filter(j => streamSpans.contains(j.span)).toSeq
    val taskMs = js.flatMap(j => Option(Trace.jobAgg.get(j.id))).map(_.taskMs.get).sum
    val n = math.max(1, ts.size)
    Map("streaming.trigger_ms_p50" -> d("triggerExecution"),
      "streaming.add_batch_ms_p50" -> d("addBatch"),
      "streaming.latest_offset_ms_p50" -> d("latestOffset"),
      "streaming.planning_ms_p50" -> d("queryPlanning"),
      "streaming.commit_ms_p50" -> d("walCommit", "commitOffsets"),
      "streaming.jobs_per_trigger" -> js.size.toDouble / n,
      "streaming.task_ms_per_trigger" -> taskMs.toDouble / n)
  }
}
