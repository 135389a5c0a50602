package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each graft module, and the
  * Spark events that happen inside them. Kept in memory; written out
  * when the run ends.
  *
  * A span tags the Spark jobs its thread starts (a job tag is an
  * inheritable thread-local property, so a streaming query's jobs
  * carry the tag of the span that started it). The listeners attribute
  * every job, stage, task and SQL execution to the innermost span by
  * that tag. With tracing off no span is opened and the listeners are
  * not registered. */
object Trace {
  @volatile var on = false
  @volatile var workload = ""
  @volatile var runId = ""

  final class Span(val id: Long, val parent: Long, val name: String,
                   val startMs: Long, val startNs: Long) {
    @volatile var endNs: Long = -1L
    @volatile var endMs: Long = -1L
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class Job(val id: Int, val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }

  final class Agg {
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }

  /** One finished SQL execution: its planning phases and graft rule
    * summaries. Its span is resolved when the pass is read, because the
    * execution listener and the job listener drain separate queues. */
  final case class Plan(exec: Long, func: String, ms: Double, analysisMs: Double, optimizationMs: Double,
                        physicalMs: Double, rules: Map[String, (Long, Long, Long)],
                        files: Long)

  /** One streaming trigger's phase durations. */
  final case class Trigger(durations: Map[String, Long])

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobAgg = new ConcurrentHashMap[Int, Agg]()
  /** stage id → task durations (ms), for per-stage skew. */
  val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  val execSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  /** QueryExecution id → SQL execution id. */
  private val qeExec = new ConcurrentHashMap[Long, java.lang.Long]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val tagPrefix = "gbspan-"

  /** Run `body` inside a span named `name`; a plain call when tracing is off. */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    if (!on) return body
    val stack = current.get
    val s = new Span(nextId.getAndIncrement(), stack.headOption.fold(0L)(_.id), name,
      System.currentTimeMillis(), System.nanoTime())
    val sc = spark.sparkContext
    stack.headOption.foreach(p => sc.removeJobTag(tagPrefix + p.id))
    sc.addJobTag(tagPrefix + s.id)
    current.set(s :: stack)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      spans.add(s)
      sc.removeJobTag(tagPrefix + s.id)
      current.set(stack)
      stack.headOption.foreach(p => sc.addJobTag(tagPrefix + p.id))
    }
  }

  private def spanOfTags(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(tagPrefix) => t.drop(tagPrefix.length).toLong }
      .getOrElse(0L)

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val sid = spanOfTags(tags)
      if (sid != 0L) {
        jobs.put(e.jobId, new Job(e.jobId, sid, e.time))
        jobAgg.put(e.jobId, new Agg)
        e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (!stageJob.containsKey(e.stageId) || e.taskInfo == null) return
      val a = jobAgg.get(stageJob.get(e.stageId))
      val m = e.taskMetrics
      a.tasks.incrementAndGet()
      a.taskMs.addAndGet(e.taskInfo.duration)
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(e.taskInfo.duration)
      if (m != null) {
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val sid = spanOfTags(s.jobTags)
        if (sid != 0L) execSpan.put(s.executionId, sid)
      case e: SparkListenerSQLExecutionEnd =>
        // the end event carries the QueryExecution the execution listener
        // later sees (an accessor Spark keeps package-private)
        e.getClass.getMethod("qe").invoke(e) match {
          case qe: QueryExecution => qeExec.put(qe.id, e.executionId)
          case _ => ()
        }
      case _ => ()
    }
  }

  /** Graft's own optimizer rules, by the name the planning tracker records. */
  val graftRules: Seq[String] = Seq("RangeJoinRewrite", "MatViewRewrite", "MetaAggregate",
    "GraftScanInline").map(r => s"graft.plans.$r")

  object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).fold(0.0)(p => (p.endTimeMs - p.startTimeMs).toDouble)
      val rules = qe.tracker.rules.collect {
        case (n, r) if graftRules.contains(n) =>
          n -> ((r.totalTimeNs, r.numInvocations, r.numEffectiveInvocations))
      }
      // files the physical scans read, from the scan nodes' metrics
      val files = collect(qe.executedPlan) {
        case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum
      plans.add(Plan(qe.id, funcName, durationNs / 1e6, phase("analysis"), phase("optimization"), phase("planning"),
        rules, files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        triggers.add(Trigger(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  // ---- per-span rollups --------------------------------------------------

  /** A span and all spans under it. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.asScala.filter(_.parent == s.id).toSeq
    s +: kids.flatMap(subtree)
  }

  final case class Rollup(ms: Double, jobs: Long, tasks: Long, taskMs: Long,
                          driverMs: Double, shuffleBytes: Long, spillBytes: Long)

  /** Counts of a span inclusive of its children; `driverMs` is the
    * span's wall time minus the union of its jobs' intervals. */
  def rollup(s: Span): Rollup = {
    val ids = subtree(s).map(_.id).toSet
    val js = jobs.values().asScala.filter(j => ids.contains(j.span)).toSeq
    val ag = js.flatMap(j => Option(jobAgg.get(j.id)))
    val intervals = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).filter(i => i._2 > i._1)
      .sortBy(_._1)
    var covered = 0L
    var hi = Long.MinValue
    intervals.foreach { case (a, b) =>
      if (b > hi) { covered += b - math.max(a, hi); hi = b }
    }
    Rollup(s.ms, js.size, ag.map(_.tasks.get).sum, ag.map(_.taskMs.get).sum,
      math.max(0.0, s.ms - covered), ag.map(_.shuffleBytes.get).sum,
      ag.map(_.spillBytes.get).sum)
  }

  def plansOf(s: Span): Seq[Plan] = {
    val ids = subtree(s).map(_.id).toSet
    plans.asScala.filter(p => spanOf(p).exists(ids.contains)).toSeq
  }

  def spanOf(p: Plan): Option[Long] =
    Option(qeExec.get(p.exec)).flatMap(e => Option(execSpan.get(e))).map(_.longValue)

  /** Spans as JSON lines for the trace file. */
  def spanJson: Iterator[String] = spans.asScala.iterator.map { s =>
    s"""{"workload":"$workload","run":"$runId","id":${s.id},"parent":${s.parent},""" +
      s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"ms":${s.ms}}"""
  }
}
