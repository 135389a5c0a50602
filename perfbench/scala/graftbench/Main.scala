package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Operation and check accounting shared by every workload: each call
  * into the program and each output check is one attempted operation;
  * an exception or a wrong answer is one failure, recorded with its
  * exception class and message. */
final class Ledger {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def fail(what: String, why: String): Unit = synchronized {
    failed += 1
    if (errors.size < 50) errors.add(s"$what: $why")
  }

  /** One call into the program; a throw counts as a failure and yields None. */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch {
      case e: Throwable =>
        fail(what, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** One output check. */
  def check(what: String)(ok: Boolean, detail: => String = ""): Boolean = {
    synchronized { attempted += 1 }
    if (!ok) fail(what, s"wrong answer ${detail.take(300)}")
    ok
  }
}

/** What one workload pass measured. `p50Ms` is the typical latency of
  * the workload's unit of work, `work` the units of work done (change
  * records, queries, documents) over `workSeconds`. `detail` holds the
  * workload's own figures. */
final case class Pass(p50Ms: Double, work: Double, workSeconds: Double,
                      detail: Map[String, (Double, String)])

trait Workload {
  def name: String
  /** Build inputs (and any table the workload reads) under `dir`, and
    * warm the workload's calls; the warm-up calls count in `ledger`. */
  def setup(spark: SparkSession, dir: String, seed: Long, ledger: Ledger): Unit
  /** Run timed work for about `seconds`, checking every output. */
  def pass(spark: SparkSession, dir: String, seconds: Double, ledger: Ledger): Pass
  /** Per-layer figures from the spans and events of a traced pass. */
  def layers(pass: Pass): Map[String, Double]
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "monthly_update" -> (() => new MonthlyUpdate),
    "analyst_reads" -> (() => new AnalystReads),
    "corpus_dedup" -> (() => new CorpusDedup))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", ".bench_build/work")).getAbsoluteFile
    val outFile = opts.get("out")
    Plant.on = opts.get("plant-wrong").contains("1")
    val wl = workloads.getOrElse(wname, sys.error(s"unknown workload $wname"))()

    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val ledger = new Ledger
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    try {
      val dir = new File(work, s"$wname-$seed").getPath
      wl.setup(spark, dir, seed, ledger)
      val setupS = (System.currentTimeMillis() - t0) / 1000.0
      if (!traced) {
        val pass = wl.pass(spark, dir, seconds, ledger)
        metrics("setup_s") = (setupS, "s")
        metrics("latency_ms_p50") = (pass.p50Ms, "ms")
        metrics("work_per_s") = (pass.work / pass.workSeconds, "1/s")
        report(metrics, ledger, pass, outFile)
      } else {
        // tracing overhead: an untraced pass, then a traced pass of the
        // same inputs in the same JVM; the traced pass runs second, so
        // it is the warmer of the two
        val base = wl.pass(spark, dir, seconds, ledger)
        Trace.workload = wname
        Trace.runId = s"$wname-$seed-${System.currentTimeMillis()}"
        Trace.install(spark)
        Heap.resetPeak()
        Trace.on = true
        val pass = wl.pass(spark, dir, seconds, ledger)
        val peakMb = Heap.peakMb
        Trace.on = false
        Thread.sleep(500) // let the listener bus drain
        val layer = wl.layers(pass) ++ pass.detail.map { case (k, v) => k -> v._1 } +
          ("session.peak_heap_mb" -> peakMb)
        Stats.perLayer.foreach { case (k, unit) => metrics(k) = (layer.getOrElse(k, 0.0), unit) }
        ledger.check("untraced baseline pass")(base.p50Ms > 0, s"latency ${base.p50Ms} ms")
        metrics("trace.overhead_pct") = (100.0 * (pass.p50Ms / base.p50Ms - 1.0), "%")
        System.err.println(f"[graftbench] tracing overhead: traced ${pass.p50Ms}%.1f ms against " +
          f"untraced ${base.p50Ms}%.1f ms; ${Trace.plans.size} plans traced, " +
          s"${Trace.plans.asScala.count(p => Trace.spanOf(p).isEmpty)} outside any span")
        // spans go beside the results directory, in `traces`
        outFile.foreach { f =>
          val traces = new File(new File(f).getAbsoluteFile.getParentFile.getParentFile, "traces")
          Gen.writeLines(new File(traces, s"${Trace.runId}.jsonl").getPath, Trace.spanJson)
        }
        report(metrics, ledger, pass, outFile)
      }
    } finally {
      spark.stop()
    }
    // the result is out: exit even if a library thread would keep the JVM up
    Console.flush()
    System.exit(0)
  }

  /** The session every workload runs in, with its scratch space under `work`. */
  def session(work: File): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def report(metrics: mutable.LinkedHashMap[String, (Double, String)],
                     ledger: Ledger, pass: Pass, outFile: Option[String]): Unit = {
    ledger.errors.asScala.foreach(e => System.err.println(s"[graftbench] FAILED $e"))
    pass.detail.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
      println(f"[graftbench] $k%-40s $v%14.4f $u")
    }
    val m = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val line = s"""{"correct": ${ledger.failed == 0}, "attempted": ${math.max(1L, ledger.attempted)}, """ +
      s""""failed": ${ledger.failed}, "metrics": $m}"""
    outFile.foreach(f => Gen.writeLines(f, Iterator(line)))
    println(line)
  }
}

/** A wrong expectation planted on purpose, to show that the checks catch
  * it: with `--plant-wrong 1` every workload's expected answers are off
  * by one row or one count, so the run must report failures. */
object Plant {
  @volatile var on = false
  def apply(n: Long): Long = if (on) n + 1 else n
  def drop[T](xs: Seq[T]): Seq[T] = if (on) xs.drop(1) else xs
}

/** Peak heap the program retains, for traced runs: heap in use right
  * after a full collection, sampled at the boundaries between units of
  * work and at the end of the pass. Readings after a forced full
  * collection do not depend on when young collections happen to run,
  * which keeps the peak steady from run to run. Untraced runs never
  * force a collection. */
object Heap {
  private var peak = 0L

  def sample(): Unit = if (Trace.on) record()

  private def record(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }

  def resetPeak(): Unit = synchronized { peak = 0L }

  def peakMb: Double = {
    record()
    val p: Long = synchronized(peak)
    p / (1024.0 * 1024.0)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Every per-layer metric the traced run reports, with its unit. A
    * layer a workload does not touch reads 0. */
  val perLayer: Seq[(String, String)] = {
    val span = Seq("ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "task_ms" -> "ms",
      "driver_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")
    def spanOf(p: String, keep: Set[String]) =
      span.filter(k => keep(k._1)).map { case (k, u) => s"$p.$k" -> u }
    val all = span.map(_._1).toSet
    spanOf("pipeline.initialize", all - "spill_bytes") ++
      spanOf("pipeline.decide_and_log", Set("ms", "jobs")) ++
      spanOf("pipeline.apply_monthly", all - "spill_bytes") ++
      Seq("merge_ms", "write_ms", "commit_ms").map(k => s"pipeline.apply_monthly.$k" -> "ms") ++
      spanOf("pipeline.maintain", Set("ms", "task_ms", "shuffle_bytes")) ++
      spanOf("pipeline.verify_and_fix", Set("ms", "task_ms", "shuffle_bytes", "spill_bytes")) ++
      Seq("monthly.load_s" -> "s", "monthly.maintain_s" -> "s", "monthly.verify_s" -> "s",
        "monthly.store_amplification" -> "ratio",
        "sources.publish.files" -> "count", "sources.publish.bytes" -> "bytes",
        "sources.publish.files_per_month" -> "count", "sources.pp_csv.ms" -> "ms",
        "sources.resolve_ms_p50" -> "ms", "sources.files_scanned_per_query" -> "count",
        "sources.skip.pruned_ratio" -> "ratio",
        "plans.analysis_ms_p50" -> "ms", "plans.optimization_ms_p50" -> "ms",
        "plans.physical_ms_p50" -> "ms", "plans.graft_rules_us_p50" -> "us",
        "plans.mv_rewrite.hit_ratio" -> "ratio", "plans.meta_agg.hit_ratio" -> "ratio",
        "plans.scan_inline.hit_ratio" -> "ratio",
        "exec.ms_p50" -> "ms", "exec.jobs_per_query" -> "count", "exec.tasks_per_query" -> "count",
        "exec.task_ms_per_query" -> "ms", "exec.driver_gap_ms_p50" -> "ms",
        "reads.query_ms_p95" -> "ms", "reads.queries" -> "count") ++
      Seq("clean_corpus", "dup_clusters", "cluster_split", "cluster_split_incr", "export")
        .flatMap(o => spanOf(s"operators.$o", all)) ++
      Seq("operators.lsh.candidate_pairs" -> "count", "operators.lsh.verified_ratio" -> "ratio",
        "dedup.recall" -> "ratio",
        "session.tasks_per_stage_p50" -> "count", "session.skew_ratio_p95" -> "ratio",
        "session.peak_heap_mb" -> "MB",
        "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
        "streaming.latest_offset_ms_p50" -> "ms", "streaming.planning_ms_p50" -> "ms",
        "streaming.commit_ms_p50" -> "ms", "streaming.jobs_per_trigger" -> "count",
        "streaming.task_ms_per_trigger" -> "ms", "monthly.stream_apply_s" -> "s",
        "trace.overhead_pct" -> "%")
  }
}
