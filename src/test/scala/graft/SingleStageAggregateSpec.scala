package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileStats, Sinks}

/** An aggregate over a small store scan runs as one stage on one
  * coalesced partition ([[graft.plans.SingleStageAggregate]]): a warm
  * short read is one job of one task with no exchange, whichever read
  * path serves it, and answers like a driver-side recomputation. The
  * scan keeps its column and month pruning; a large store, or an input
  * that is not a Project/Filter chain over the scan, keeps its
  * exchange; the view and manifest rewrites still fire first. */
class SingleStageAggregateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import spark.implicits._

  /** 60 rows over six months, every fifth soft-deleted. */
  private def rows(from: Long, to: Long): DataFrame =
    (from to to).map { i =>
      (i, java.sql.Date.valueOf(f"2024-${1 + i % 6}%02d-15"), i * 10L, s"c${i % 4}",
        if (i % 5 == 0) "T" else "F")
    }.toDF("k", "d", "p", "c", "is_deleted")

  /** A plain store at version 2 (version 1 holds rows 1-30); its path. */
  private def store(name: String, statsCols: Seq[String] = Nil): String = {
    val t = s"${graft.util.Scratch.dir(name)}/t"
    Sinks.publishSnapshot(rows(1L, 30L), "d", t, statsCols = statsCols)
    Sinks.publishSnapshot(rows(1L, 60L), "d", t, statsCols = statsCols)
    t
  }

  /** Jobs and tasks started while `body` runs. */
  private def census(body: => Unit): (Int, Int) = {
    val tasks = new AtomicInteger
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val jobs = jobsDuring(body)
      (jobs, tasks.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Runs `df` once to warm it, then again under a census; asserts one
    * job, one task and no exchange, and returns the answer's rows. */
  private def oneStage(df: => DataFrame): Seq[Seq[Any]] = {
    df.collect()
    var got: Array[Row] = null
    var plan = ""
    val (jobs, tasks) = census {
      val d = df
      got = d.collect()
      plan = d.queryExecution.executedPlan.toString
    }
    assert(jobs === 1, plan)
    assert(tasks === 1, plan)
    assert(!plan.contains("Exchange"), plan)
    sorted(got)
  }

  private def sorted(rs: Array[Row]): Seq[Seq[Any]] = rs.map(_.toSeq).sortBy(_.mkString(",")).toSeq

  /** The version's rows on the driver: (k, month, p, c, is_deleted). */
  private def truth(df: DataFrame): Seq[(Long, String, Long, String, String)] =
    df.select("k", "txn_month", "p", "c", "is_deleted").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))

  private def countSum(xs: Seq[(Long, String, Long, String, String)]): Seq[Seq[Any]] =
    Seq(Seq(xs.size.toLong, if (xs.isEmpty) null else xs.map(_._3).sum))

  test("Pipeline.current with a month filter: one job, one task, the driver's answer") {
    val t = store("ssa_current")
    val live = truth(Sinks.readSnapshot(spark, t)).filter(_._5 == "F")
    val got = oneStage(Pipeline.current(spark, t)
      .filter(col("txn_month").between("2024-02", "2024-04"))
      .agg(count(lit(1)), sum(col("p"))))
    assert(got === countSum(live.filter(x => x._2 >= "2024-02" && x._2 <= "2024-04")))
  }

  test("an empty month range still answers one row in one task") {
    val t = store("ssa_empty")
    val got = oneStage(Pipeline.current(spark, t)
      .filter(col("txn_month").between("2030-01", "2030-12"))
      .agg(count(lit(1)), sum(col("p"))))
    assert(got === Seq(Seq(0L, null)))
  }

  test("readSnapshotAt and readSnapshotSkipping: one job, one task, the driver's answer") {
    for (statsCols <- Seq(Nil, Seq("p"))) {
      val t = store("ssa_pinned", statsCols)
      val v1 = Sinks.currentVersion(spark, t).get - 1
      val old = truth(Sinks.readSnapshotAt(spark, t, v1)).filter(_._5 == "F")
      assert(oneStage(Sinks.readSnapshotAt(spark, t, v1)
          .filter(col("is_deleted") === "F" && col("txn_month") >= "2024-03")
          .agg(count(lit(1)), sum(col("p")))) ===
        countSum(old.filter(_._2 >= "2024-03")), s"statsCols $statsCols")
      val live = truth(Sinks.readSnapshot(spark, t)).filter(_._5 == "F")
      assert(oneStage(Sinks.readSnapshotSkipping(spark, t,
            Seq(FileStats.ColRange("p", Some(100L), Some(300L))))
          .filter(col("is_deleted") === "F").agg(count(lit(1)), sum(col("p")))) ===
        countSum(live.filter(x => x._3 >= 100L && x._3 <= 300L)), s"statsCols $statsCols")
    }
  }

  test("a catalog GROUP BY and a percentile aggregate: one job, one task, the driver's answer") {
    val t = store("ssa_catalog")
    val all = truth(Sinks.readSnapshot(spark, t))
    assert(oneStage(spark.sql(s"SELECT c, count(*), sum(p) FROM graft.`$t` GROUP BY c")) ===
      all.groupBy(_._4).toSeq.sortBy(_._1)
        .map { case (c, xs) => Seq(c, xs.size.toLong, xs.map(_._3).sum) })
    val live = truth(Sinks.readSnapshot(spark, t)).filter(_._5 == "F")
    val got = oneStage(Pipeline.current(spark, t).groupBy("c")
      .agg(percentile(col("p"), lit(0.5)), max(col("p"))))
    val want = live.groupBy(_._4).toSeq.sortBy(_._1).map { case (c, xs) =>
      val ps = xs.map(_._3.toDouble).sorted
      // exact percentile: linear interpolation between the closest ranks
      val pos = 0.5 * (ps.size - 1)
      val lo = ps(pos.toInt)
      val hi = ps(math.min(ps.size - 1, pos.toInt + 1))
      Seq(c, lo + (hi - lo) * (pos - pos.toInt), xs.map(_._3).max)
    }
    assert(got === want)
  }

  test("the coalesced scan keeps its column pruning and month pruning") {
    val t = store("ssa_pruning")
    val df = Pipeline.current(spark, t)
      .filter(col("txn_month") === "2024-02").agg(sum(col("p")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce 1"), plan)
    assert(plan.contains("ReadSchema: struct<p:bigint,is_deleted:string>"), plan)
    assert("PartitionFilters: \\[[^\\]]*txn_month".r.findFirstIn(plan).isDefined, plan)
    val scan = collectFirst(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.get
    val monthFiles = Sinks.readSnapshot(spark, t).inputFiles.count(_.contains("txn_month=2024-02"))
    assert(scan.metrics("numFiles").value === monthFiles.toLong, plan)
  }

  test("a store above the byte bound keeps its exchange") {
    // ~3 MB of incompressible longs: above the rule's byte bound
    val t = s"${graft.util.Scratch.dir("ssa_large")}/t"
    Sinks.publishSnapshot(spark.range(0, 400000, 1, 4)
      .select(col("id").as("k"), lit(java.sql.Date.valueOf("2024-01-15")).as("d"),
        (rand(7) * 1e18).cast("long").as("p")), "d", t)
    val df = Sinks.readSnapshot(spark, t).agg(count(lit(1)))
    assert(df.head().getLong(0) === 400000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange") && !plan.contains("Coalesce 1"), plan)
  }

  test("the file bound counts the files left after month pruning") {
    // one file in each of 60 month dirs: above the file bound whole,
    // within it for a three-month range
    val t = s"${graft.util.Scratch.dir("ssa_files")}/t"
    Sinks.publishSnapshot((0 until 60).map { m =>
        (m.toLong, java.sql.Date.valueOf(f"${2020 + m / 12}%d-${1 + m % 12}%02d-15"), m * 10L)
      }.toDF("k", "d", "p").coalesce(1), "d", t)
    val whole = Sinks.readSnapshot(spark, t).agg(sum(col("p")))
    assert(whole.head().getLong(0) === (0 until 60).map(_ * 10L).sum)
    val plan = whole.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange") && !plan.contains("Coalesce 1"), plan)
    assert(oneStage(Sinks.readSnapshot(spark, t)
        .filter(col("txn_month").between("2021-01", "2021-03")).agg(sum(col("p")))) ===
      Seq(Seq((12 until 15).map(_ * 10L).sum)))
  }

  test("an input that is not a Project/Filter chain over the scan keeps its exchange") {
    val t = store("ssa_shapes")
    val a = Pipeline.current(spark, t)
    for (df <- Seq(
        a.union(a).agg(count(lit(1))),
        a.select(explode(array(col("p"), col("k"))).as("x")).agg(sum(col("x"))),
        a.join(a.select(col("k").as("k2")), col("k") === col("k2")).agg(count(lit(1))))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Coalesce 1") && plan.contains("Exchange"), plan)
    }
  }

  test("a view-served aggregate still rewrites; a manifest-served one still starts no job") {
    val t = store("ssa_view", statsCols = Seq("p"))
    val view = s"${new java.io.File(t).getParent}/mv"
    val served = s"SELECT c, COUNT(*) AS n, SUM(p) AS s FROM graft.`$t` GROUP BY c"
    spark.sql(s"CREATE MATERIALIZED VIEW '$view' AS $served").collect()
    val df = spark.sql(served)
    assert(df.queryExecution.optimizedPlan.exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.endsWith(view))
        case _                    => false
      }
      case _ => false
    })
    val all = truth(Sinks.readSnapshot(spark, t))
    assert(oneStage(spark.sql(served)) === all.groupBy(_._4).toSeq.sortBy(_._1)
      .map { case (c, xs) => Seq(c, xs.size.toLong, xs.map(_._3).sum) })
    val whole = s"SELECT count(*), min(p), max(p) FROM graft.`$t`"
    spark.sql(whole).collect()
    var got: Array[Row] = null
    assert(jobsDuring { got = spark.sql(whole).collect() } === 0)
    assert(sorted(got) === Seq(Seq(all.size.toLong, all.map(_._3).min, all.map(_._3).max)))
  }
}
