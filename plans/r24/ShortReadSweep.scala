package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.sources.{PricePaidCsv, Sinks}

/** Bound sweep for `plans.SingleStageAggregate`: times short aggregate
  * reads on price-paid stores of several sizes and file counts, with
  * one client and with `nproc` clients.
  *
  * Not part of the build. To run it, copy it into a checkout's
  * `src/main/scala/graft/tools/` and
  *
  *     SPARK_DRIVER_MEM=4g sbt "runMain graft.tools.ShortReadSweep 3000x1,3000u,30000x1 10"
  *
  * Each store is `ROWSxPARTS` or `ROWSu`. `ROWSxPARTS`: ROWS generated
  * price-paid rows over 24 months, normalized like
  * `Pipeline.initialize` and published from PARTS partitions (1 keeps
  * the CSV read's own split), so each month dir holds up to PARTS
  * files. `ROWSu`: `Pipeline.initialize` of ROWS rows, then one
  * `Pipeline.applyMonthly` that adds, changes and deletes 2 % of them
  * each — the layout of perfbench's analyst store. Each client cycles
  * through five templates shaped like perfbench's analyst reads; the
  * report per mode is the geometric mean of the per-template median
  * latencies, the queries per second, and each template's median. A
  * line per store also gives the version's bytes and files, and how
  * many templates' optimized plans carry the rule's `Repartition(1)`. */
object ShortReadSweep {
  private val months = 24

  private def csvLine(k: Int, rng: java.util.SplittableRandom, op: String = "A"): String = {
    val m = k % months
    val date = f"${2000 + m / 12}%04d-${1 + m % 12}%02d-${1 + rng.nextInt(28)}%02d 00:00"
    Seq(f"{$k%08X-0000-4000-8000-$k%012d}", (20000 + rng.nextInt(900000)).toString, date,
      f"A${rng.nextInt(10)} ${rng.nextInt(10)}AB", Seq("D", "S", "T", "F", "O")(rng.nextInt(5)),
      if (rng.nextBoolean()) "Y" else "N", if (rng.nextBoolean()) "F" else "L",
      s"${rng.nextInt(200)}", "", f"STREET ${rng.nextInt(40)}%02d", "",
      f"TOWN ${rng.nextInt(12)}%02d", f"DISTRICT ${rng.nextInt(24)}%02d",
      f"COUNTY ${rng.nextInt(6)}%02d", "A", op).map(f => "\"" + f + "\"").mkString(",")
  }

  private def queries(spark: SparkSession, t: String): Seq[(String, () => DataFrame)] = Seq(
    "period_months" -> (() => Pipeline.current(spark, t)
      .filter(col("txn_month").between("2000-04", "2000-09"))
      .agg(count(lit(1)), sum(col("price")))),
    "period" -> (() => Pipeline.current(spark, t)
      .filter(col("transaction_date").between("2000-03-01", "2000-11-30"))
      .agg(count(lit(1)), sum(col("price")))),
    "district_percentiles" -> (() => Pipeline.current(spark, t)
      .filter(col("district").isin("DISTRICT 01", "DISTRICT 07", "DISTRICT 13"))
      .groupBy("district")
      .agg(percentile(col("price"), lit(0.5)), percentile(col("price"), lit(0.9)))),
    "sql_histogram" -> (() => spark.sql(
      s"SELECT property_type, count(*), sum(price) FROM graft.`$t` GROUP BY property_type")),
    "sql_period" -> (() => spark.sql(s"SELECT count(*), sum(price) FROM graft.`$t` " +
      "WHERE is_deleted = 'F' AND transaction_date >= DATE'2001-02-01' " +
      "AND transaction_date < DATE'2001-08-01'")))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (geomean of per-template median ms, queries per second, template medians). */
  private def load(qs: Seq[(String, () => DataFrame)], clients: Int,
                   seconds: Double): (Double, Double, String) = {
    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = c
        while (System.nanoTime() < deadline) {
          val (name, q) = qs(i % qs.size)
          i += 1
          val q0 = System.nanoTime()
          q().collect()
          lat.add(name -> (System.nanoTime() - q0) / 1e6)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val ls = lat.asScala.toSeq
    val byName = ls.groupBy(_._1).map { case (n, xs) => n -> median(xs.map(_._2)) }
    val meds = byName.values.toSeq
    (math.exp(meds.map(math.log).sum / meds.size), ls.size / elapsed,
      qs.map { case (n, _) => f"$n ${byName.getOrElse(n, 0.0)}%.0f" }.mkString(", "))
  }

  def main(args: Array[String]): Unit = {
    val stores = args(0).split(",").toSeq
    val seconds = if (args.length > 1) args(1).toDouble else 10.0
    val spark = graft.GraftSession.getOrCreate()
    val nproc = Runtime.getRuntime.availableProcessors()
    for (store <- stores) {
      val updated = store.endsWith("u")
      val (n, parts) =
        if (updated) (store.dropRight(1).toInt, 1)
        else { val Array(a, b) = store.split("x"); (a.toInt, b.toInt) }
      val dir = graft.util.Scratch.dir(s"sweep_$n")
      val csv = s"$dir/complete.csv"
      val rng = new java.util.SplittableRandom(n.toLong)
      val w = new java.io.PrintWriter(csv)
      try (0 until n).foreach(k => w.println(csvLine(k, rng))) finally w.close()
      val t = s"$dir/table"
      if (updated) {
        Pipeline.initialize(spark, csv, t)
        val u = new java.io.PrintWriter(s"$dir/update.csv")
        val step = 50
        try (0 until n by step).foreach { k =>
          u.println(csvLine(k, rng, "C"))
          u.println(csvLine(k + 1, rng, "D"))
          u.println(csvLine(n + k, rng, "A"))
        } finally u.close()
        Pipeline.applyMonthly(spark, s"$dir/update.csv", t)
      } else {
        val df = PricePaidCsv.normalized(spark, csv).drop("record_op")
          .withColumn("is_deleted", lit("F"))
        Sinks.publishSnapshot(if (parts > 1) df.repartition(parts) else df, "transaction_date", t)
      }
      val files = Sinks.readSnapshot(spark, t).inputFiles
      val bytes = files.map(f => new java.io.File(new java.net.URI(f)).length).sum
      val qs = queries(spark, t)
      val fired = qs.count { case (_, q) =>
        q().queryExecution.optimizedPlan.exists {
          case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
            r.numPartitions == 1 && !r.shuffle
          case _ => false
        }
      }
      for (_ <- 0 until 5; (_, q) <- qs) q().collect()
      val (one, oneQps, oneT) = load(qs, 1, seconds)
      val (many, manyQps, manyT) = load(qs, nproc, seconds)
      println(f"[sweep] $store%-9s files ${files.length}%4d bytes $bytes%9d fired $fired%d/${qs.size}%d" +
        f" | 1 client p50 $one%6.1f ms $oneQps%5.1f q/s | $nproc%d clients p50 $many%6.1f ms" +
        f" $manyQps%5.1f q/s")
      println(s"[sweep]   1 client:  $oneT")
      println(s"[sweep]   $nproc clients: $manyT")
    }
    spark.stop()
  }
}
