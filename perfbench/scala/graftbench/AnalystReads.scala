package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.sources.{FileStats, Sinks}

/** Analysts querying a price-paid store that set-up builds through the
  * same `Pipeline` calls the cron job uses. A closed loop of `nproc`
  * clients, each cycling through a fixed template mix with seeded
  * parameters.
  * Every answer is compared with one computed from the generator's
  * expected rows, outside graft's store and rules. */
final class AnalystReads extends Workload {
  import AnalystReads.Query

  val name = "analyst_reads"
  private val rows = 3000
  private val months = 24
  private val perCell = 6

  private var sc: Gen.PpScenario = _
  private var table = ""
  private var prevVersion = 0L
  private var versionFiles = 0L
  private lazy val live: Seq[Gen.PpRow] = Plant.drop(sc.states.last.live.toSeq)
  private lazy val all: Seq[Gen.PpRow] = Plant.drop(sc.states.last.all.map(_._1).toSeq)
  private lazy val prevLive: Seq[Gen.PpRow] = Plant.drop(sc.states.head.live.toSeq)
  private lazy val monthsSeen: IndexedSeq[String] = all.map(_.month).distinct.sorted.toIndexedSeq
  private lazy val districts: IndexedSeq[String] = all.map(_.district).distinct.sorted.toIndexedSeq


  val templates: Seq[String] = Seq("period", "type_histogram", "district_percentiles",
    "whole_table", "skipping", "time_travel", "sql_view", "sql_period")

  def setup(spark: SparkSession, dir: String, seed: Long, ledger: Ledger): Unit = {
    sc = Gen.ppScenario(seed, rows, months, 1, perCell)
    Gen.writeLines(s"$dir/complete.csv", sc.base.iterator.map(_.csv("A")))
    Gen.writeLines(s"$dir/update_0.csv", sc.updates.head.iterator.map { case (r, op) => r.csv(op) })
    table = s"$dir/table"
    Pipeline.initialize(spark, s"$dir/complete.csv", table)
    prevVersion = Sinks.currentVersion(spark, table).get
    Pipeline.applyMonthly(spark, s"$dir/update_0.csv", table)
    versionFiles = Census.walk(new java.io.File(Sinks.currentVersionDir(spark, table)))
      .count(_.getName.endsWith(".parquet")).toLong
    spark.sql(s"CREATE MATERIALIZED VIEW '$dir/mv_by_type' NAMED by_type AS " +
      s"SELECT property_type, COUNT(*) AS n, SUM(price) AS s, COUNT(price) AS c " +
      s"FROM graft.`$table` GROUP BY property_type").collect()
    // every template once before timing, so codegen and caches are warm
    templates.par.foreach { t =>
      ledger.op(s"warm-up $t")(query(spark, t, new SplittableRandom(seed + t.hashCode)).resolve().collect())
    }
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def countSum(rs: Seq[Gen.PpRow]): (Long, Long) = (rs.size.toLong, rs.map(_.price).sum)

  private def sameCountSum(r: Array[Row], want: (Long, Long)): Boolean =
    r.length == 1 && r(0).getLong(0) == want._1 &&
      (if (want._1 == 0) r(0).isNullAt(1) else r(0).getLong(1) == want._2)

  def query(spark: SparkSession, t: String, rng: SplittableRandom): Query = {
    def monthRange(): (String, String) = {
      val a = rng.nextInt(monthsSeen.size)
      val b = math.min(monthsSeen.size - 1, a + rng.nextInt(12))
      (monthsSeen(a), monthsSeen(b))
    }
    t match {
      case "period" =>
        val (a, b) = monthRange()
        Query(() => Pipeline.current(spark, table)
            .filter(col("txn_month").between(a, b))
            .agg(count(lit(1)), sum(col("price"))),
          r => sameCountSum(r, countSum(live.filter(x => x.month >= a && x.month <= b))))
      case "type_histogram" =>
        val y0 = monthsSeen.head.take(4).toInt + rng.nextInt(months / 12)
        Query(() => Pipeline.current(spark, table)
            .filter(year(col("transaction_date")).between(y0, y0 + 1))
            .groupBy(col("property_type"), year(col("transaction_date")).as("y"))
            .agg(count(lit(1)).as("n")),
          r => r.map(x => (x.getString(0), x.getInt(1)) -> x.getLong(2)).toMap ==
            live.filter(x => x.year >= y0 && x.year <= y0 + 1)
              .groupBy(x => (x.propertyType, x.year)).map { case (k, v) => k -> v.size.toLong })
      case "district_percentiles" =>
        val ds = Seq.fill(3)(districts(rng.nextInt(districts.size))).distinct
        Query(() => Pipeline.current(spark, table)
            .filter(col("district").isin(ds: _*))
            .groupBy("district")
            .agg(percentile(col("price"), lit(0.5)), percentile(col("price"), lit(0.9))),
          r => {
            val want = live.filter(x => ds.contains(x.district)).groupBy(_.district)
              .map { case (d, xs) => d -> xs.map(_.price.toDouble) }
            r.length == want.size && r.forall { x =>
              want.get(x.getString(0)).exists(ps => near(x.getDouble(1), Stats.quantile(ps, 0.5)) &&
                near(x.getDouble(2), Stats.quantile(ps, 0.9)))
            }
          })
      case "whole_table" =>
        Query(() => spark.sql(s"SELECT count(*), min(price), max(price) FROM graft.`$table`"),
          r => r.length == 1 && r(0).getLong(0) == all.size && r(0).getLong(1) == all.map(_.price).min &&
            r(0).getLong(2) == all.map(_.price).max)
      case "skipping" =>
        val lo = 20000L + rng.nextInt(900) * 1000L
        val hi = lo + 50000L
        Query(() => Sinks.readSnapshotSkipping(spark, table,
              Seq(FileStats.ColRange("price", Some(lo), Some(hi))))
            .filter(col("is_deleted") === "F").agg(count(lit(1)), sum(col("price"))),
          r => sameCountSum(r, countSum(live.filter(x => x.price >= lo && x.price <= hi))))
      case "time_travel" =>
        val (a, b) = monthRange()
        Query(() => Sinks.readSnapshotAt(spark, table, prevVersion)
            .filter(col("is_deleted") === "F" && col("txn_month").between(a, b))
            .agg(count(lit(1)), sum(col("price"))),
          r => sameCountSum(r, countSum(prevLive.filter(x => x.month >= a && x.month <= b))))
      case "sql_view" =>
        // the shape of the registered materialized view
        Query(() => spark.sql("SELECT property_type, COUNT(*) AS n, SUM(price) AS s " +
            s"FROM graft.`$table` GROUP BY property_type"),
          r => r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap ==
            all.groupBy(_.propertyType).map { case (k, v) => k -> ((v.size.toLong, v.map(_.price).sum)) })
      case "sql_period" =>
        val (a, b) = monthRange()
        val end = java.time.YearMonth.parse(b).plusMonths(1)
        // the catalog table carries no month column: the period is a date range
        Query(() => spark.sql(s"SELECT count(*), sum(price) FROM graft.`$table` " +
            s"WHERE is_deleted = 'F' AND transaction_date >= DATE'$a-01' AND transaction_date < DATE'$end-01'"),
          r => sameCountSum(r, countSum(live.filter(x => x.month >= a && x.month <= b))))
    }
  }

  def pass(spark: SparkSession, dir: String, seconds: Double, ledger: Ledger): Pass = {
    val clients = Runtime.getRuntime.availableProcessors()
    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val rng = new SplittableRandom(sc.seed * 1009L + c)
        // each client walks the template list from its own offset, so every
        // run issues the same mix; the parameters are drawn from the seed
        var i = c * templates.size / clients
        while (System.nanoTime() < deadline) {
          val t = templates(i % templates.size)
          i += 1
          val q = query(spark, t, rng)
          val q0 = System.nanoTime()
          Trace.span(spark, s"query.$t") {
            ledger.op(s"query $t") {
              val df = Trace.span(spark, "sources.resolve")(q.resolve())
              Trace.span(spark, "exec")(df.collect())
            }.foreach(res => ledger.check(s"answer $t")(q.check(res), res.take(5).mkString(";")))
          }
          lat.add(t -> (System.nanoTime() - q0) / 1e6)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val ls = lat.asScala.toSeq
    // the templates' latencies sit in separate clusters, so the median of
    // the whole mix jumps between them from run to run; the typical query
    // is the geometric mean of the per-template medians
    val perTemplate = ls.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2))).toSeq
    val p50 = math.exp(perTemplate.map(math.log).sum / perTemplate.size)
    // p95 is reported only when at least 10 samples lie beyond it
    val p95 = if (ls.size >= 200) Stats.quantile(ls.map(_._2), 0.95) else 0.0
    Pass(p50, ls.size.toDouble, elapsed, Map(
      "reads.query_ms_p95" -> (p95, "ms"),
      "reads.queries" -> (ls.size.toDouble, "count"),
      "reads.clients" -> (clients.toDouble, "count")))
  }

  def layers(p: Pass): Map[String, Double] = {
    Layers.reads(versionFiles) ++ Layers.sources() ++ Layers.session()
  }
}

object AnalystReads {
  /** One query: the call that returns the DataFrame (timed as
    * `sources.resolve`), and the check of its collected rows. */
  final case class Query(resolve: () => DataFrame, check: Array[Row] => Boolean)
}
