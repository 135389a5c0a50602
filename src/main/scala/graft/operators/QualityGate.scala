package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Declarative data-quality expectations over a table — the release
  * gate a pipeline runs before publishing a snapshot (the reference
  * runs the same idea imperatively in its verify service: row counts,
  * key uniqueness, value sanity). Each expectation yields one report
  * row (check_name, violations, pass); a release proceeds only on
  * all-pass.
  *
  * Every scalar expectation compiles into ONE conditional count in a
  * single aggregation pass over the table (one scan, one reduce row —
  * at 100 TB the gate costs one map-reduce over the columns it
  * reads); uniqueness adds one keyed aggregation per key set. All
  * metrics are integer counts, so the report is bit-exact at any
  * partitioning and fully SQL-oracle-able. Thresholded ratios are
  * integer cross-multiplications (`violations · D ≤ N · d`), never
  * floats.
  */
object QualityGate {

  sealed trait Check { def name: String }
  /** Violation = the predicate holds (predicate names the BAD rows). */
  final case class ScalarCheck(name: String, violation: Column) extends Check
  /** Violations = extra occurrences beyond the first per key. */
  final case class UniqueCheck(name: String, cols: Seq[String]) extends Check
  /** Violations = rows whose non-null key tuple misses `ref` — SQL
    * foreign-key semantics (a NULL key passes; pair with [[notNull]]
    * to forbid it). The reference side reduces to DISTINCT keys and
    * the probe is one keyed anti-join: broadcast when the key set is
    * dimension-sized, shuffle-on-key otherwise — never a corpus scan
    * per check. */
  final case class RefCheck(name: String, cols: Seq[String],
                            ref: DataFrame, refCols: Seq[String]) extends Check {
    require(cols.size == refCols.size && cols.nonEmpty, "key arity mismatch")
  }

  def refIntegrity(col0: String, ref: DataFrame, refCol: String): Check =
    RefCheck(s"ref:$col0", Seq(col0), ref, Seq(refCol))

  def notNull(col0: String): Check =
    ScalarCheck(s"not_null:$col0", col(col0).isNull)
  def nonNegative(col0: String): Check =
    ScalarCheck(s"non_negative:$col0", col(col0) < 0)
  def inSet(col0: String, values: Seq[String]): Check =
    ScalarCheck(s"in_set:$col0", !col(col0).isInCollection(values) || col(col0).isNull)
  def matches(col0: String, re: String): Check =
    ScalarCheck(s"matches:$col0", !col(col0).rlike(re) || col(col0).isNull)
  def atMost(col0: String, hi: Long): Check =
    ScalarCheck(s"at_most:$col0", col(col0) > hi)
  def unique(cols: String*): Check =
    UniqueCheck(s"unique:${cols.mkString(",")}", cols)

  /** Run the expectations; returns (check_name, violations, pass),
    * one row per check, ordered by name. */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no expectations given")
    val scalars = checks.collect { case s: ScalarCheck => s }
    val uniques = checks.collect { case u: UniqueCheck => u }
    val parts = Seq.newBuilder[DataFrame]
    if (scalars.nonEmpty) {
      // one aggregation pass: a conditional count per expectation,
      // then stack() unpivots the single reduce row into the report
      val aggs = scalars.zipWithIndex.map { case (c, i) =>
        sum(when(c.violation, 1L).otherwise(0L)).as(s"v$i")
      }
      val stackArgs = scalars.zipWithIndex
        .map { case (c, i) => s"'${c.name}', v$i" }.mkString(", ")
      parts += df.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${scalars.size}, $stackArgs) AS (check_name, violations)"))
    }
    uniques.foreach { u =>
      parts += df.groupBy(u.cols.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") - 1L), lit(0L)).as("violations"))
        .select(lit(u.name).as("check_name"), col("violations"))
    }
    checks.collect { case r: RefCheck => r }.foreach { r =>
      val keys = r.ref.select(r.refCols.zip(r.cols)
        .map { case (rc, c) => col(rc).as(c) }: _*).distinct()
      parts += df
        .filter(r.cols.map(col(_).isNotNull).reduce(_ && _))
        .join(keys, r.cols, "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit(r.name).as("check_name"), col("violations"))
    }
    parts.result().reduce(_ unionByName _)
      .select(col("check_name"), col("violations").cast("long").as("violations"),
        (col("violations") === 0L).as("pass"))
      .orderBy("check_name")
  }

  /** A failed gate: carries the red report rows. */
  class ExpectationsFailed(val report: Seq[(String, Long)])
    extends RuntimeException(
      "expectations failed: " +
        report.map { case (n, v) => s"$n ($v violations)" }.mkString(", "))

  /** Gate-then-publish: run the expectations and publish the snapshot
    * version ONLY on all-green — the composition a production pipeline
    * runs (the reference's verify step, moved BEFORE the upload
    * instead of after it). A red gate throws with the failing checks
    * and writes nothing: a bad feed can never become the live
    * version. */
  def gatedPublish(df: DataFrame, checks: Seq[Check], dateCol: String,
                   tablePath: String, retainVersions: Int = 2,
                   statsCols: Seq[String] = Nil): Long = {
    val red = validate(df, checks).filter(!col("pass"))
      .select("check_name", "violations").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    if (red.nonEmpty) throw new ExpectationsFailed(red)
    graft.sources.Sinks.publishSnapshot(df, dateCol, tablePath,
      retainVersions = retainVersions, statsCols = statsCols)
  }

  /** Registered `q_quality_gate`: the pre-publish expectation run over
    * the orders feed — key integrity, domain membership, value sanity.
    * One expectation (`at_most:o_totalprice` at an implausibly low
    * cap) is planted to FAIL, proving the gate's red path is exercised
    * and hash-checked, not just the all-green diagonal. */
  def ordersGate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    validate(o, Seq(
      notNull("o_orderkey"),
      unique("o_orderkey"),
      notNull("o_custkey"),
      nonNegative("o_totalprice"),
      inSet("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
      matches("o_orderpriority", "^[1-5]-[A-Z ]+$"),
      atMost("o_totalprice", 1000L) // planted red: most orders exceed it
    ))
  }

  /** Registered `q_quality_gate_ref`: the gate's REFERENTIAL-INTEGRITY
    * check over a deliberately damaged orders feed — every 1000th key
    * gets its custkey negated (can never hit `customer`, the red
    * path), the next key gets it NULLED (must pass the ref check —
    * SQL FK semantics — while the paired not_null check counts it),
    * and the untouched keys prove the natural feed is referentially
    * whole. Closed-form oracle: both planted classes are modular
    * counts over `orders`. */
  def ordersRefGate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).withColumn("o_custkey",
      when(col("o_orderkey") % 1000 === 0, -col("o_custkey"))
        .when(col("o_orderkey") % 1000 === 1,
          lit(null).cast(org.apache.spark.sql.types.LongType))
        .otherwise(col("o_custkey")))
    validate(o, Seq(
      notNull("o_custkey"),
      unique("o_orderkey"),
      refIntegrity("o_custkey", Tables.customer(spark, dir), "c_custkey")))
  }

  private val gatedFixtures = new graft.util.Scratch.Fixture[String]("gated_q")

  /** Registered `q_gated_publish` — gate-then-publish as a verified
    * round trip: the clean orders feed passes its expectations and
    * publishes; a CORRUPTED twin (every 3rd key nulled) is then
    * offered through the same gate, which must throw and write
    * NOTHING. The registered read censuses the live table
    * (per-month count, exact-decimal revenue, key XOR) against the
    * DuckDB oracle on raw orders — a hash-match proves both halves
    * of the contract at once: the good feed published intact, and
    * the bad feed never became (or perturbed) the live version. */
  def gatedPublishResult(spark: SparkSession, dir: String): DataFrame = {
    val table = gatedFixtures(dir) { tmp =>
      val t = s"$tmp/table"
      val good = Tables.orders(spark, dir).select(
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        to_date(col("o_orderdate")).as("day"))
      val checks = Seq(notNull("o_orderkey"), unique("o_orderkey"),
        nonNegative("price"))
      gatedPublish(good, checks, "day", t)
      val bad = good.withColumn("o_orderkey",
        when(col("o_orderkey") % 3 === 0, lit(null)).otherwise(col("o_orderkey")))
      try {
        gatedPublish(bad, checks, "day", t)
        throw new IllegalStateException("red gate published a bad feed")
      } catch { case _: ExpectationsFailed => () }
      t
    }
    graft.sources.Sinks.readSnapshot(spark, table)
      .withColumn("__h", Reconcile.xorHash60(col("o_orderkey").cast("string")))
      .groupBy(date_format(col("day"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).cast("double").as("revenue"),
        expr("bit_xor(__h)").as("key_xor"))
      .orderBy("order_month")
  }

  def gatedPublishOracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  bit_xor(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)) AS key_xor
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}
