package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.{Sinks, Tables}

/** Batch operators derived from the reference's services and analysis
  * workloads (see SURVEY.md §2 anchors). All money arithmetic goes
  * through DECIMAL so aggregate results are exact and independent of
  * partition/merge order — a requirement for bit-identical results on
  * a 1000-executor cluster vs the single-node oracle.
  *
  * Output representation: internal money math stays DECIMAL-exact, but
  * FINAL money/weight columns are surfaced as DOUBLE. The values are
  * exact decimals at cast time, and decimal→nearest-double is the same
  * deterministic function in every engine, so the conversion loses no
  * comparability — while parquet/pandas/DuckDB all agree on the dumped
  * representation (fixed-scale Decimal vs float64 was the one source
  * of oracle hash mismatches in rounds 1-2).
  */
object ReferenceOps {
  /** DECIMAL(18,2) cast: exact money arithmetic (ref stores price as
    * integer pounds; lib_dataframe.py 'price' column). */
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact-decimal money value surfaced as DOUBLE for output. */
  private def money2(c: Column): Column = dec2(c).cast(DoubleType)

  /** Typed ingest/normalization of the transaction fact table — the
    * Spark analog of the reference's CSV→typed-frame step
    * (database_verify.py:20-66 format_dataframe_dtypes). */
  def ingestClean(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(IntegerType).as("quantity"),
        money2(col("l_extendedprice")).as("price"),
        upper(trim(col("l_returnflag"))).as("return_flag"),
        upper(trim(col("l_linestatus"))).as("line_status"),
        to_date(col("l_shipdate")).as("ship_date"))
      .filter(col("ship_date") >= lit("1995-01-01") && col("quantity") > 0)
      .orderBy("l_orderkey", "l_linenumber")

  /** Subset query by category + date period — the README's motivating
    * analyst workload ("focus on flat prices or a particular period"). */
  def subsetPeriod(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F" &&
        to_date(col("o_orderdate")).between("1994-01-01", "1995-12-31") &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_custkey"), money2(col("o_totalprice")).as("total_price"),
        to_date(col("o_orderdate")).as("order_date"), col("o_orderpriority"))
      .orderBy("o_orderkey")

  /** Pricing summary aggregate (TPC-H Q1 shape): the canonical scan+agg
    * an analyst runs over the price_paid table. One shuffle, map-side
    * partial aggregation, decimal-exact sums. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** order_date ≈ transaction_date, ship_date ≈ publish/created date;
    * delay = datediff — the reference's core analysis quantity
    * (Analysis/main.py:51-60). Orders side is broadcast at small SF /
    * shuffle-hash at scale (AQE decides). */
  private def delays(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_date"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("order_date"), col("ship_date"),
        datediff(col("ship_date"), col("order_date")).cast(LongType).as("delay_days"))
  }

  /** Histogram of delay in days (Analysis/main.py:64-75). */
  def delayHistogram(spark: SparkSession, dir: String): DataFrame =
    delays(spark, dir)
      .groupBy("delay_days").agg(count(lit(1)).as("n_transactions"))
      .orderBy("delay_days")

  /** Weekly histogram, delay < 360 days (Analysis/main.py:88-106). */
  def delayWeeks(spark: SparkSession, dir: String): DataFrame =
    delays(spark, dir)
      .filter(col("delay_days") < 360)
      .select(floor(col("delay_days") / 7.0).cast(LongType).as("delay_weeks"))
      .groupBy("delay_weeks").agg(count(lit(1)).as("n_transactions"))
      .orderBy("delay_weeks")

  /** Volume-normalized delay distribution (Analysis + README figures):
    * weight = 1/count(transactions that day), summed per delay bin.
    * Weight is cast to DECIMAL(18,12) so the distributed sum is exact. */
  def delayNormalized(spark: SparkSession, dir: String): DataFrame = {
    val d = delays(spark, dir)
    val dayVolume = d.groupBy("order_date").agg(count(lit(1)).as("day_volume"))
    d.join(dayVolume, "order_date")
      .select(col("delay_days"),
        (lit(1.0) / col("day_volume")).cast(DecimalType(18, 12)).as("w"))
      .groupBy("delay_days")
      .agg(sum(col("w")).cast(DoubleType).as("weight"))
      .orderBy("delay_days")
  }

  /** File-log content hash + archive/garbage_collect decision — the
    * data-decision service (land_registry_pp_complete_data_decision.py:
    * 139-175): a file is archived iff its sha256 differs from the
    * previously archived one. events.user_id ≈ file series, props ≈
    * file content. Window partitions by series key → scales. */
  def fileDecision(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("sha256sum", sha2(col("props"), 256))
      .withColumn("prev_sha", lag(col("sha256sum"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("sha256sum"),
        when(col("prev_sha").isNull || col("prev_sha") =!= col("sha256sum"), "archive")
          .otherwise("garbage_collect").as("data_decision"))
      .orderBy("user_id", "event_id")
  }

  /** GC service view: files whose decision was garbage_collect
    * (land_registry_pp_complete_garbage_collector.py). */
  def gcCandidates(spark: SparkSession, dir: String): DataFrame =
    fileDecision(spark, dir)
      .filter(col("data_decision") === "garbage_collect")
      .groupBy("user_id").agg(count(lit(1)).as("n_files"))
      .orderBy("user_id")

  /** Archive service view: per-series archive volume + latest archived
    * file — what the archiver moves to the archive bucket and the
    * populate-archive-log job records
    * (land_registry_pp_complete_archiver.py,
    * minio_populate_pp_monthly_update_archive_file_log_table.py). */
  def archiveLog(spark: SparkSession, dir: String): DataFrame =
    fileDecision(spark, dir)
      .filter(col("data_decision") === "archive")
      .groupBy("user_id").agg(
        count(lit(1)).as("n_archived"),
        max(col("event_id")).as("latest_event_id"),
        countDistinct(col("sha256sum")).as("n_distinct_contents"))
      .orderBy("user_id")

  /** Binned delay distribution (Analysis/main2.py): transactions are
    * bucketed by publication month (bin right edge = next month
    * start), delay measured to the bin edge, reported weekly,
    * < 156 weeks. */
  def delayBinned(spark: SparkSession, dir: String): DataFrame =
    delays(spark, dir)
      .select(floor(
        datediff(
          to_date(add_months(date_trunc("MONTH", col("ship_date")), 1)),
          col("order_date")) / 7.0).cast(LongType).as("delay_weeks"))
      .filter(col("delay_weeks") < 156)
      .groupBy("delay_weeks").agg(count(lit(1)).as("n_transactions"))
      .orderBy("delay_weeks")

  /** Full-upload statistics row — pp_complete_db_upload.py's
    * PricePaidDataLog (row counts + extent of the uploaded snapshot). */
  def uploadStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_transactions"),
        min(to_date(col("l_shipdate"))).as("min_ship_date"),
        max(to_date(col("l_shipdate"))).as("max_ship_date"),
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("total_price"))

  /** Synthesized database/file pair for the reconcile workloads: the
    * "database" drops every 31st key and perturbs every 37th price;
    * the "file" drops every 41st key — deterministic divergence in
    * both directions, as in the reference's verify scenario. */
  private def reconcileSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(spark, dir)
    val db = o.filter(col("o_orderkey") % 31 =!= 0)
      .select(col("o_orderkey").as("k"),
        (dec2(col("o_totalprice")) +
          when(col("o_orderkey") % 37 === 0, 5).otherwise(0)).cast(DecimalType(18, 2)).as("p"))
    val file = o.filter(col("o_orderkey") % 41 =!= 0)
      .select(col("o_orderkey").as("k"), dec2(col("o_totalprice")).as("p"))
    (db, file)
  }

  /** Sketch-based upload stats — the 100 TB path for the same log row:
    * exact countDistinct shuffles every distinct key; HyperLogLog++
    * (`approx_count_distinct`) is a fixed-size mergeable sketch, so
    * the whole summary stays one map-side pass + a tiny merge.
    * Spec-pinned within 2% of the exact count. */
  def uploadStatsApprox(spark: SparkSession, dir: String, rsd: Double = 0.01): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct(col("l_orderkey"), rsd).as("n_transactions"),
        min(to_date(col("l_shipdate"))).as("min_ship_date"),
        max(to_date(col("l_shipdate"))).as("max_ship_date"),
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("total_price"))

  /** Reconciliation: count rows in-database-only / in-file-only /
    * in-both, matching on the full row (database_verify.py:160-236).
    * One full-outer join on (key, price) via the generic
    * Reconcile.counts — a single shuffle, no driver-side merge. */
  def reconcile(spark: SparkSession, dir: String): DataFrame = {
    val (db, file) = reconcileSides(spark, dir)
    Reconcile.counts(db, file, Seq("k", "p"))
  }

  /** Reconcile fix-up — the reference's `function_fix_database`
    * (land_registry_database_verify.py:296+): every file-side row with
    * no full-row match in the database is applied back per key —
    * UPDATE where the key exists with different values, INSERT where
    * it is missing; database rows the file doesn't contradict are
    * kept. The generic Reconcile.fixUp does the work (one keyed
    * full-outer merge, file side wins); this binding surfaces the
    * repaired price as DOUBLE for the oracle contract. */
  def reconcileFixUp(spark: SparkSession, dir: String): DataFrame = {
    val (db, file) = reconcileSides(spark, dir)
    Reconcile.fixUp(db, file, key = "k", compareCols = Seq("p"))
      .select(col("k"), col("p").cast(DoubleType).as("price"), col("fix_action"))
      .orderBy("k")
  }

  /** Rollup revenue by nation × order-month with subtotal rows — the
    * report shape analysts build over the price-paid store. Decimal
    * sums keep every (sub)total exact.
    *
    * Two-level aggregation: Spark's ROLLUP expands its INPUT ×levels
    * before aggregating, so rolling up the raw join would triple the
    * fact rows through the shuffle at any scale. Aggregating at the
    * finest (nation, month) grain first shrinks the Expand to the
    * report-sized aggregate; subtotals are sums of exact decimal
    * sums, so every value is identical to the single-level rollup. */
  private def revenueFine(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey"),
      (dec2(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
        .as("rev"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("order_month"))
      .agg(sum(col("rev")).as("rev_fine"), count(lit(1)).as("n_fine"))
  }

  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    revenueFine(spark, dir)
      .rollup(col("n_name"), col("order_month"))
      .agg(sum(col("rev_fine")).cast(DoubleType).as("revenue"),
        sum(col("n_fine")).as("n_items"))
      .orderBy(col("n_name").asc_nulls_first, col("order_month").asc_nulls_first)

  /** CUBE over the same pre-aggregate — every subtotal combination
    * (nation totals, month totals, grand total) in one pass; like the
    * rollup, Expand runs on the report-sized pre-aggregate, never on
    * the fact table. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    revenueFine(spark, dir)
      .cube(col("n_name"), col("order_month"))
      .agg(sum(col("rev_fine")).cast(DoubleType).as("revenue"),
        sum(col("n_fine")).as("n_items"))
      .orderBy(col("n_name").asc_nulls_first, col("order_month").asc_nulls_first)

  /** Event-type pivot per series: one row per user, one count column
    * per event type — the wide operational dashboard shape. */
  def eventPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** Exact interpolated percentiles of order value per priority —
    * the distribution summaries behind the reference's delay
    * histograms, on the price axis. */
  def pricePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        min(col("o_totalprice")).as("p_min"),
        max(col("o_totalprice")).as("p_max"))
      .orderBy("o_orderpriority")

  /** Approximate percentiles — the 100 TB path for the same summary:
    * exact `percentile` holds every value per group in the aggregation
    * buffer (memory ∝ group size), while the KLL-style sketch behind
    * `approx_percentile` is fixed-size and merges associatively, so
    * cost is flat at any scale. The spec pins the approximation to
    * within 1% of the exact result; the registered query is rows-only
    * (DuckDB's approximate sketch is a different algorithm — its
    * values legitimately differ). */
  def pricePercentilesApprox(spark: SparkSession, dir: String,
                             accuracy: Int = 10000): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr(s"approx_percentile(o_totalprice, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(o_totalprice, 0.9, $accuracy)").as("p90"),
        min(col("o_totalprice")).as("p_min"),
        max(col("o_totalprice")).as("p_max"))
      .orderBy("o_orderpriority")

  /** Month-over-month revenue growth — the trend view behind the
    * reference's "is this month's data complete yet" question. The
    * global-window lag runs on the PRE-AGGREGATED month series
    * (bounded cardinality), so the single-partition window is safe at
    * any input scale. */
  def monthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(sum(dec2(col("o_totalprice"))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy("order_month")
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("growth_pct",
        when(col("prev_revenue").isNotNull && col("prev_revenue") =!= 0,
          (col("revenue").cast(DoubleType) - col("prev_revenue").cast(DoubleType)) /
            col("prev_revenue").cast(DoubleType)))
      .select("order_month", "revenue", "n_orders", "prev_revenue", "growth_pct")
      .orderBy("order_month")
  }

  /** Sessionization of the event stream (gaps-and-islands): a new
    * session starts after >30 min of inactivity per series. The
    * analyst-side view of the notification DAG's activity; one window
    * shuffle partitioned by the series key. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts").cast(LongType) - col("prev_ts").cast(LongType)) > 1800, 1)
        .otherwise(0))
      .groupBy("user_id")
      .agg(count(when(col("new_session") === 1, 1)).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Semi-structured payload extraction: the events table carries a
    * JSON `props` column (the schema-on-read tail every event bus
    * has); `get_json_object` pulls typed fields out in the projection
    * — codegen path extraction, no UDF, no full parse into a struct —
    * and the aggregate is integer-exact. At scale the extraction
    * rides the scan (column-pruned to `props` + group key). */
  def eventPropsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy("event_type")
      .agg(count(when(col("k").isNotNull, 1)).as("n_with_k"),
        sum("k").as("sum_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Frequent co-purchase pairs (market-basket mining, the top of the
    * apriori lattice): parts ordered together, counted across orders.
    * The pair explosion is a WITHIN-ORDER self-join — work is
    * Σ items-per-order², bounded by the basket size (≤7 lineitems in
    * this schema), never |lineitem|²; the canonical p1 < p2 ordering
    * halves it and makes each pair unique per order. Top pairs by
    * (support DESC, pair) are fully deterministic integers. */
  def coPurchasePairs(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    a.join(b, "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Per-customer lifetime spend — the shared input of the quartile
    * and Pareto reports. */
  private def customerSpend(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(dec2(col("o_totalprice"))).as("spend"), count(lit(1)).as("n_orders"))

  /** HIERARCHICAL global rank + running sum over (spend DESC,
    * o_custkey) — the dimension-scale replacement for a global
    * window: a `Window.orderBy` with no partition funnels the whole
    * table through ONE reducer, fine for TPC-H customers but fatal
    * when the "dimension" is web-scale (domains, users). Same
    * decomposition as [[TextOps.tokenBudgetOf]], except the shard key
    * must follow the VALUE order, so rows bucket by their spend's
    * position in the broadcast [min, max] range (monotone in the sort
    * key — floor/divide preserve order, equal spends share a bucket,
    * residual ties break inside the bucket-local window). Bucket-
    * local rank/sum run at bucket parallelism over the data; the only
    * global window orders the BUCKET TOTALS (`nBuckets` rows). Offset
    * + local value equals the single-window result exactly — the
    * DuckDB oracles still compute the plain global window. */
  private[operators] def rankedBySpendDesc(spend: DataFrame,
                                           nBuckets: Int = 64): DataFrame = {
    val stats = spend.agg(max(col("spend")).as("mx"), min(col("spend")).as("mn"))
    val width = greatest((col("mx") - col("mn")).cast(DoubleType), lit(1e-9)) /
      lit(nBuckets)
    val b = spend.crossJoin(broadcast(stats))
      .withColumn("bucket", least(
        floor((col("mx") - col("spend")).cast(DoubleType) / width),
        lit(nBuckets - 1L)).cast(LongType))
      .drop("mx", "mn")
    val wLoc = Window.partitionBy("bucket")
      .orderBy(col("spend").desc, col("o_custkey"))
    val local = b
      .withColumn("rk_local", row_number().over(wLoc).cast(LongType))
      .withColumn("cum_local", sum(col("spend"))
        .over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy("bucket")
      .agg(count(lit(1)).as("b_n"), sum(col("spend")).as("b_spend"))
      .withColumn("rk_off", coalesce(sum(col("b_n")).over(wOff), lit(0L)))
      .withColumn("cum_off", sum(col("b_spend")).over(wOff))
      .select("bucket", "rk_off", "cum_off")
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("rk", col("rk_off") + col("rk_local"))
      .withColumn("cum", when(col("cum_off").isNull, col("cum_local"))
        .otherwise(col("cum_off") + col("cum_local")))
      .drop("bucket", "rk_local", "cum_local", "rk_off", "cum_off")
  }

  /** Customer spend quartiles — the NTILE cohort report ("which
    * quartile does this customer's lifetime spend fall in"): one
    * keyed aggregation to lifetime spend (decimal-exact), the
    * hierarchical global rank, then NTILE's bucket arithmetic applied
    * to (rank, total count) directly — the standard first-(n mod k)-
    * buckets-get-one-extra rule as a pure expression over two exact
    * longs, bit-equal to the window function on any engine. */
  def spendQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val spend = customerSpend(spark, dir)
    val totals = spend.agg(count(lit(1)).as("n_total"))
    rankedBySpendDesc(spend).crossJoin(broadcast(totals))
      .withColumn("quartile", expr(
        """CASE WHEN rk <= (n_total % 4) * ((n_total div 4) + 1)
          |     THEN ((rk - 1) div ((n_total div 4) + 1)) + 1
          |     ELSE (n_total % 4) +
          |          ((rk - (n_total % 4) * ((n_total div 4) + 1) - 1)
          |            div (n_total div 4)) + 1
          |END""".stripMargin).cast(LongType))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast(DoubleType).as("total_spend"),
        sum(col("n_orders")).as("n_orders"))
      .orderBy("quartile")
  }

  /** Time-series RESAMPLE: downsample the event stream to a fixed
    * hourly grid per series with gap filling and forward fill — the
    * dashboard/monitoring read the raw stream can't serve (a chart
    * needs every bucket present, an alert needs "the last observed
    * value", and hours with no events are exactly the interesting
    * ones). Spine = one `sequence` over the corpus [min, max] hour —
    * generated, never joined from data, so silent gaps are
    * impossible — crossed with the tiny distinct-series set; one
    * left join onto the per-bucket aggregate; forward fill is
    * `last(ignoreNulls)` over a series-partitioned running frame.
    * Aggregates are COUNT and MAX only — both order-independent, so
    * the result is bit-identical at any partitioning (a float SUM
    * would not be) and the DuckDB oracle can hash-check the whole
    * grid. Scale: the aggregate shuffles bucket-sized rows (bounded:
    * series × hours), the spine is tiny, and the fill window
    * partitions per series. */
  def resampleHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type").as("series"),
        date_trunc("hour", col("ts")).as("h"), col("value"))
    val agg = ev.groupBy("series", "h")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
    val spine = ev.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("h"))
      .crossJoin(ev.select("series").distinct())
    val w = Window.partitionBy("series").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(agg, Seq("series", "h"), "left")
      .select(col("series"), col("h"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("max_value"), ignoreNulls = true).over(w).as("max_value_ff"))
      .orderBy("series", "h")
  }

  /** Ranking + running totals per customer — the windowed analyst
    * workload over the queryable store. The rank filter runs in its
    * OWN window step before the running sum: a mixed rank+sum window
    * blocks InferWindowGroupLimit, while the split lets the rank
    * prune partially before the shuffle, and the running total over
    * the surviving rank-1..3 prefix is identical to the unpruned one
    * (a prefix sum only reads rows at or above its own rank). */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("price_rank", row_number().over(order).cast(LongType))
      .filter(col("price_rank") <= 3)
      .withColumn("running_total",
        sum(dec2(col("o_totalprice")))
          .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType))
      .select(col("o_custkey"), col("o_orderkey"), col("price_rank"), col("running_total"))
      .orderBy("o_custkey", "price_rank")
  }

  /** Top-revenue customers (TPC-H Q3 shape): fact-fact shuffle join +
    * broadcast dimension, decimal-exact revenue. */
  def topRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey"),
      (dec2(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
        .as("rev"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_custkey").agg(sum(col("rev")).cast(DoubleType).as("revenue"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  /** Revenue by nation (TPC-H Q5 shape): multi-join with broadcast
    * dimensions (region/nation/supplier/customer) and a single
    * fact-fact shuffle. */
  def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_suppkey"),
      (dec2(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
        .as("rev"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .join(broadcast(s),
        col("l_suppkey") === s("s_suppkey") && col("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name").agg(sum(col("rev")).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Rolling 7-day revenue — the RANGE-frame window (`RANGE BETWEEN 6
    * PRECEDING`, over epoch-day integers so both engines frame
    * identically): unlike a ROWS frame, missing calendar days shrink
    * the window instead of silently pulling in older days. The window
    * runs over the DAY-sized pre-aggregate (bounded by the calendar,
    * not the fact table), so the global sort it needs is report-sized;
    * decimal sums stay exact inside the frame and surface as DOUBLE. */
  def rollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("day_rev"),
        count(lit(1)).as("n_orders"))
      .withColumn("epoch_day",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast(LongType))
    val w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
    daily
      .withColumn("rev_7d", sum(col("day_rev")).over(w).cast(DoubleType))
      .withColumn("orders_7d", sum(col("n_orders")).over(w))
      .select(col("day"), col("day_rev").cast(DoubleType).as("day_rev"),
        col("n_orders"), col("rev_7d"), col("orders_7d"))
      .orderBy("day")
  }

  /** Daily active/new/retained/churned accounting — the engagement
    * ledger over the event stream. All four counters derive from the
    * distinct (user, day) table: active = per-day count, retained =
    * self-join on (user, day = prev day + 1), new = first-day census,
    * churned(d) = active on d−1 with no activity on d (the
    * anti-join, reported on d). Day-keyed joins after one distinct —
    * the stream shuffles once into the dedup, everything downstream
    * is user-day-sized. */
  def dailyChurn(spark: SparkSession, dir: String): DataFrame = {
    val dm = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val act = dm.groupBy("day").agg(count(lit(1)).as("n_active"))
    val a = dm.alias("a"); val b = dm.alias("b")
    val ret = a.join(b, col("a.user_id") === col("b.user_id") &&
        col("a.day") === date_add(col("b.day"), 1))
      .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("n_retained"))
    val fresh = dm.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val churned = a.join(b, col("b.user_id") === col("a.user_id") &&
        col("b.day") === date_add(col("a.day"), 1), "left_anti")
      .select(date_add(col("a.day"), 1).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    act.join(ret, Seq("day"), "left")
      .join(fresh, Seq("day"), "left")
      .join(churned, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  /** Registered fingerprint binding: per-month content checksum of
    * the orders key/customer/date projection — the canonical columns
    * are pre-cast to strings HERE so the canonical form is explicit
    * and engine-neutral (longs and ISO dates print identically
    * everywhere). */
  def ordersFingerprint(spark: SparkSession, dir: String): DataFrame =
    Reconcile.fingerprint(
      Tables.orders(spark, dir).select(
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        col("o_orderkey").cast("string").as("c_key"),
        col("o_custkey").cast("string").as("c_cust"),
        to_date(col("o_orderdate")).cast("string").as("c_date")),
      groupCols = Seq("order_month"),
      canonCols = Seq("c_key", "c_cust", "c_date"))
      .orderBy("order_month")

  /** EXACT distributed linear regression / correlation via sufficient
    * statistics — the one-pass, merge-order-proof way to regress at
    * 100 TB: built-in `corr`/`regr_slope` accumulate FLOAT co-moments
    * whose value depends on partition merge order, so two runs of the
    * same query can differ in the last ulp. Here the five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT integers
    * (quantity units and price cents, decimal(38,0) sums — no
    * overflow at any scale), and slope/intercept/r are a fixed double
    * formula over those exact integers: bit-identical at any
    * parallelism, and cross-engine. One grouped aggregate, one
    * shuffle of six numbers per group. */
  def priceQuantityRegression(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      col("l_quantity").cast(LongType).as("x"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("y"))
    val s = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"),
      sum((col("x") * col("x")).cast(d38)).as("sx2"),
      sum((col("y").cast(d38) * col("y").cast(d38))).as("sy2"))
    val nd = col("n").cast(DoubleType)
    val sxd = col("sx").cast(DoubleType); val syd = col("sy").cast(DoubleType)
    val cov = nd * col("sxy").cast(DoubleType) - sxd * syd
    val vx = nd * col("sx2").cast(DoubleType) - sxd * sxd
    val vy = nd * col("sy2").cast(DoubleType) - syd * syd
    s.select(col("l_returnflag"), col("n"),
        (cov / vx).as("slope_cents_per_unit"),
        ((syd - (cov / vx) * sxd) / nd).as("intercept_cents"),
        (cov / sqrt(vx * vy)).as("r"))
      .orderBy("l_returnflag")
  }

  /** Deequ-style COLUMN PROFILER — null counts and exact distinct
    * cardinalities for every profiled column in one logical pass (the
    * discovery step before writing row-123 expectations). Exact
    * distincts expand the aggregate per column; the approx variant at
    * 100 TB is one HLL per column (row 12's machinery) — this is the
    * audit-grade form. Output is unpivoted (one row per column) so a
    * growing schema never changes the result shape. */
  def ordersProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val agg = o.agg(count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        count(when(col(c).isNull, 1)).as(s"nulls_$c"),
        countDistinct(col(c)).as(s"dist_$c"))): _*)
    val stacked = cols.map(c =>
      s"'$c', nulls_$c, dist_$c").mkString(", ")
    agg.select(col("n_rows"),
        expr(s"stack(${cols.size}, $stacked) AS (column_name, n_nulls, n_distinct)"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
      .orderBy("column_name")
  }

  /** Per-group BOX-PLOT stats — exact quartiles, IQR and Tukey-fence
    * outlier counts per event type (the distribution summary behind
    * every monitoring dashboard). The R-7 interpolation both engines
    * implement is the same double expression, so even on arbitrary
    * float values the quartiles are bit-equal; fences reuse them
    * verbatim. One fact shuffle into the grouped percentile, one
    * broadcast-join back for the fence counts. */
  def eventBoxplot(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val q = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      expr("percentile(value, 0.25)").as("q1"),
      expr("percentile(value, 0.5)").as("median"),
      expr("percentile(value, 0.75)").as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
    ev.join(broadcast(q), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("q1").as("q1"), max("median").as("median"),
        max("q3").as("q3"), max("iqr").as("iqr"),
        count(when(col("value") < col("q1") - lit(1.5) * col("iqr"), 1))
          .as("n_low_outliers"),
        count(when(col("value") > col("q3") + lit(1.5) * col("iqr"), 1))
          .as("n_high_outliers"))
      .orderBy("event_type")
  }

  /** EQUI-DEPTH histogram — decile buckets per event type (the
    * complement of the equi-WIDTH binned histogram, row 34: equal
    * population per bucket, data-driven edges; what query optimizers
    * and drift monitors actually store). Edges are the exact R-7
    * percentiles (cross-engine bit-equal, see row 145); a value's
    * bucket = how many edges lie strictly below it — a broadcast of
    * nine doubles per type, counted map-side. Two fact passes (edges,
    * assignment), both single-shuffle. */
  def equiDepthHistogram(spark: SparkSession, dir: String,
                         nBuckets: Int = 10): DataFrame = {
    val ps = (1 until nBuckets).map(i => i.toDouble / nBuckets).mkString(", ")
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val edges = ev.groupBy("event_type")
      .agg(expr(s"percentile(value, array($ps))").as("edges"),
        count(lit(1)).as("n_total"))
    ev.join(broadcast(edges), "event_type")
      .withColumn("bucket",
        size(filter(col("edges"), e => e < col("value"))).cast(LongType))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_values"),
        min("value").as("lo"), max("value").as("hi"),
        max("n_total").as("n_total"))
      .withColumn("share",
        col("n_values").cast(DoubleType) / col("n_total").cast(DoubleType))
      .orderBy("event_type", "bucket")
  }

  /** Session PATH mining (user-journey analysis): the top event-type
    * sequences users follow within one session — where funnel
    * hypotheses (rows 92/98) come from. Sessions are the same
    * >30-minute-gap islands as `q_sessions`; within each, the path is
    * the '>'-joined event-type sequence in (ts, event_id) order —
    * reconstructed via `array_sort` over (ts, event_id, type) structs
    * so the order is total and engine-reproducible. Paths aggregate
    * once (session-sized lists, never user-sized), and the top-k is
    * under a (count DESC, path) total order. */
  def sessionPaths(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val paths = ev.groupBy("user_id", "session")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Exponential-DECAY trending score — "what's hot now": each day's
    * events weigh 2^(−age-in-days), so yesterday counts half of
    * today. Base-2 decay is deliberate: 2^(−k) is EXACT in double on
    * every engine (no transcendental drift, unlike e^(−λt)), and the
    * weighted terms are all multiples of the smallest power, so the
    * sum is exact and ORDER-INDEPENDENT — deterministic at any
    * parallelism. One day-census shuffle, one broadcast max-day. */
  def trendingDecay(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val mx = daily.agg(max("day").as("max_day"))
    daily.crossJoin(broadcast(mx))
      .withColumn("w",
        col("n") * pow(lit(2.0), -datediff(col("max_day"), col("day"))))
      .groupBy("event_type")
      .agg(sum("n").as("n_events"), sum("w").as("trend_score"))
      .orderBy(col("trend_score").desc, col("event_type"))
  }

  /** Distribution DRIFT report — two-sample chi-square contributions
    * per value bucket between the month's first and second half (the
    * feature-drift check a training pipeline runs between corpus
    * snapshots). Expected counts are exact-integer products divided
    * once in double, and each bucket's contribution is a fixed double
    * expression — so the report is hash-checkable PER BUCKET. The
    * per-bucket table is deliberately the output (not one summed χ²):
    * float summation order across buckets is partition-dependent, and
    * the per-bucket view is also what an analyst acts on. */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"),
      when(dayofmonth(col("ts")) <= 15, 1).otherwise(2).as("half"))
    val b = ev.withColumn("bucket", floor(col("value") / lit(10.0)).cast(LongType))
    val cells = b.groupBy("event_type", "bucket").agg(
      count(when(col("half") === 1, 1)).as("o1"),
      count(when(col("half") === 2, 1)).as("o2"))
    val totals = b.groupBy("event_type").agg(
      count(when(col("half") === 1, 1)).as("n1"),
      count(when(col("half") === 2, 1)).as("n2"))
    val e1 = (col("n1") * (col("o1") + col("o2"))).cast(DoubleType) /
      (col("n1") + col("n2")).cast(DoubleType)
    val e2 = (col("n2") * (col("o1") + col("o2"))).cast(DoubleType) /
      (col("n1") + col("n2")).cast(DoubleType)
    cells.join(broadcast(totals), "event_type")
      .withColumn("e1", e1).withColumn("e2", e2)
      .withColumn("chi2_contrib",
        when(col("e1") > 0 && col("e2") > 0,
          (col("o1") - col("e1")) * (col("o1") - col("e1")) / col("e1") +
          (col("o2") - col("e2")) * (col("o2") - col("e2")) / col("e2")))
      .select("event_type", "bucket", "o1", "o2", "e1", "e2", "chi2_contrib")
      .orderBy("event_type", "bucket")
  }

  /** Bucketed CO-LOCATED join: both sides published once with
    * `Sinks.writeBucketedTable` on the join key (same bucket count),
    * then joined with ZERO Exchange on either input — the plan a
    * 1000-executor cluster wants for a fact-to-dim join both sides of
    * which are reused across many queries. The merge hint keeps the
    * demonstration honest (a broadcast would also avoid the shuffle,
    * but only because the fixture dim is small); the no-Exchange
    * property is PlanSpec-pinned. Result-wise this is a plain
    * join+aggregate, so the DuckDB oracle reads the raw parquet. */
  /** Table names and paths carry a tag derived from the DATA DIR so
    * two concurrent sweeps (or two sessions on different scale
    * factors) publish to disjoint tables instead of dropping each
    * other's mid-query — "idempotent re-publish" now holds per input,
    * not just serially. */
  private def bucketTag(dir: String): String =
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff)

  /** One scratch dir per tag, which every call overwrites: the query
    * still times the bucketed write, and a sweep keeps one copy. */
  private val bucketDirs = new graft.util.Scratch.Fixture[String]("graft_buckets")

  def bucketJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val tag = bucketTag(dir)
    val tmp = bucketDirs(tag)(identity)
    Sinks.writeBucketedTable(
      Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice")),
      s"graft_b_orders_$tag", s"$tmp/orders", "o_custkey", buckets = 8)
    Sinks.writeBucketedTable(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
      s"graft_b_customer_$tag", s"$tmp/customer", "c_custkey", buckets = 8)
    bucketedJoin(spark, dir)
      .groupBy("c_nationkey")
      .agg(sum(dec2(col("o_totalprice"))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey")
  }

  /** The co-located join itself (exposed for the plan pin). */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = bucketTag(dir)
    val o = spark.table(s"graft_b_orders_$tag")
    val c = spark.table(s"graft_b_customer_$tag")
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
  }

  /** Arbitrary GROUPING SETS (the general form of ROLLUP/CUBE, rows
    * 42/122, via Spark 4's Dataset `groupingSets` API): exactly the
    * four subtotal combinations a dashboard wants — (nation, month),
    * (nation), (month), () — none of the 2ᵏ−4 others CUBE would also
    * compute. Same report-sized pre-aggregate underneath, so Expand
    * multiplies report rows, never fact rows; `grouping_id` labels
    * each stratum with the engine-shared bitmask convention. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
      dec2(col("o_totalprice")).as("price"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val pre = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"), col("order_month"))
      .agg(sum(col("price")).as("rev"), count(lit(1)).as("n"))
    pre.groupingSets(
        Seq(Seq(col("nation"), col("order_month")), Seq(col("nation")),
          Seq(col("order_month")), Seq()),
        col("nation"), col("order_month"))
      .agg(grouping_id().as("gid"),
        sum(col("rev")).cast(DoubleType).as("revenue"),
        sum(col("n")).as("n_orders"))
      .orderBy(col("gid"), col("nation"), col("order_month"))
  }

  /** Referential-integrity ORPHAN check — customers with no orders,
    * per nation (the verify-service read for foreign keys: row-13
    * counts rows, this counts RELATIONSHIPS). One broadcast-able
    * anti join + a dimension-sized census. */
  def orphanCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir).select("o_custkey").distinct()
    val orphans = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
    orphans.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orphans"))
      .join(c.groupBy("c_nationkey").agg(count(lit(1)).as("n_customers")),
        Seq("c_nationkey"), "right")
      .select(col("c_nationkey"),
        coalesce(col("n_orphans"), lit(0L)).as("n_orphans"),
        col("n_customers"))
      .orderBy("c_nationkey")
  }

  /** ID-sequence GAP detection, the scale-sane two-level form: an
    * ingest-verification read ("did we lose a range of keys"). A
    * global lag window would funnel every key through one partition;
    * instead keys bucket by `div B` and each bucket reports
    * (min, max, count, missing-inside) — an ordinary keyed aggregate
    * at any scale. Buckets with `missing > 0` are where a drill-down
    * (the lag formulation, now bounded to one bucket) would look. */
  def idGapSummaryOf(keys: DataFrame, keyCol: String,
                     bucketSize: Long = 4096): DataFrame =
    keys
      .select(expr(s"$keyCol div $bucketSize").as("bucket"), col(keyCol))
      .groupBy("bucket")
      .agg(min(keyCol).as("lo"), max(keyCol).as("hi"),
        count(lit(1)).as("n_present"))
      .withColumn("missing_inside", col("hi") - col("lo") + 1 - col("n_present"))
      .filter(col("missing_inside") > 0)
      .orderBy(col("missing_inside").desc, col("bucket"))
      .limit(20)

  /** Registered over the CDC base table's keyspace (multiples of 7
    * removed by construction — the summary must localize them). */
  def idGapSummary(spark: SparkSession, dir: String): DataFrame =
    idGapSummaryOf(Cdc.baseTable(spark, dir).select("o_orderkey"), "o_orderkey")

  /** Level 2 of the gap scheme: enumerate the exact missing RANGES
    * inside one flagged bucket. The lag window that would be a
    * single-partition funnel over the whole keyspace is now bounded
    * to ≤ bucketSize rows by construction — which is the entire point
    * of summarizing first. */
  /** The shared gap enumeration over an ALREADY bucket-bounded key
    * set: lead window (safe — the caller guarantees ≤ bucketSize
    * rows), consecutive-gap filter, exact missing ranges. */
  private def gapRangesOf(bucketKeys: DataFrame, keyCol: String): DataFrame = {
    val w = Window.orderBy(keyCol)
    bucketKeys
      .select(col(keyCol))
      .withColumn("nxt", lead(col(keyCol), 1).over(w))
      .filter(col("nxt") > col(keyCol) + 1)
      .select((col(keyCol) + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
        (col("nxt") - col(keyCol) - 1).as("n_missing"))
      .orderBy("gap_start")
  }

  def idGapDrillOf(keys: DataFrame, keyCol: String, bucket: Long,
                   bucketSize: Long = 4096): DataFrame =
    gapRangesOf(keys.filter(expr(s"$keyCol div $bucketSize") === bucket), keyCol)

  /** Drill the TOP bucket of the level-1 summary — the composition a
    * real verifier runs ("worst bucket, exact ranges") with no
    * hard-coded bucket id, so it returns rows at ANY scale where any
    * gap exists. The top-1 row is broadcast and semi-joined rather
    * than collected: the plan stays one declarative DAG and the lag
    * window remains bounded to one bucket (≤ bucketSize rows). */
  def idGapDrillTopOf(keys: DataFrame, keyCol: String,
                      bucketSize: Long = 4096): DataFrame = {
    val top = idGapSummaryOf(keys, keyCol, bucketSize)
      .limit(1).select("bucket")
    gapRangesOf(
      keys
        .select(expr(s"$keyCol div $bucketSize").as("bucket"), col(keyCol))
        .join(broadcast(top), Seq("bucket")),
      keyCol)
  }

  /** Registered drill into the worst bucket of the CDC base keyspace. */
  def idGapDrill(spark: SparkSession, dir: String): DataFrame =
    idGapDrillTopOf(Cdc.baseTable(spark, dir).select("o_orderkey"),
      "o_orderkey")

  /** Cumulative user ACCRETION — the growth curve (daily new users +
    * running total of everyone ever seen). Running DISTINCT COUNT is
    * the naive formulation and is quadratic-ish in state; first-seen
    * reduction makes it two bounded aggregates: min(day) per user,
    * then a day census with one running sum over the calendar-sized
    * result. */
  def userAccretion(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.events(spark, dir)
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
    val daily = firstSeen.groupBy("day").agg(count(lit(1)).as("n_new_users"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily.withColumn("cum_users", sum(col("n_new_users")).over(w))
      .orderBy("day")
  }

  /** Robust ANOMALY detection on daily event volume — median + MAD
    * (median absolute deviation), the outlier-resistant alternative to
    * mean/stddev z-scores (one crazy day inflates a stddev and hides
    * itself; it cannot move a median). Exactness: counts are integers,
    * the exact-percentile interpolation `lower + (higher−lower)·0.5`
    * produces halves/quarters that both engines compute bit-equally,
    * and the flag compares `|n−med| > 3·mad` in exact doubles — no
    * epsilon anywhere. Scale: one fact shuffle into the day census;
    * med/mad are two single-row aggregates over the calendar-bounded
    * census, broadcast back. */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val med = daily.agg(expr("percentile(n_events, 0.5)").as("med"))
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("n_events") - col("med")))
    val mad = dev.agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("n_events"),
        col("med").cast(DoubleType).as("med"),
        col("mad").cast(DoubleType).as("mad"),
        when(col("dev") > lit(3) * col("mad"), "T").otherwise("F")
          .as("is_anomaly"))
      .orderBy("day")
  }

  /** Join-key SKEW profiler — the diagnostic BEFORE the salted join
    * (Skew.scala): which keys dominate, by how much. At 100 TB this
    * is the query you run to decide whether a key needs salting; one
    * keyed census plus a broadcast totals row. `share` and `skew`
    * (multiples of a fair share) are exact-int divisions in double. */
  def keySkewProfile(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    val totals = counts.agg(sum(col("n_orders")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col("o_custkey"), col("n_orders"),
        (col("n_orders").cast(DoubleType) / col("total").cast(DoubleType))
          .as("share"),
        (col("n_orders").cast(DoubleType) * col("n_keys").cast(DoubleType) /
          col("total").cast(DoubleType)).as("skew"))
      .orderBy(col("n_orders").desc, col("o_custkey"))
      .limit(topK)
  }

  /** Revenue CONCENTRATION (Pareto): how many top customers cover
    * 50/80/90/99% of lifetime revenue. The running share needs a
    * global order — taken over the CUSTOMER aggregate through the
    * HIERARCHICAL rank (bucket-local windows + broadcast bucket
    * offsets, see [[rankedBySpendDesc]]) so no reducer ever sees the
    * whole dimension; the threshold test is `cum·100 ≥ total·t` in
    * DECIMAL — integer-exact on both engines, no float share ever
    * compared. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val spend = customerSpend(spark, dir).drop("n_orders")
    val ranked = rankedBySpendDesc(spend)
    val totals = spend.agg(sum(col("spend")).as("total"),
      count(lit(1)).as("n_customers_total"))
    val thresholds = spark.range(1).select(
      explode(array(lit(50), lit(80), lit(90), lit(99))).as("threshold_pct"))
    ranked.crossJoin(broadcast(totals)).crossJoin(broadcast(thresholds))
      .filter(col("cum") * lit(100) >= col("total") * col("threshold_pct"))
      .groupBy(col("threshold_pct").cast(LongType).as("threshold_pct"))
      .agg(min(col("rk")).as("n_customers"),
        max(col("n_customers_total")).as("n_customers_total"))
      .withColumn("customer_share",
        col("n_customers").cast(DoubleType) /
          col("n_customers_total").cast(DoubleType))
      .orderBy("threshold_pct")
  }
}
