package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.sources.{Sinks, Tables}

/** Change-data-feed between two versions of the versioned snapshot
  * store — the read-side complement of the CDC write path: the
  * reference keeps an audit trail by logging every applied operation
  * (`InputFileStatistics`, the file-log tables); a lakehouse gets the
  * same answer by DIFFING two committed versions (`table_changes` /
  * CDF in Delta terms). Version history is exactly what
  * [[Sinks.publishSnapshot]]'s retention keeps, so the diff needs no
  * extra write-side bookkeeping at all.
  */
object SnapshotDiff {

  /** Row-level diff of two keyed table states: one full-outer shuffle
    * join on the key at any scale (both sides hash-partition; no
    * all-pairs term), emitting only changed rows — `insert` (key only
    * in `newDf`), `delete` (key only in `oldDf`), `update` (any
    * compare column differs, null-safe). Unchanged keys — the
    * overwhelming majority between adjacent versions — are dropped
    * before the output sort, so the result is change-sized, not
    * table-sized. */
  def diffOf(oldDf: DataFrame, newDf: DataFrame, key: String,
             compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select((key +: compareCols).map(col): _*).as("o")
    val n = newDf.select((key +: compareCols).map(col): _*).as("n")
    val differs = compareCols.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduce(_ || _)
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .withColumn("change_type",
        when(col(s"o.$key").isNull, "insert")
          .when(col(s"n.$key").isNull, "delete")
          .when(differs, "update"))
      .filter(col("change_type").isNotNull)
      .select(
        (coalesce(col(s"o.$key"), col(s"n.$key")).as(key) +:
          col("change_type") +:
          compareCols.flatMap(c =>
            Seq(col(s"o.$c").as(s"old_$c"), col(s"n.$c").as(s"new_$c")))): _*)
  }

  /** Apply a change feed (the output of [[diffOf]]) to the state it
    * was diffed FROM, reconstructing the state it was diffed TO —
    * what a downstream subscriber (replica, incremental view, search
    * index) does with the CDF instead of re-reading the whole table.
    * One left join on the key (drop deleted/updated old rows) + one
    * union of the feed's new rows; change-feed-sized work beyond the
    * single keyed join. Round-trip `applyDiff(old, diffOf(old, new))
    * ≡ new` is spec-pinned, nulls included. */
  def applyDiff(oldDf: DataFrame, diff: DataFrame, key: String,
                compareCols: Seq[String]): DataFrame = {
    val touched = diff.select(col(key), col("change_type"))
    val kept = oldDf.select((key +: compareCols).map(col): _*)
      .join(touched, Seq(key), "left")
      .filter(col("change_type").isNull)
      .drop("change_type")
    val arrived = diff
      .filter(col("change_type") =!= "delete")
      .select((col(key) +: compareCols.map(c => col(s"new_$c").as(c))): _*)
    kept.unionByName(arrived)
  }

  /** The materialized view: per-month live-row count and price total
    * over a snapshot state. Full recompute is one table-sized
    * shuffle — what [[refreshAgg]] exists to avoid re-paying on every
    * version. */
  def monthlyAgg(state: DataFrame): DataFrame =
    state.filter(col("is_deleted") === "F")
      .groupBy(trunc(col("transaction_date"), "month").as("month"))
      .agg(count(lit(1)).as("n_live"), sum("price").as("sum_price"))

  /** Incremental materialized-view maintenance: fold a [[diffOf]]
    * change feed into the previous [[monthlyAgg]] result instead of
    * re-aggregating the table. Each feed row retires the old row's
    * contribution (update/delete of a live row) and adds the new
    * row's (update/insert to a live state) — count and sum are
    * self-decomposable, so old agg + signed deltas ≡ full recompute,
    * including rows that MOVE month via an updated date. Work is
    * O(|feed| + |agg|): at 100 TB the table never gets touched, only
    * the feed (change-sized) and the agg (group-sized). Soft-delete
    * flips ride the same two branches because `is_deleted` is a
    * compare column: a F→T update retires without arriving. Groups
    * whose count reaches zero are dropped, matching recompute. */
  def refreshAgg(agg: DataFrame, feed: DataFrame): DataFrame = {
    val retired = feed
      .filter(col("change_type").isin("update", "delete") &&
        col("old_is_deleted") === "F")
      .select(trunc(col("old_transaction_date"), "month").as("month"),
        lit(-1L).as("dn"), (-col("old_price")).as("dp"))
    val arrived = feed
      .filter(col("change_type").isin("update", "insert") &&
        col("new_is_deleted") === "F")
      .select(trunc(col("new_transaction_date"), "month").as("month"),
        lit(1L).as("dn"), col("new_price").as("dp"))
    val deltas = retired.unionByName(arrived)
      .groupBy("month").agg(sum("dn").as("dn"), sum("dp").as("dp"))
    agg.join(deltas, Seq("month"), "full_outer")
      .select(col("month"),
        (coalesce(col("n_live"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_live"),
        (coalesce(col("sum_price"), lit(java.math.BigDecimal.ZERO)) +
          coalesce(col("dp"), lit(java.math.BigDecimal.ZERO))).as("sum_price"))
      .filter(col("n_live") > 0)
  }

  /** Registered `q_incr_agg`: maintain the monthly aggregate across
    * the v2→v3 publish incrementally — aggregate version 2 once, then
    * fold in the change feed — and hash-match the oracle's full
    * GROUP BY over the final chained-replay state. Decimal deltas are
    * additive (exact in both engines); the double cast happens once
    * at the edge. */
  def incrAggResult(spark: SparkSession, dir: String): DataFrame = {
    val table = timelines(dir)(buildTimeline(spark, dir, _))
    val v2 = Sinks.readSnapshotAt(spark, table, version = 2L)
    val v3 = Sinks.readSnapshotAt(spark, table, version = 3L)
    val feed = diffOf(v2, v3, key = "o_orderkey",
      compareCols = Seq("price", "is_deleted", "transaction_date"))
    refreshAgg(monthlyAgg(v2), feed)
      .select(col("month"), col("n_live"),
        col("sum_price").cast(DoubleType).as("sum_price"))
      .orderBy("month")
  }

  /** Registered `q_cdf_apply`: replay the v2→v3 change feed onto the
    * retained version-2 state and land, bit-exact, on version 3 — the
    * subscriber round-trip ([[diffOf]] then [[applyDiff]]) proven
    * against the chained-replay oracle rather than against our own
    * diff. A feed subscriber that maintains a replica this way holds
    * the same state as a full re-read, at change-feed cost. */
  def cdfApplyResult(spark: SparkSession, dir: String): DataFrame = {
    val table = timelines(dir)(buildTimeline(spark, dir, _))
    val v2 = Sinks.readSnapshotAt(spark, table, version = 2L)
    val v3 = Sinks.readSnapshotAt(spark, table, version = 3L)
    val feed = diffOf(v2, v3, key = "o_orderkey", compareCols = Seq("price", "is_deleted"))
    applyDiff(v2, feed, key = "o_orderkey", compareCols = Seq("price", "is_deleted"))
      .select(col("o_orderkey"), col("price").cast(DoubleType).as("price"),
        col("is_deleted"))
      .orderBy("o_orderkey")
  }

  /** One timeline per source dir per JVM: the fixture is
    * deterministic (same three publishes from the same inputs), so
    * the four registered queries that read it — time travel, diff,
    * CDF apply, incremental aggregate — share one build instead of
    * re-publishing it each (and, under the benchmark's median-of-3,
    * nine times over). The timed path is then what each query
    * actually claims: the version reads and the change-feed work,
    * not the shared fixture setup. */
  private val timelines = new graft.util.Scratch.Fixture[String]("timeline")

  /** Publish the three-version CDC timeline into a scratch table:
    * v1 = base snapshot, v2 = month-1 merge applied, v3 = month-2
    * merge applied against v2 — the batch twin of the streaming
    * multi-batch query's lifecycle, shared by both registered
    * queries below. Returns the table path (live version = 3; v2
    * retained by the default window, v1 pruned). */
  private def buildTimeline(spark: SparkSession, dir: String, tmp: String): String = {
    val table = s"$tmp/table"
    val dates = Tables.orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("transaction_date"))
    Sinks.publishSnapshot(Cdc.baseTable(spark, dir).join(dates, "o_orderkey"),
      "transaction_date", table, colocateMonths = true)
    def applyMonth(changes: DataFrame): Unit = {
      val prev = Sinks.readSnapshot(spark, table).drop("txn_month")
      val merged = CdcMerge.mergeBroadcast(prev,
        changes.withColumnRenamed("new_price", "price").join(dates, "o_orderkey"),
        key = "o_orderkey", compareCols = Seq("price", "transaction_date"))
      Sinks.publishSnapshot(CdcMerge.applied(merged).drop("outcome"),
        "transaction_date", table, colocateMonths = true)
      ()
    }
    applyMonth(Cdc.changeSet(spark, dir))
    applyMonth(Cdc.changeSet2(spark, dir))
    table
  }

  /** Registered `q_time_travel`: after the month-2 publish, read the
    * RETAINED month-1 version through [[Sinks.readSnapshotAt]] — the
    * historical state as of version 2, hash-checked against the
    * single-merge oracle even though the live table has moved on.
    * Pins that retention keeps committed history bit-exact and that
    * the version-pinned read path resolves the right directory. */
  def timeTravelResult(spark: SparkSession, dir: String): DataFrame = {
    val table = timelines(dir)(buildTimeline(spark, dir, _))
    Sinks.readSnapshotAt(spark, table, version = 2L)
      .select(col("o_orderkey"), col("price").cast(DoubleType).as("price"),
        col("transaction_date"), col("is_deleted"))
      .orderBy("o_orderkey")
  }

  /** Registered `q_time_travel_ts`: the SAME month-1 state resolved by
    * TIMESTAMP instead of version number — commit-marker mtimes are
    * planted a minute apart and the read asks for a moment strictly
    * between the month-1 and month-2 commits, through the connector's
    * `timestampAsOf` option ([[Sinks.versionAsOfTimestamp]]'s
    * newest-commit-at-or-before rule). Answers the SAME DuckDB oracle
    * as `q_time_travel`: two resolution paths, one pinned history. */
  def timeTravelTsResult(spark: SparkSession, dir: String): DataFrame = {
    // OWN cached fixture, never the shared timeline: this query PLANTS
    // commit times, and the fixture rule is that mutators get a fresh
    // (here: private, built-once) copy — re-planting the shared
    // timeline on every invocation would race the other four queries
    // reading it. Times are planted ONCE, in the fixture build (in the
    // PAST, so later real commits sort after them) and the read moment
    // derives from the planted values, not a fresh now().
    val (table, readTs) = tsTimelines(dir) { tmp =>
      val t = buildTimeline(spark, dir, tmp)
      val t0 = System.currentTimeMillis()
      // the timeline's default window retains v2 and v3 only (v1
      // pruned) — plant the two retained commit times a minute apart
      Seq(2L, 3L).foreach(v =>
        graft.sources.Sinks.plantCommitTime(spark, t, v, t0 - (4L - v) * 60000L))
      (t, t0 - 90000L) // strictly between the planted m2 and m3 moments
    }
    spark.read.format("graft-table")
      .option("timestampAsOf", readTs.toString)
      .load(table)
      .select(col("o_orderkey"), col("price").cast(DoubleType).as("price"),
        col("transaction_date"), col("is_deleted"))
      .orderBy("o_orderkey")
  }

  private val tsTimelines = new graft.util.Scratch.Fixture[(String, Long)]("time_travel_ts_q")

  /** Registered `q_snapshot_diff`: the change feed v2 → v3, i.e.
    * exactly what month 2 did to the table — re-added keys surface as
    * `insert`, price bumps and soft-delete flips as `update` (soft
    * deletes mean no physical `delete` ever appears; the branch
    * exists for tables that hard-delete). Hash-checked against a
    * DuckDB full-outer diff of the two chained replay states. */
  def snapshotDiffResult(spark: SparkSession, dir: String): DataFrame = {
    val table = timelines(dir)(buildTimeline(spark, dir, _))
    diffOf(
        Sinks.readSnapshotAt(spark, table, version = 2L),
        Sinks.readSnapshotAt(spark, table, version = 3L),
        key = "o_orderkey", compareCols = Seq("price", "is_deleted"))
      .select(col("o_orderkey"), col("change_type"),
        col("old_price").cast(DoubleType).as("old_price"),
        col("new_price").cast(DoubleType).as("new_price"),
        col("old_is_deleted"), col("new_is_deleted"))
      .orderBy("o_orderkey")
  }

  /** Change feed between two committed versions of an EVOLVED (and
    * possibly MoR-amended) table: both sides resolve their deletion
    * chains and project onto `toVersion`'s schema BY ID
    * ([[graft.sources.SchemaEvolution.readMergedAs]]) before diffing.
    * A renamed column therefore diffs as ITSELF — value changes only
    * — where the name-based [[diffOf]] would flood the feed with a
    * spurious delete+insert of every row; a column added after
    * `fromVersion` surfaces as null→value updates; a dropped column
    * vanishes from the comparison. The diff itself stays the one
    * full-outer keyed shuffle. */
  def diffVersionsAs(spark: SparkSession, tablePath: String,
                     fromVersion: Long, toVersion: Long, key: String): DataFrame = {
    val target = graft.sources.SchemaEvolution.schemaOf(spark, tablePath, toVersion)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"version $toVersion of $tablePath has no schema mapping"))
    val compare = target.map(_.name).filterNot(_ == key)
    diffOf(
      graft.sources.SchemaEvolution.readMergedAs(spark, tablePath,
        fromVersion, Some(toVersion)),
      graft.sources.SchemaEvolution.readMergedAs(spark, tablePath,
        toVersion, Some(toVersion)),
      key, compare)
  }

  private val evolvedDiffFixtures = new graft.util.Scratch.Fixture[String]("snapshot_diff_evo_q")

  /** Registered `q_snapshot_diff_evolved`: the id-resolved change feed
    * across a version gap that contains BOTH a rename and a DV chain —
    * v1 publishes (k, price, day) evolved; a deletion vector drops
    * every 19th key; v3 renames price→amount while bumping every 7th
    * surviving key by 1.50 and inserting an offset twin of every 23rd.
    * The feed [[diffVersionsAs]] emits must be EXACTLY the planted
    * deletes/updates/inserts — the hash oracle recomputes it from
    * `orders` directly, so one spurious rename-induced row breaks the
    * match. */
  def snapshotDiffEvolvedResult(spark: SparkSession, dir: String): DataFrame = {
    val table = evolvedDiffFixtures(dir) { tmp =>
      val t = s"$tmp/table"
      val base = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          to_date(col("o_orderdate")).as("day"))
      graft.sources.SchemaEvolution.publishEvolved(base, "day", t,
        retainVersions = 10)
      graft.sources.DeletionVectors.publishDeletes(spark, t,
        base.filter(col("k") % 19 === 0).select("k"), "k")
      val survivors = base.filter(col("k") % 19 =!= 0)
      val renamedBumped = survivors
        .select(col("k"),
          when(col("k") % 7 === 0,
            col("price") + lit(new java.math.BigDecimal("1.50")))
            .otherwise(col("price")).as("amount"),
          col("day"))
      val inserts = survivors.filter(col("k") % 23 === 0)
        .select((col("k") + 30000000L).as("k"), col("price").as("amount"),
          col("day"))
      graft.sources.SchemaEvolution.publishEvolved(
        renamedBumped.unionByName(inserts), "day", t,
        renamedFrom = Map("amount" -> "price"), retainVersions = 10)
      t
    }
    diffVersionsAs(spark, table, fromVersion = 1L,
      toVersion = Sinks.currentVersion(spark, table).get, key = "k")
      .select(col("k"), col("change_type"),
        col("old_amount").cast(DoubleType).as("old_amount"),
        col("new_amount").cast(DoubleType).as("new_amount"),
        col("old_day"), col("new_day"))
      .orderBy("k")
  }

  def snapshotDiffEvolvedOracle: String =
    """WITH o AS (SELECT o_orderkey AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
      |    CAST(o_orderdate AS DATE) AS day FROM orders)
      |SELECT k, 'delete' AS change_type,
      |  CAST(amount AS DOUBLE) AS old_amount, CAST(NULL AS DOUBLE) AS new_amount,
      |  day AS old_day, CAST(NULL AS DATE) AS new_day
      |FROM o WHERE k % 19 = 0
      |UNION ALL
      |SELECT k, 'update', CAST(amount AS DOUBLE),
      |  CAST(amount + 1.50 AS DOUBLE), day, day
      |FROM o WHERE k % 19 <> 0 AND k % 7 = 0
      |UNION ALL
      |SELECT k + 30000000, 'insert', CAST(NULL AS DOUBLE),
      |  CAST(amount AS DOUBLE), CAST(NULL AS DATE), day
      |FROM o WHERE k % 19 <> 0 AND k % 23 = 0
      |ORDER BY k""".stripMargin
}
