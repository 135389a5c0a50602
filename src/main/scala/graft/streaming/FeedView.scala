package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{DeletionVectors, Sinks, Tables}

/** FEED-DRIVEN INCREMENTAL MATERIALIZED VIEW — the streaming twin of
  * [[graft.operators.SnapshotDiff.refreshAgg]]: a monthly aggregate
  * (live-row count + exact decimal sum + min/max) maintained from the
  * CHANGE FEED instead of batch diffs. The feed runs in `preimages`
  * mode (Delta-CDF shapes), so count/sum maintenance is pure
  * signed-delta algebra; MIN/MAX fold arrivals with least/greatest
  * and repair retirement-of-extremum groups by recomputing exactly
  * those groups from the base (O(affected groups), the standard
  * technique — deletes are not invertible for extremes):
  *
  *   - `update_preimage` / `delete` rows RETIRE their old contribution
  *     (−1, −old price, in the OLD row's month — month moves ride the
  *     retire+arrive pair exactly as the batch fold's do);
  *   - `update_postimage` / `insert` rows ARRIVE theirs (+1, +price);
  *   - a `snapshot` baseline RE-KEYS the state: the aggregate is
  *     rebuilt from the snapshot rows alone (the consumer's answer to
  *     a full replace — never a guessed diff against it).
  *
  * Work per trigger is O(changes in the batch) + O(aggregate groups):
  * the base table is never re-read by the maintainer (the feed's
  * preimage resolution pays the parent-chain join on the SOURCE side —
  * the price of not shipping preimages in the log; see
  * [[graft.sources.GraftFeedSource]]). At 100 TB the aggregate is
  * months × groups — KBs — while the table is the thing never touched.
  *
  * Replay-safe: the persisted state is VERSIONED BY SOURCE COMMIT
  * (`a<version>` dirs under `stateDir`, newest wins), and a version
  * already folded is skipped — foreachBatch re-delivery after a crash
  * re-applies nothing, which signed deltas (unlike the MoR mirror's
  * idempotent upserts) genuinely require. The reference anchor is the
  * `Analysis` histograms staying current as monthly updates land,
  * without re-scanning the accumulated table.
  */
object FeedView {

  private val aggRe = "a(\\d{8})".r

  /** Newest committed aggregate state (source version, path). */
  private def latestAgg(spark: SparkSession, stateDir: String): Option[(Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq.flatMap(_.getPath.getName match {
      case aggRe(n) => Some(n.toLong)
      case _        => None
    }).maxOption.map(v => (v, f"$stateDir/a$v%08d"))
  }

  /** The maintained aggregate as of the newest folded source commit. */
  def readAgg(spark: SparkSession, stateDir: String): DataFrame = {
    val (_, path) = latestAgg(spark, stateDir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no maintained aggregate at $stateDir — the feed view never folded a commit"))
    spark.read.parquet(path)
  }

  /** Tail `sourceTable`'s change feed (preimages mode) and maintain
    * the monthly (n_live, sum_price) aggregate under `stateDir`.
    *
    * `maintainExtremes` also keeps per-group `min_price`/`max_price`
    * (delete repair included — the dirty-group recompute described in
    * the class doc). It defaults ON; a maintainer whose consumers
    * never ask for MIN/MAX can turn it off and skip the repair reads
    * entirely — maintain exactly the aggregates the view serves.
    *
    * With `registerView = true` the maintainer ALSO keeps the
    * aggregate registered for automatic query rewrite
    * ([[graft.plans.MatViews]]): after each fold the registration
    * advances to the newly-committed state and source version, so an
    * aggregate query through the catalog is answered from the view
    * whenever the maintainer is caught up — and falls back to the
    * base read (by the rewrite's version check, not by anything this
    * code does) in the window between a source commit and its fold. */
  def runFeedAgg(spark: SparkSession, sourceTable: String, stateDir: String,
                 checkpoint: String, dateCol: String, priceCol: String,
                 availableNow: Boolean = false, registerView: Boolean = false,
                 maintainExtremes: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val monthOf = (c: org.apache.spark.sql.Column) => trunc(c, "month")
    val writer = spark.readStream.format("graft-table")
      .option("startingVersion", "1").option("preimages", "true").load(sourceTable)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        // materialize the feed batch ONCE: its plan carries the
        // source's preimage-resolution joins, and every fold action
        // below (per-version filter, snapshot probe, state write)
        // would otherwise re-run them from scratch
        val b = batch.toDF().localCheckpoint()
        val fs = new org.apache.hadoop.fs.Path(stateDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // bounded driver action: the distinct versions THIS batch holds,
        // WITH each version's has-a-snapshot flag riding the same
        // aggregation — the per-version `snap.isEmpty` probe was a
        // separate job per version (guide §2.4 driver overhead)
        val versions = b.groupBy("_commit_version")
          .agg(max(when(col("_change_type") === "snapshot", 1L)
            .otherwise(0L)).as("__has_snap"))
          .collect().map(r => (r.getLong(0), r.getLong(1) == 1L)).sortBy(_._1)
        versions.foreach { case (v, hasSnap) =>
          val applied = latestAgg(spark, stateDir)
          val lastApplied = applied.map(_._1).getOrElse(0L)
          if (v > lastApplied) { // re-delivered batches fold nothing twice
            val of = b.filter(col("_commit_version") === v)
            val snapAggs = Seq(count(lit(1)).as("n_live"),
                count(col(priceCol)).as("cnt_price"),
                sum(priceCol).cast("decimal(18,2)").as("sum_price")) ++
              (if (maintainExtremes)
                 Seq(min(priceCol).cast("decimal(18,2)").as("min_price"),
                   max(priceCol).cast("decimal(18,2)").as("max_price"))
               else Nil)
            val next =
              if (hasSnap) // full replace: re-key from the baseline
                of.filter(col("_change_type") === "snapshot")
                  .groupBy(monthOf(col(dateCol)).as("month"))
                  .agg(snapAggs.head, snapAggs.tail: _*)
              else {
                val prevRaw = applied.map(a => spark.read.parquet(a._2)).getOrElse(
                  throw new IllegalStateException(
                    s"feed view at $stateDir: version $v is a change link but no " +
                    "baseline aggregate exists — the view folds a snapshot first"))
                // MIGRATION: state written by a count/sum-only maintainer
                // (or before extremes existed) has no min/max columns —
                // splice them in as nulls and BACKFILL every group from
                // the base this one time (forcing the dirty path), so an
                // upgraded maintainer resumes instead of crashing
                val backfillExtremes = maintainExtremes &&
                  !prevRaw.columns.contains("min_price")
                val prev =
                  if (!backfillExtremes) prevRaw
                  else prevRaw
                    .withColumn("min_price", lit(null).cast("decimal(18,2)"))
                    .withColumn("max_price", lit(null).cast("decimal(18,2)"))
                // signed deltas track the NON-NULL price count (dc)
                // separately from the row count (dn): a null-priced row
                // moves n_live but neither cnt_price nor sum_price, so
                // the folded sum stays NULL for a group that has never
                // seen a non-null price — exactly base SUM semantics
                // (coalescing both operands to 0 would fold an all-null
                // month to 0.00 while the base answer is NULL)
                // extremes ride the same pass: arrivals can only
                // IMPROVE a group's min/max (least/greatest fold), but
                // a retirement that reaches the stored extremum makes
                // the group DIRTY — its min/max is recomputed from the
                // base below, the standard O(affected groups) repair
                def extremeCols(retiring: Boolean): Seq[org.apache.spark.sql.Column] =
                  if (!maintainExtremes) Nil
                  else if (retiring)
                    Seq(col(priceCol).as("rp"),
                      lit(null).cast("decimal(18,2)").as("ap"))
                  else
                    Seq(lit(null).cast("decimal(18,2)").as("rp"),
                      col(priceCol).as("ap"))
                val retired = of.filter(col("_change_type")
                    .isin("update_preimage", "delete"))
                  .select(Seq(monthOf(col(dateCol)).as("month"),
                    lit(-1L).as("dn"),
                    when(col(priceCol).isNull, 0L).otherwise(-1L).as("dc"),
                    (-col(priceCol)).as("dp")) ++ extremeCols(retiring = true): _*)
                val arrived = of.filter(col("_change_type")
                    .isin("update_postimage", "insert"))
                  .select(Seq(monthOf(col(dateCol)).as("month"),
                    lit(1L).as("dn"),
                    when(col(priceCol).isNull, 0L).otherwise(1L).as("dc"),
                    col(priceCol).as("dp")) ++ extremeCols(retiring = false): _*)
                val deltaAggs = Seq(sum("dn").as("dn"), sum("dc").as("dc"),
                    sum("dp").as("dp")) ++
                  (if (maintainExtremes)
                     Seq(min("ap").as("amin"), max("ap").as("amax"),
                       min("rp").as("rmin"), max("rp").as("rmax"))
                   else Nil)
                val deltas = retired.unionByName(arrived)
                  .groupBy("month").agg(deltaAggs.head, deltaAggs.tail: _*)
                val foldCols = Seq(col("month"),
                    (coalesce(col("n_live"), lit(0L)) +
                      coalesce(col("dn"), lit(0L))).as("n_live"),
                    (coalesce(col("cnt_price"), lit(0L)) +
                      coalesce(col("dc"), lit(0L))).as("cnt_price"),
                    (coalesce(col("sum_price"),
                        lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")) +
                      coalesce(col("dp"),
                        lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")))
                      .cast("decimal(18,2)").as("sum_price")) ++
                  (if (!maintainExtremes) Nil
                   else if (backfillExtremes)
                     // one-time backfill: every group recomputes
                     Seq(lit(true).as("dirty_min"), lit(true).as("dirty_max"),
                       lit(null).cast("decimal(18,2)").as("min_fold"),
                       lit(null).cast("decimal(18,2)").as("max_fold"))
                   else
                     // a retirement is only dangerous if it reaches the
                     // stored extremum AND no arrival at least matches
                     // it (ties retire one of possibly-many holders —
                     // unknowable without the base, hence dirty)
                     Seq((col("rmin").isNotNull && col("min_price").isNotNull &&
                         col("rmin") <= col("min_price") &&
                         (col("amin").isNull || col("amin") > col("rmin")))
                         .as("dirty_min"),
                       (col("rmax").isNotNull && col("max_price").isNotNull &&
                         col("rmax") >= col("max_price") &&
                         (col("amax").isNull || col("amax") < col("rmax")))
                         .as("dirty_max"),
                       least(col("min_price"), col("amin")).as("min_fold"),
                       greatest(col("max_price"), col("amax")).as("max_fold"))
                   )
                val folded = prev.join(deltas, Seq("month"), "full_outer")
                  .select(foldCols: _*)
                  .withColumn("sum_price",
                    when(col("cnt_price") === 0L,
                      lit(null).cast("decimal(18,2)")).otherwise(col("sum_price")))
                  .filter(col("n_live") > 0)
                if (!maintainExtremes) folded
                else {
                  // materialize the fold ONCE (group-sized rows): the
                  // dirty-month probe and the state write would
                  // otherwise EACH re-run it — the r9 lesson. The
                  // dirty-month set RIDES the checkpoint job as an
                  // observed metric (guide §2.4 job thrift): a
                  // separate collect() was one more job per version.
                  val obsDirty = org.apache.spark.sql.Observation()
                  val foldedC = folded
                    .observe(obsDirty, collect_set(
                      when(col("dirty_min") || col("dirty_max"), col("month")))
                      .as("dirty"))
                    .localCheckpoint()
                  // dirty-group repair: recompute min/max for EXACTLY
                  // the months a retirement dethroned, from the base
                  // state at this version. Bounded driver value
                  // (months, not rows); the base read is
                  // range-predicated on the date column so parquet
                  // row-group stats skip untouched months' files (the
                  // month-partitioned layout makes file min/max tight).
                  // months arrive as java.sql.Date, or as LocalDate when
                  // the session runs the Java 8 datetime API
                  val dirtyMonths = obsDirty.get.apply("dirty")
                    .asInstanceOf[scala.collection.Seq[Any]].toSeq.map {
                      case d: java.sql.Date       => d.toLocalDate
                      case d: java.time.LocalDate => d
                    }
                  if (dirtyMonths.isEmpty)
                    foldedC.select(col("month"), col("n_live"), col("cnt_price"),
                      col("sum_price"),
                      col("min_fold").cast("decimal(18,2)").as("min_price"),
                      col("max_fold").cast("decimal(18,2)").as("max_price"))
                  else {
                    val ranges = dirtyMonths.map { start =>
                      (col(dateCol) >= lit(java.sql.Date.valueOf(start))) &&
                        (col(dateCol) < lit(java.sql.Date.valueOf(start.plusMonths(1))))
                    }.reduce(_ || _)
                    val recomputed = graft.sources.DeletionVectors
                      .readMergedAt(spark, sourceTable, v)
                      .filter(ranges)
                      .groupBy(monthOf(col(dateCol)).as("month"))
                      .agg(min(priceCol).as("r_min"), max(priceCol).as("r_max"))
                    foldedC.join(recomputed, Seq("month"), "left")
                      .select(col("month"), col("n_live"), col("cnt_price"),
                        col("sum_price"),
                        when(col("dirty_min"), col("r_min")).otherwise(col("min_fold"))
                          .cast("decimal(18,2)").as("min_price"),
                        when(col("dirty_max"), col("r_max")).otherwise(col("max_fold"))
                          .cast("decimal(18,2)").as("max_price"))
                  }
                }
              }
            // group-sized state, committed by DIRECTORY RENAME to the
            // versioned name (a crash mid-write leaves only a staged
            // dir the version regex never matches — latestAgg can't
            // resolve a torn state); superseded states then age out
            val staged = new org.apache.hadoop.fs.Path(stateDir, f".staged_a$v%08d")
            next.coalesce(1).write.mode("overwrite").parquet(staged.toString)
            if (!fs.rename(staged, new org.apache.hadoop.fs.Path(stateDir, f"a$v%08d")))
              throw new java.io.IOException(
                s"feed view state commit rename failed for version $v under $stateDir")
            fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).foreach { s =>
              s.getPath.getName match {
                case aggRe(n) if n.toLong < v => fs.delete(s.getPath, true)
                case _                        => ()
              }
            }
            if (registerView) {
              val committed = f"$stateDir/a$v%08d"
              // advance copies the existing bindings verbatim — if the
              // maintainer's extremes configuration CHANGED since the
              // registration was made (flag flipped either way), the
              // copied def would name view columns the new state lacks
              // and the rewrite would silently refuse EVERYTHING
              // (needed-columns check); re-register from scratch instead
              val configMatches = graft.plans.MatViews
                .lookup(spark, sourceTable)
                .forall(d => d.mins.nonEmpty == maintainExtremes)
              if (!configMatches || !graft.plans.MatViews.advance(spark, sourceTable, committed, v))
                graft.plans.MatViews.register(spark, sourceTable, committed,
                  asOfVersion = v,
                  groups = Seq("month" -> monthOf(col(dateCol))),
                  countCol = Some("n_live"),
                  sums = Seq("sum_price" -> col(priceCol)),
                  counts = Seq("cnt_price" -> col(priceCol)),
                  mins = if (maintainExtremes)
                    Seq("min_price" -> col(priceCol)) else Nil,
                  maxs = if (maintainExtremes)
                    Seq("max_price" -> col(priceCol)) else Nil)
            }
          }
          ()
        }
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  private val fixtures = new graft.util.Scratch.Fixture[String]("feed_view_src")

  /** The shared three-commit source store (class-0 baseline snapshot,
    * class-20/class-7 upsert link, class-30 delete link) — built once
    * per JVM and read-only thereafter; `q_incr_agg_stream` and
    * `q_mv_rewrite` both maintain views FROM it into fresh state. */
  private def sourceFixture(spark: SparkSession, dir: String): String =
    fixtures(dir) { tmp =>
      val f = s"$tmp/t"
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      Sinks.publishSnapshot(base.filter(col("o_orderkey") % 10 === 0), "odate", f,
        retainVersions = 100)
      val updates = base.filter(col("o_orderkey") % 20 === 0)
        .withColumn("price",
          expr("CAST(price + CAST('5.00' AS DECIMAL(3,2)) AS DECIMAL(18,2))"))
      DeletionVectors.publishUpsert(spark, f,
        updates.unionByName(base.filter(col("o_orderkey") % 10 === 7)),
        "o_orderkey", updates.select("o_orderkey").limit(0), validate = false)
      DeletionVectors.publishDeletes(spark, f,
        base.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), "o_orderkey")
      f
    }

  /** Registered `q_mv_rewrite` (hash-oracled): the full
    * maintain-register-rewrite composition. The feed view folds the
    * three-commit lifecycle into the monthly aggregate, the aggregate
    * registers as a materialized view of the source's LIVE version
    * ([[graft.plans.MatViews]]), and the registered query — a YEARLY
    * ROLLUP with count(*) and sum(price) through the graft catalog —
    * is answered by [[graft.plans.MatViewRewrite]] FROM THE VIEW:
    * the optimized plan is asserted to contain no graft relation (the
    * base table is never read), and the result hash-matches DuckDB's
    * yearly census of the final merged state computed from the raw
    * parquet. At 100 TB this is a full-table scan replaced by a
    * months-sized re-aggregation. */
  def mvRewriteResult(spark: SparkSession, dir: String): DataFrame = {
    val src = sourceFixture(spark, dir)
    val scratch = graft.util.Scratch.dir("mv_rewrite_q")
    // registerView: the maintainer itself keeps the rewrite armed —
    // after the drain the registration points at the final fold
    runFeedAgg(spark, src, s"$scratch/state", s"$scratch/ckpt",
      dateCol = "odate", priceCol = "price", availableNow = true,
      registerView = true)
      .awaitTermination()
    // avg rides the same rewrite (sum/count bindings): exported in
    // exact integer MICRO-units because Spark's decimal avg rounds
    // HALF_UP at scale 6 while DuckDB divides in binary doubles — the
    // micro-unit spelling makes both sides exact integers
    val q = spark.sql(
      s"""SELECT CAST(year(trunc(odate, 'month')) AS BIGINT) AS yr,
         |  COUNT(*) AS n_live, CAST(SUM(price) AS DOUBLE) AS sum_price,
         |  CAST(AVG(price) * 1000000 AS BIGINT) AS avg_micro,
         |  CAST(MIN(price) AS DOUBLE) AS min_price,
         |  CAST(MAX(price) AS DOUBLE) AS max_price
         |FROM graft.`$src` GROUP BY 1 ORDER BY 1""".stripMargin)
    // the registered surface self-pins the substitution: a plan that
    // still reads the base store is the 100-TB full scan this operator
    // exists to eliminate — refuse, don't silently degrade
    val readsBase = q.queryExecution.optimizedPlan.exists {
      // the base store can surface as a graft relation (pre/post
      // pushdown) or — after GraftScanInline — as parquet scans under
      // the store's own path; the pin must catch every spelling
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.isInstanceOf[graft.sources.GraftTable]
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        s.relation.table.isInstanceOf[graft.sources.GraftTable]
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains(src))
          case _ => false
        }
      case _ => false
    }
    if (readsBase) throw new IllegalStateException(
      "mat-view rewrite did not fire: the optimized plan still scans the base store")
    q
  }

  /** Registered `q_mv_rewrite_multi` (hash-oracled): SEVERAL NAMED
    * VIEWS arming one table, created through the SQL DDL
    * (`CREATE MATERIALIZED VIEW '<path>' NAMED n AS …`) at the live
    * version of the shared three-commit store. A daily count query is
    * servable only by the daily view, a monthly sum+avg query only by
    * the monthly one (avg derives from its SUM+COUNT pair) — the
    * rewrite picks the grain per query, and BOTH optimized plans are
    * self-pinned never to touch the base store before the DDL drops
    * the registrations again. Values hash-match DuckDB's census of
    * the final merged state computed from raw parquet. */
  def mvMultiResult(spark: SparkSession, dir: String): DataFrame = {
    val src = sourceFixture(spark, dir)
    val scratch = graft.util.Scratch.dir("mv_multi_q")
    spark.sql(s"CREATE OR REPLACE MATERIALIZED VIEW '$scratch/by_day' NAMED by_day AS " +
      s"SELECT odate AS day, COUNT(*) AS n FROM graft.`$src` GROUP BY 1")
    spark.sql(s"CREATE OR REPLACE MATERIALIZED VIEW '$scratch/by_month' NAMED by_month AS " +
      s"SELECT trunc(odate, 'month') AS month, COUNT(*) AS n, " +
      s"COUNT(price) AS cnt_p, SUM(price) AS sum_p FROM graft.`$src` GROUP BY 1")
    val daily = spark.sql(
      s"""SELECT 'day' AS phase, odate AS dt, COUNT(*) AS n,
         |  CAST(NULL AS DOUBLE) AS sum_price, CAST(NULL AS BIGINT) AS avg_micro
         |FROM graft.`$src` GROUP BY odate""".stripMargin)
    val monthly = spark.sql(
      s"""SELECT 'month' AS phase, trunc(odate, 'month') AS dt, COUNT(*) AS n,
         |  CAST(SUM(price) AS DOUBLE) AS sum_price,
         |  CAST(AVG(price) * 1000000 AS BIGINT) AS avg_micro
         |FROM graft.`$src` GROUP BY trunc(odate, 'month')""".stripMargin)
    // the registrations stay armed on the scratch fixture (correct by
    // construction, wiped with the JVM) — dropping them here would
    // de-arm the LAZY downstream re-optimization the caller's write
    // triggers, and the pin below is about the plan that actually runs
    val combined = daily.unionByName(monthly).orderBy("phase", "dt")
    val readsBase = combined.queryExecution.optimizedPlan.exists {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.isInstanceOf[graft.sources.GraftTable]
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        s.relation.table.isInstanceOf[graft.sources.GraftTable]
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains(src))
          case _ => false
        }
      case _ => false
    }
    if (readsBase) throw new IllegalStateException(
      "multi-view rewrite did not fire: an optimized subplan still scans the " +
      "base store (daily must serve from by_day, monthly from by_month)")
    combined
  }

  /** Registered `q_incr_agg_stream` (hash-oracled): the monthly
    * aggregate maintained through the STREAMING change feed over the
    * three-commit lifecycle (class-0 baseline snapshot → re-key;
    * class-20/class-7 upsert link and class-30 delete link → signed
    * deltas), then compared against the closed-form monthly census of
    * the FINAL merged state — stream-maintained ≡ full recompute, the
    * same contract `q_incr_agg` pins for batch diffs. The source
    * builds once per JVM; each invocation drains into a fresh state
    * dir (the drain + folds are the timed surface). */
  def incrAggStreamResult(spark: SparkSession, dir: String): DataFrame = {
    val src = sourceFixture(spark, dir)
    val scratch = graft.util.Scratch.dir("feed_view_q")
    // count/sum configuration (the oracle's surface): the extremes
    // tier is measured separately by q_mv_rewrite, which serves and
    // hash-checks MIN/MAX through the rewrite
    runFeedAgg(spark, src, s"$scratch/state", s"$scratch/ckpt",
      dateCol = "odate", priceCol = "price", availableNow = true,
      maintainExtremes = false)
      .awaitTermination()
    readAgg(spark, s"$scratch/state")
      .select(col("month"), col("n_live"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy("month")
  }
}
