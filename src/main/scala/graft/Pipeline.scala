package graft

import scala.concurrent.Future
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CdcMerge, Reconcile}
import graft.sources.{FileLog, PricePaidCsv, Sinks}

/** End-to-end orchestration of the reference's service DAG as library
  * calls — what a user of the original system invokes instead of the
  * Kafka-connected download/decision/update/upload processes. Each
  * step is a DataFrame transformation; the "database" is a partitioned
  * parquet snapshot.
  *
  * Reference mapping:
  *   initialize   ≈ land_registry_pp_monthly_data_initialize.py
  *   shouldIngest ≈ *_data_decision.py (sha vs last ingested)
  *   applyMonthly ≈ land_registry_monthly_update_database_updater.py
  *   snapshot     ≈ pp_complete_db_upload / archive services
  */
object Pipeline {
  /** Columns whose values define row identity for the CDC merge
    * (everything except the key and the op marker). */
  val compareCols: Seq[String] =
    PricePaidCsv.columns.filterNot(c => c == "transaction_unique_id" || c == "record_op")

  /** Initialize the table from a pp-complete file: normalized rows,
    * soft-delete flag added, written as a month-partitioned snapshot. */
  def initialize(spark: SparkSession, completeCsv: String, tablePath: String): Long = {
    val df = PricePaidCsv.normalized(spark, completeCsv)
      .drop("record_op")
      .withColumn("is_deleted", lit("F"))
    Sinks.publishSnapshot(df, "transaction_date", tablePath)
    Sinks.readSnapshot(spark, tablePath).count()
  }

  /** The data-decision step: ingest only if this file's content hash
    * differs from the previously ingested one (returns the new hash to
    * log either way). A distributed sha over sorted row-hashes stands
    * in for the byte-level file sha — same dedup power, no single-node
    * byte scan. */
  def contentHash(df: DataFrame): String = {
    // order-insensitive fold of per-row 64-bit hashes as an exact
    // DECIMAL sum: no ANSI long-overflow (Spark 4 defaults ansi on),
    // and unlike bit_xor no cancellation — a repeated row pair xors
    // to zero, which would make distinct files collide. The fold is an
    // Observation on a `noop` write: one job, where a global `agg`
    // costs a map stage and a result stage.
    val observed = Observation()
    df.select(xxhash64(df.columns.map(col): _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
      .observe(observed, sum(col("h")).as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    val h = awaitObserved(observed.future, "contentHash")
    val s = if (h.isNullAt(0)) "0" else h.getDecimal(0).toBigInteger.toString(16)
    s"$s-${h.getLong(1)}"
  }

  def shouldIngest(newHash: String, lastIngestedHash: Option[String]): Boolean =
    !lastIngestedHash.contains(newHash)

  /** Durable data-decision: compare against the last ingested hash
    * read from the persisted file log (so the decision survives
    * process restarts, like the reference's Postgres file-log tables)
    * and record this file's decision back. One read of the log serves
    * both the comparison and the append's first sequence-number guess.
    * Returns the decision and the computed hash. */
  def decideAndLog(spark: SparkSession, logDir: String, fileName: String,
                   df: DataFrame): (String, String) = {
    val h = contentHash(df)
    val log = FileLog.entries(spark, logDir)
    val decision =
      if (shouldIngest(h, FileLog.latestIngestedHash(log))) "archive"
      else "garbage_collect"
    FileLog.append(spark, logDir, fileName, h, decision, FileLog.nextSeq(log))
    (decision, h)
  }

  /** How long an `Observation` is awaited once the write that
    * computes it has returned. Metrics are delivered by a listener
    * right after the write job, so this bound is only ever reached
    * when they never come. */
  private val statsWait = Duration(60, "s")

  /** The observed row, or an `IllegalStateException` naming `what`
    * when it does not arrive within `wait`. */
  private def awaitObserved(metrics: Future[Row], what: => String,
                            wait: Duration = statsWait): Row =
    try scala.concurrent.Await.result(metrics, wait)
    catch { case e: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException(
        s"$what: the write returned but its observed metrics did not arrive within $wait", e)
    }

  /** Apply one monthly update file to the snapshot at tablePath;
    * returns the operation statistics (the reference's operation-log
    * row: outcome → rows, zero-count outcomes left out) after
    * rewriting the snapshot.
    *
    * One pass: the merge is not cached and has no second consumer. The
    * per-outcome counts are an `Observation` on the merged frame,
    * placed above the [[CdcMerge.applied]] filter so the two dropped
    * outcomes are counted too, and they are computed by the snapshot
    * write itself. Statistics that do not arrive within `statsWait` of
    * the publish fail the call, naming the table. */
  def applyMonthly(spark: SparkSession, updateCsv: String, tablePath: String): Map[String, Long] =
    applyMonthly(spark, updateCsv, tablePath, _.future, statsWait)

  /** [[applyMonthly]] with the delivery of its observed metrics and
    * the wait for them as parameters: the seam a spec uses to withhold
    * the metrics. */
  private[graft] def applyMonthly(spark: SparkSession, updateCsv: String, tablePath: String,
                                  metrics: Observation => Future[Row],
                                  wait: Duration): Map[String, Long] = {
    val base = Sinks.readSnapshot(spark, tablePath).drop("txn_month")
    val changes = PricePaidCsv.normalized(spark, updateCsv)
    val observed = Observation()
    val counts = CdcMerge.outcomes.map(o => count_if(col("outcome") === o).as(o))
    // broadcast path: the monthly update is tiny next to the snapshot,
    // so the merge never shuffles the base (CdcMerge.mergeBroadcast)
    val merged = CdcMerge.mergeBroadcast(base, changes, "transaction_unique_id", compareCols)
      .observe(observed, counts.head, counts.tail: _*)
    // versioned publish: the new version is written beside the one the
    // plan is still reading; readers switch at the atomic manifest move
    Sinks.publishSnapshot(CdcMerge.applied(merged).drop("outcome"),
      "transaction_date", tablePath)
    val row = awaitObserved(metrics(observed), s"applyMonthly of $updateCsv into $tablePath", wait)
    CdcMerge.outcomes.map(o => o -> row.getAs[Long](o)).filter(_._2 > 0).toMap
  }

  /** Analyst read path: the live (non-deleted) rows of the manifest's
    * current version, partition-pruned when filtered by month. */
  def current(spark: SparkSession, tablePath: String): DataFrame =
    Sinks.readSnapshot(spark, tablePath).filter(col("is_deleted") === "F")

  /** Periodic maintenance — the step the reference delegates to
    * Postgres (autovacuum) and we must own on parquet: a publish
    * writes one file per task per month (a 1000-way-parallel merge
    * leaves up to 1000 small files in EVERY month dir), so period
    * queries come to pay per-file open costs instead of scan costs.
    * Rewrites the live snapshot bin-packed to ~`targetFileBytes` files
    * per month (`Sinks.compactSnapshot` — readers ride the manifest
    * swap like any publish) and returns the published version. With
    * `zorderCols`, the same single republish also CLUSTERS each month
    * on those columns (Delta's `OPTIMIZE ZORDER BY`) so period+key
    * queries prune on footer stats afterwards. Run it on the
    * reference's GC cadence, e.g. after every Nth `applyMonthly`;
    * concurrent publishes are safe (compaction retries behind them,
    * never shadows them — see `Sinks.publishSnapshot`). */
  def maintain(spark: SparkSession, tablePath: String,
               targetFileBytes: Long = 128L << 20,
               zorderCols: Seq[String] = Nil,
               hilbertCurve: Boolean = false): Long =
    Sinks.compactSnapshot(spark, tablePath, "transaction_date", targetFileBytes,
      zorderCols = zorderCols, hilbertCurve = hilbertCurve)

  /** The reference's database-verify tool (land_registry_database_
    * verify.py, incl. its fix_database mode) as one call: reconcile
    * the LIVE snapshot rows against a pp-complete file on every value
    * column; with `fix = true`, apply the file-wins repair
    * (Reconcile.fixUp) and rewrite the snapshot — soft-deleted rows
    * are outside the comparison and carry over untouched. Returns the
    * reconciliation counts. */
  def verifyAndFix(spark: SparkSession, completeCsv: String, tablePath: String,
                   fix: Boolean = false): Map[String, Long] = {
    val key = "transaction_unique_id"
    val cols = key +: compareCols
    val live = current(spark, tablePath).select(cols.map(col): _*)
    val file = PricePaidCsv.normalized(spark, completeCsv).select(cols.map(col): _*)
    val c = Reconcile.counts(live, file, cols).head()
    if (fix) {
      val repaired = Reconcile.fixUp(live, file, key, compareCols)
        .drop("fix_action")
        .withColumn("is_deleted", lit("F"))
      val deletedRows = Sinks.readSnapshot(spark, tablePath).drop("txn_month")
        .filter(col("is_deleted") === "T")
      Sinks.publishSnapshot(repaired.unionByName(deletedRows),
        "transaction_date", tablePath)
    }
    Map("n_both" -> c.getLong(0),
        "n_database_only" -> c.getLong(1),
        "n_file_only" -> c.getLong(2))
  }

  // — registered end-to-end binding ——————————————————————————————————

  private val e2eFixtures = new graft.util.Scratch.Fixture[Seq[(String, Long)]]("pipeline_q")

  /** Render rows as pp-schema CSV lines (all fields quoted,
    * headerless — the reference's actual file format). */
  private def ppCsvLines(rows: DataFrame, keyCol: String, priceCol: String,
                         dateCol: String, opCol: String): DataFrame = {
    val line = concat_ws(",",
      Seq(format_string("\"{%09d}\"", col(keyCol)),
        concat(lit("\""), col(priceCol).cast("long").cast("string"), lit("\"")),
        concat(lit("\""), date_format(col(dateCol), "yyyy-MM-dd HH:mm"), lit("\"")),
        lit("\"SW1A 1AA\""), lit("\"F\""), lit("\"N\""), lit("\"L\""),
        lit("\"1\""), lit("\"\""), lit("\"HIGH STREET\""), lit("\"\""),
        lit("\"LONDON\""), lit("\"LONDON\""), lit("\"GREATER LONDON\""),
        lit("\"A\""), concat(lit("\""), col(opCol), lit("\""))): _*)
    rows.select(line.as("value"))
  }

  private def writePpCsv(rows: DataFrame, keyCol: String, priceCol: String,
                         dateCol: String, opCol: String, path: String): Unit =
    ppCsvLines(rows, keyCol, priceCol, dateCol, opCol)
      .coalesce(1).write.mode("overwrite").text(path)

  /** Registered `q_pipeline_e2e`: the WHOLE reference DAG
    * as one run — a pp-complete file rendered from `orders`
    * initializes the snapshot store, the decision log archives it,
    * a monthly update file (every 7th key price-bumped via C, every
    * 29th deleted via D, offset twins added via A) merges broadcast,
    * re-offering the SAME file garbage-collects (content-hash dedup),
    * maintenance compacts, and verify reconciles the live view
    * against the original file. The output is the run's operation
    * ledger — the stats the reference writes to its Postgres log
    * tables. Every ledger value is pure modular arithmetic over the
    * orders keyspace, so the DuckDB oracle derives the whole run in
    * CLOSED FORM and a hash-match proves the orchestration end to
    * end: merge outcome counts, content-hash idempotence on the
    * re-offer, compaction's version bump, and the reconcile counts
    * (changed rows on both only-sides, adds db-only, deletes
    * file-only). */
  def pipelineE2E(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = e2eFixtures(dir) { tmp =>
      val table = s"$tmp/table"
      val o = graft.sources.Tables.orders(spark, dir).select(
        col("o_orderkey").as("k"),
        col("o_totalprice").cast("long").as("price"),
        to_date(col("o_orderdate")).as("d"))
      writePpCsv(o.withColumn("op", lit("A")), "k", "price", "d", "op",
        s"$tmp/complete.csv")
      // add-twin keys must be ABSENT from the base at ANY scale factor
      // (the oracle's closed form assumes every A lands as add_and_added),
      // so the offset derives from the actual keyspace, never a constant
      val addOffset = o.agg(max(col("k"))).head().getLong(0) + 1L
      val changes = o
        .withColumn("op",
          when(col("k") % 29 === 0, "D")
            .when(col("k") % 7 === 0, "C")
            .when(col("k") % 13 === 0, "A"))
        .filter(col("op").isNotNull)
        .withColumn("k", when(col("op") === "A", col("k") + addOffset)
          .otherwise(col("k")))
        .withColumn("price", when(col("op") === "C", col("price") + 7L)
          .otherwise(col("price")))
      writePpCsv(changes, "k", "price", "d", "op", s"$tmp/update.csv")
      val b = Seq.newBuilder[(String, Long)]
      b += "initial_rows" -> initialize(spark, s"$tmp/complete.csv", table)
      val (dec1, h1) = decideAndLog(spark, s"$tmp/log",
        "update.csv", PricePaidCsv.normalized(spark, s"$tmp/update.csv"))
      b += "decision_first_offer_archive" -> (if (dec1 == "archive") 1L else 0L)
      applyMonthly(spark, s"$tmp/update.csv", table).foreach {
        case (k, v) => b += s"op_$k" -> v
      }
      val (dec2, h2) = decideAndLog(spark, s"$tmp/log",
        "update.csv", PricePaidCsv.normalized(spark, s"$tmp/update.csv"))
      b += "decision_reoffer_gc" -> (if (dec2 == "garbage_collect" && h1 == h2) 1L else 0L)
      b += "maintained_version" -> maintain(spark, table)
      b += "live_rows" -> current(spark, table).count()
      verifyAndFix(spark, s"$tmp/complete.csv", table).foreach {
        case (k, v) => b += s"verify_$k" -> v
      }
      b.result()
    }
    stats.toDF("stat", "value").orderBy("stat")
  }

  private val zipE2eFixtures = new graft.util.Scratch.Fixture[Seq[(String, Long)]]("pipeline_zip_q")

  /** Registered `q_pipeline_zip_e2e`: the reference's ACTUAL monthly
    * delivery seam run end-to-end — the update lands as a ZIP ARCHIVE
    * (target entry beside a decoy sibling, the wrong-month-zip rule of
    * `minio_extract_s3_zip_files.py`; a corrupt archive in the same
    * feed), extraction goes through the `graft-zip` DataSource V2
    * connector with the target entry SELECTED BY NAME, the extracted
    * file feeds the data-decision log, the monthly merge applies it,
    * and re-offering the same archive garbage-collects on content
    * hash. The ledger is pure modular arithmetic over the orders
    * keyspace plus fixture constants (one quarantined archive, two
    * healthy entries, one target), so the DuckDB oracle derives the
    * whole run in closed form — a hash-match proves archive delivery,
    * entry selection, extraction, decision dedup, and merge compose
    * without losing a row. */
  def pipelineZipE2E(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = zipE2eFixtures(dir) { tmp =>
      val table = s"$tmp/table"
      val feed = s"$tmp/feed"
      val o = graft.sources.Tables.orders(spark, dir).select(
        col("o_orderkey").as("k"),
        col("o_totalprice").cast("long").as("price"),
        to_date(col("o_orderdate")).as("d"))
      writePpCsv(o.withColumn("op", lit("A")), "k", "price", "d", "op",
        s"$tmp/complete.csv")
      val addOffset = o.agg(max(col("k"))).head().getLong(0) + 1L
      val changes = o
        .withColumn("op",
          when(col("k") % 29 === 0, "D")
            .when(col("k") % 7 === 0, "C")
            .when(col("k") % 13 === 0, "A"))
        .filter(col("op").isNotNull)
        .withColumn("k", when(col("op") === "A", col("k") + addOffset)
          .otherwise(col("k")))
        .withColumn("price", when(col("op") === "C", col("price") + 7L)
          .otherwise(col("price")))
      // the monthly update DELIVERED AS AN ARCHIVE: writeZips plants
      // the decoy README beside the target entry; a corrupt archive
      // lands in the same feed and must quarantine in-path
      graft.sources.ZipSource.writeZips(
        ppCsvLines(changes, "k", "price", "d", "op")
          .withColumn("m", lit("2024-05")),
        "m", "value", feed, m => s"PPMS_update_$m.txt")
      val bad = new java.io.FileOutputStream(s"$feed/PPMS_update_bad.zip")
      bad.write("not an archive".getBytes("UTF-8")); bad.close()

      val b = Seq.newBuilder[(String, Long)]
      b += "initial_rows" -> initialize(spark, s"$tmp/complete.csv", table)
      // extraction through the connector: quarantine + decoy visible,
      // target selected by (pushed) entry name
      val ents = spark.read.format("graft-zip").load(s"$feed/*.zip")
      b += "extract_quarantined" -> ents.filter(!col("ok")).count()
      b += "extract_entries_total" -> ents.filter(col("ok")).count()
      val target = ents.filter(col("ok") &&
        col("entry") === "PPMS_update_2024-05.txt")
      b += "extract_target_entries" -> target.count()
      graft.sources.ZipSource.textLines(target)
        .select(col("line").as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$tmp/extracted")
      val parsed = () => PricePaidCsv.normalized(spark, s"$tmp/extracted")
      val (dec1, h1) = decideAndLog(spark, s"$tmp/log",
        "PPMS_update_2024-05.zip", parsed())
      b += "decision_first_offer_archive" -> (if (dec1 == "archive") 1L else 0L)
      applyMonthly(spark, s"$tmp/extracted", table).foreach {
        case (k, v) => b += s"op_$k" -> v
      }
      // the SAME archive re-offered: re-extract through the connector
      // and the content-hash decision must garbage-collect
      val (dec2, h2) = decideAndLog(spark, s"$tmp/log",
        "PPMS_update_2024-05.zip", parsed())
      b += "decision_reoffer_gc" -> (if (dec2 == "garbage_collect" && h1 == h2) 1L else 0L)
      b += "live_rows" -> current(spark, table).count()
      b.result()
    }
    stats.toDF("stat", "value").orderBy("stat")
  }
}
