package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CdcMerge
import graft.sources.PricePaidCsv

/** The reference's end-to-end monthly flow, on its real file format:
  * ingest pp-complete (base) + pp-monthly-update (changes) CSVs, apply
  * the CDC merge through the generic API, check the resulting table
  * and operation stats — what land_registry_monthly_update_database_
  * updater.py does row-by-row against Postgres. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def row(tuid: String, price: Long, date: String, op: String) =
    s""""{$tuid}","$price","$date 00:00","PC1 1AA","F","N","L","1","","ST","","TOWN","DIST","COUNTY","A","$op""""

  private def writeFile(name: String, rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("pp").toFile
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, rows.mkString("\n").getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("pp-complete + pp-monthly-update through CdcMerge") {
    // base: T1 (will change), T2 (will delete), T3 (untouched), T4 (A on identical)
    val base = writeFile("pp-complete.txt", Seq(
      row("T1", 100000, "2024-01-01", "A"),
      row("T2", 200000, "2024-01-02", "A"),
      row("T3", 300000, "2024-01-03", "A"),
      row("T4", 400000, "2024-01-04", "A")))
    // update: C on T1 (new price), D on T2 (identical), A on T4 (identical → ignore),
    // A on T5 (new), D on T9 (missing → noop)
    val update = writeFile("pp-monthly-update.txt", Seq(
      row("T1", 150000, "2024-01-01", "C"),
      row("T2", 200000, "2024-01-02", "D"),
      row("T4", 400000, "2024-01-04", "A"),
      row("T5", 500000, "2024-01-05", "A"),
      row("T9", 900000, "2024-01-09", "D")))

    val compareCols = Seq("price", "transaction_date", "postcode", "property_type")
    val baseDf = PricePaidCsv.normalized(spark, base)
      .select(col("transaction_unique_id") +: compareCols.map(col): _*)
      .withColumn("is_deleted", lit("F"))
    val chgDf = PricePaidCsv.normalized(spark, update)
      .select(col("transaction_unique_id") +: col("record_op") +: compareCols.map(col): _*)

    val merged = CdcMerge.merge(baseDf, chgDf, "transaction_unique_id", compareCols)
    val byTuid = merged.collect().map(r =>
      r.getString(0) -> (r.getAs[Long]("price"), r.getAs[String]("is_deleted"),
        r.getAs[String]("outcome"))).toMap

    assert(byTuid("{T1}") === ((150000L, "F", "change_and_changed")))
    assert(byTuid("{T2}") === ((200000L, "T", "delete_and_deleted")))
    assert(byTuid("{T3}") === ((300000L, "F", "unchanged")))
    assert(byTuid("{T4}") === ((400000L, "F", "add_but_already_identical_and_ignored")))
    assert(byTuid("{T5}") === ((500000L, "F", "add_and_added")))
    assert(byTuid("{T9}")._3 === "delete_but_missing_and_ignored")

    // applied table drops the never-existed key
    val applied = CdcMerge.applied(merged)
    assert(applied.count() === 5)
    assert(applied.filter(col("transaction_unique_id") === "{T9}").count() === 0)

    // stats mirror the operation log
    val stats = CdcMerge.stats(merged).as[(String, Long)].collect().toMap
    assert(stats("change_and_changed") === 1L)
    assert(stats("delete_and_deleted") === 1L)
    assert(stats("add_and_added") === 1L)
    assert(stats("unchanged") === 1L)
  }

  test("applyAll folds months in order: delete then re-add follows the undelete path") {
    val base = Seq(("T1", 100L, "F"), ("T2", 200L, "F"))
      .toDF("k", "price", "is_deleted")
    val month1 = Seq(("T1", "D", 100L), ("T3", "A", 300L)).toDF("k", "record_op", "price")
    val month2 = Seq(("T1", "A", 150L), ("T2", "C", 250L)).toDF("k", "record_op", "price")
    val fin = CdcMerge.applyAll(base, Seq(month1, month2), "k", Seq("price"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(fin("T1") === ((150L, "F"))) // deleted in m1, re-added (undelete+change) in m2
    assert(fin("T2") === ((250L, "F")))
    assert(fin("T3") === ((300L, "F")))
    assert(fin.size === 3)
  }

  test("Pipeline: initialize, decide, apply monthly, read current") {
    val complete = writeFile("pp-complete.txt", Seq(
      row("P1", 100000, "2024-01-15", "A"),
      row("P2", 200000, "2024-02-15", "A"),
      row("P3", 300000, "2024-03-15", "A")))
    val update = writeFile("pp-monthly-update.txt", Seq(
      row("P1", 120000, "2024-01-15", "C"),
      row("P2", 200000, "2024-02-15", "D"),
      row("P4", 400000, "2024-04-15", "A")))
    val table = Files.createTempDirectory("pp_table").toString + "/price_paid"

    assert(Pipeline.initialize(spark, complete, table) === 3L)

    // data decision: same file content → skip; changed → ingest
    val h1 = Pipeline.contentHash(PricePaidCsv.normalized(spark, complete))
    assert(!Pipeline.shouldIngest(h1, Some(h1)))
    val h2 = Pipeline.contentHash(PricePaidCsv.normalized(spark, update))
    assert(Pipeline.shouldIngest(h2, Some(h1)))

    val stats = Pipeline.applyMonthly(spark, update, table)
    assert(stats("change_and_changed") === 1L)
    assert(stats("delete_and_deleted") === 1L)
    assert(stats("add_and_added") === 1L)
    assert(stats("unchanged") === 1L)

    val cur = Pipeline.current(spark, table)
    val prices = cur.select("transaction_unique_id", "price")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prices === Map("{P1}" -> 120000L, "{P3}" -> 300000L, "{P4}" -> 400000L))
    // deleted row still exists in the snapshot, flagged
    assert(graft.sources.Sinks.readSnapshot(spark, table)
      .filter(col("transaction_unique_id") === "{P2}" && col("is_deleted") === "T")
      .count() === 1)
    // month partitioning present → analyst period queries prune
    val vdir = graft.sources.Sinks.currentVersionDir(spark, table)
    val parts = new java.io.File(vdir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.count(_.startsWith("txn_month=")) === 4)
  }

  test("contentHash: one job, and the same string as the global-agg formula") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.DecimalType
    def aggHash(df: DataFrame): String = {
      val h = df.select(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)).as("h"))
        .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
        .head()
      val s = if (h.isNullAt(0)) "0" else h.getDecimal(0).toBigInteger.toString(16)
      s"$s-${h.getLong(1)}"
    }
    val rnd = new scala.util.Random(19)
    def cell[A](a: => A): Option[A] = if (rnd.nextInt(5) == 0) None else Some(a)
    val frames = (1 to 6).map { i =>
      val rows = Seq.fill(rnd.nextInt(60))((
        cell(rnd.nextInt(8).toString), cell(rnd.nextLong()), cell(rnd.nextDouble()),
        cell(java.sql.Date.valueOf(f"2024-${1 + rnd.nextInt(12)}%02d-01"))))
      // duplicate rows: a repeated row must count twice, not cancel
      (rows ++ rows.take(i * 3)).toDF("s", "l", "d", "dt").repartition(1 + i % 3)
    } :+ Seq.empty[(String, Long)].toDF("s", "l")
    for (df <- frames) assert(Pipeline.contentHash(df) === aggHash(df))
    assert(Pipeline.contentHash(frames.last) === "0-0")

    val group = s"contentHash-${java.util.UUID.randomUUID}"
    spark.sparkContext.setJobGroup(group, "contentHash job count")
    // a shuffle-free input: the hash itself adds exactly one job
    try Pipeline.contentHash(spark.range(1000).selectExpr("id", "cast(id % 7 as string) s"))
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).length === 1)
  }

  test("durable file log: the ingest decision survives a restart") {
    import graft.sources.FileLog
    val logDir = Files.createTempDirectory("filelog").toString + "/log"
    val complete = writeFile("pp-complete.txt", Seq(
      row("F1", 100000, "2024-01-15", "A")))
    val changed = writeFile("pp-complete-2.txt", Seq(
      row("F1", 120000, "2024-01-15", "C")))

    // empty log: nothing ingested yet → ingest
    assert(FileLog.latestIngestedHash(spark, logDir) === None)
    val df1 = PricePaidCsv.normalized(spark, complete)
    val (d1, h1) = Pipeline.decideAndLog(spark, logDir, "pp-complete.txt", df1)
    assert(d1 === "archive")

    // "restart": a decision made purely from the persisted log — the
    // identical re-download is garbage-collected, a changed file is not
    assert(FileLog.latestIngestedHash(spark, logDir) === Some(h1))
    val (d2, h2) = Pipeline.decideAndLog(spark, logDir, "pp-complete.txt", df1)
    assert(d2 === "garbage_collect" && h2 === h1)
    val (d3, h3) =
      Pipeline.decideAndLog(spark, logDir, "pp-complete-2.txt",
        PricePaidCsv.normalized(spark, changed))
    assert(d3 === "archive" && h3 != h1)

    // a garbage_collect entry never advances the last-ingested hash
    FileLog.append(spark, logDir, "pp-complete.txt", h1, "garbage_collect")
    assert(FileLog.latestIngestedHash(spark, logDir) === Some(h3))
    // the log is append-only with monotone sequence numbers
    val seqs = FileLog.read(spark, logDir).orderBy("seq")
      .select("seq").collect().map(_.getLong(0)).toSeq
    assert(seqs === Seq(0L, 1L, 2L, 3L))
  }

  test("file log: interleaved concurrent appends claim distinct seqs") {
    import graft.sources.FileLog
    import scala.jdk.CollectionConverters._
    val logDir = Files.createTempDirectory("filelog_conc").toString + "/log"
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // both writers race read-max → conditional claim → parquet append;
    // the claim create arbitrates, so no seq is ever committed twice
    val threads = (1 to 2).map { t =>
      new Thread(() =>
        try (1 to 4).foreach { i =>
          results.add(FileLog.append(spark, logDir, s"f$t-$i.txt", s"sha-$t-$i", "archive"))
        } catch { case e: Throwable => failure.set(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(failure.get() === null, s"concurrent append failed: ${failure.get()}")
    val seqs = results.asScala.toSeq
    assert(seqs.size === 8 && seqs.distinct.size === 8, s"duplicate seq claimed: $seqs")
    // every claimed seq committed exactly one durable row
    assert(FileLog.read(spark, logDir).select("seq").collect().map(_.getLong(0)).toSet
      === seqs.toSet)
  }

  test("file log compaction: same rows, few files, pruned claims, live appends survive") {
    import graft.sources.FileLog
    val logDir = Files.createTempDirectory("filelog_compact").toString + "/log"
    (0 until 50).foreach(i => FileLog.append(spark, logDir, s"f$i.txt", s"sha-$i", "archive"))
    def dataFiles(): Seq[String] = new java.io.File(logDir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSeq
    assert(dataFiles().size === 50)
    val rows = FileLog.read(spark, logDir).orderBy("seq").collect().map(_.toSeq).toSeq
    assert(FileLog.compactLog(spark, logDir) === 50L)
    // one segment file replaces fifty per-append files…
    assert(dataFiles() === Seq("log-hi00000049-c00000000.parquet"))
    // …with byte-identical rows
    assert(FileLog.read(spark, logDir).orderBy("seq").collect().map(_.toSeq).toSeq === rows)
    // claim inodes ≤ hi are pruned
    val claims = new java.io.File(logDir, "_seq").listFiles().map(_.getName).toSeq
    assert(claims.isEmpty, s"stale claims not pruned: $claims")
    // appends continue above the compacted watermark
    assert(FileLog.append(spark, logDir, "f50.txt", "sha-50", "archive") === 50L)
    assert(FileLog.latestIngestedHash(spark, logDir) === Some("sha-50"))
    // a second compaction folds the segment + the new row into one
    assert(FileLog.compactLog(spark, logDir) === 51L)
    assert(FileLog.read(spark, logDir).count() === 51L)
    // appends racing a compaction: all rows survive, seqs stay unique
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() =>
      try (51 to 58).foreach(i => FileLog.append(spark, logDir, s"f$i.txt", s"sha-$i", "archive"))
      catch { case e: Throwable => failure.set(e) })
    appender.start()
    FileLog.compactLog(spark, logDir)
    appender.join(120000)
    assert(failure.get() === null, s"append racing compaction failed: ${failure.get()}")
    val seqs = FileLog.read(spark, logDir).select("seq").collect().map(_.getLong(0)).toSeq
    assert(seqs.size === 59 && seqs.distinct.size === 59 && seqs.max === 58L)
  }

  test("Pipeline.maintain compacts the snapshot without changing the analyst view") {
    import graft.sources.Sinks
    val table = Files.createTempDirectory("maintain").toString + "/t"
    val complete = writeFile("pp-complete.txt", Seq(
      row("M1", 100000, "2024-01-15", "A"),
      row("M2", 200000, "2024-01-20", "A"),
      row("M3", 300000, "2024-02-10", "A")))
    Pipeline.initialize(spark, complete, table)
    // fragment like a wide-parallel publish would: 8 tasks per month
    Sinks.publishSnapshot(
      Sinks.readSnapshot(spark, table).drop("txn_month").repartition(8),
      "transaction_date", table)
    def monthFiles(): Int = new java.io.File(Sinks.currentVersionDir(spark, table))
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("txn_month="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(monthFiles() > 1)
    val before = Pipeline.current(spark, table)
      .select("transaction_unique_id", "price").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val vBefore = Sinks.currentVersion(spark, table).get
    assert(Pipeline.maintain(spark, table, targetFileBytes = 1L << 30) === vBefore + 1)
    assert(monthFiles() === 1)
    val after = Pipeline.current(spark, table)
      .select("transaction_unique_id", "price").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(after === before)
  }

  test("Pipeline.verifyAndFix reconciles the snapshot against a file and repairs it") {
    // snapshot initialized from a DIVERGED file: P1 has the wrong
    // price, P3 is an extra row the truth file lacks, P4 is missing
    val diverged = writeFile("pp-complete-diverged.txt", Seq(
      row("P1", 111111, "2024-01-15", "A"),
      row("P2", 200000, "2024-02-15", "A"),
      row("P3", 300000, "2024-03-15", "A")))
    val truth = writeFile("pp-complete.txt", Seq(
      row("P1", 100000, "2024-01-15", "A"),
      row("P2", 200000, "2024-02-15", "A"),
      row("P4", 400000, "2024-04-15", "A")))
    val table = Files.createTempDirectory("pp_verify").toString + "/price_paid"
    Pipeline.initialize(spark, diverged, table)

    val before = Pipeline.verifyAndFix(spark, truth, table)
    assert(before === Map("n_both" -> 1L, "n_database_only" -> 2L, "n_file_only" -> 2L))

    val counted = Pipeline.verifyAndFix(spark, truth, table, fix = true)
    assert(counted === before) // counts are measured pre-repair

    // post-fix: P1 repaired to the file price, P4 inserted; P3 (db-only,
    // file silent) kept — the reference's fix never deletes
    val after = Pipeline.verifyAndFix(spark, truth, table)
    assert(after === Map("n_both" -> 3L, "n_database_only" -> 1L, "n_file_only" -> 0L))
    val prices = Pipeline.current(spark, table)
      .select("transaction_unique_id", "price")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prices === Map("{P1}" -> 100000L, "{P2}" -> 200000L,
      "{P3}" -> 300000L, "{P4}" -> 400000L))
  }

  test("second month: re-applying an identical update is idempotent") {
    val base = writeFile("pp-complete.txt", Seq(row("T1", 100000, "2024-01-01", "A")))
    val update = writeFile("pp-monthly-update.txt", Seq(row("T1", 150000, "2024-01-01", "C")))
    val compareCols = Seq("price")
    def load(p: String, withOp: Boolean) = {
      val df = PricePaidCsv.normalized(spark, p)
      if (withOp) df.select(col("transaction_unique_id"), col("record_op"), col("price"))
      else df.select(col("transaction_unique_id"), col("price")).withColumn("is_deleted", lit("F"))
    }
    val once = CdcMerge.applied(CdcMerge.merge(load(base, false), load(update, true),
      "transaction_unique_id", compareCols))
      .select("transaction_unique_id", "price", "is_deleted")
    val twice = CdcMerge.applied(CdcMerge.merge(once, load(update, true),
      "transaction_unique_id", compareCols))
    val r = twice.collect().head
    assert(r.getAs[Long]("price") === 150000L)
    assert(r.getAs[String]("outcome") === "change_but_already_identical_and_ignored")
  }

  test("applyMonthly: stats observed on the write equal stats(merge) over all 16 outcomes") {
    import graft.sources.Sinks
    val key = "transaction_unique_id"
    val table = Files.createTempDirectory("pp_outcomes").toString + "/price_paid"
    // live L0..L7, soon-deleted D0..D3
    val keys = (0 to 7).map(i => s"L$i") ++ (0 to 3).map(i => s"D$i")
    Pipeline.initialize(spark, writeFile("pp-complete.txt",
      keys.zipWithIndex.map { case (k, i) => row(k, 1000L + i, "2024-01-15", "A") }), table)
    // month 1 soft-deletes D0..D3 (identical rows)
    val deletes = writeFile("pp-monthly-update.txt", (0 to 3).map(i =>
      row(s"D$i", 1000L + 8 + i, "2024-01-15", "D")))
    assert(Pipeline.applyMonthly(spark, deletes, table) ===
      Map("delete_and_deleted" -> 4L, "unchanged" -> 8L),
      "zero-count outcomes stay out of the map")
    // month 2 hits every cell of the decision matrix
    def live(i: Int, op: String, bump: Long = 0L) = row(s"L$i", 1000L + i + bump, "2024-01-15", op)
    def dead(i: Int, op: String) = row(s"D$i", 5L, "2024-01-15", op)
    def fresh(i: Int, op: String) = row(s"N$i", 7L, "2024-02-15", op)
    val update = writeFile("pp-monthly-update.txt", Seq(
      fresh(1, "A"), fresh(2, "C"), fresh(3, "D"), fresh(4, "X"),
      dead(1, "A"), dead(2, "C"), dead(3, "D"),
      live(1, "A"), live(2, "A", 1L), live(3, "C"), live(4, "C", 1L),
      live(5, "D"), live(6, "D", 1L), live(7, "X")))
    val base = Sinks.readSnapshot(spark, table).drop("txn_month")
    val want = CdcMerge.stats(CdcMerge.mergeBroadcast(base, PricePaidCsv.normalized(spark, update),
      key, Pipeline.compareCols)).as[(String, Long)].collect().toMap
    val wantFull = CdcMerge.stats(CdcMerge.merge(base, PricePaidCsv.normalized(spark, update),
      key, Pipeline.compareCols)).as[(String, Long)].collect().toMap
    assert(want === wantFull)
    assert(want.keySet === CdcMerge.outcomes.toSet, "the file must hit all 16 outcomes")
    assert(Seq("delete_but_missing_and_ignored", "invalid_op_missing_and_ignored",
      "invalid_op_ignored").forall(want.contains))
    val got = Pipeline.applyMonthly(spark, update, table)
    assert(got === want)
    // the two dropped outcomes were counted, yet their rows never landed
    val landed = Sinks.readSnapshot(spark, table).select(key).as[String].collect().toSet
    assert(landed === (keys ++ Seq("N1", "N2")).map(k => s"{$k}").toSet)
  }

  test("applyMonthly: metrics that never arrive fail the call, naming the table") {
    val table = Files.createTempDirectory("pp_withheld").toString + "/price_paid"
    Pipeline.initialize(spark, writeFile("pp-complete.txt",
      Seq(row("T1", 100000, "2024-01-01", "A"))), table)
    val update = writeFile("pp-monthly-update.txt", Seq(row("T1", 150000, "2024-01-01", "C")))
    // the seam withholds the Observation's metrics: a future that never completes
    val e = intercept[IllegalStateException] {
      Pipeline.applyMonthly(spark, update, table,
        _ => scala.concurrent.Promise[org.apache.spark.sql.Row]().future,
        scala.concurrent.duration.Duration(200, "ms"))
    }
    assert(e.getMessage.contains(table), e.getMessage)
    assert(e.getMessage.contains("did not arrive within 200 milliseconds"), e.getMessage)
    assert(e.getCause.isInstanceOf[java.util.concurrent.TimeoutException])
  }

  test("CdcMerge.outcomes is exactly the set of outcome literals both merges can emit") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, CaseWhen, Literal}
    val base = Seq(("k", 1L, "F")).toDF("key", "price", "is_deleted")
    val chg = Seq(("k", "A", 1L)).toDF("key", "record_op", "price")
    def emitted(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
        case a: Alias if a.name == "outcome" => a.child.collect {
          case w: CaseWhen => (w.branches.map(_._2) ++ w.elseValue).collect {
            case Literal(v, _) if v != null => v.toString
          }
        }.flatten
      }.flatten).toSet
    assert(emitted(CdcMerge.merge(base, chg, "key", Seq("price"))) === CdcMerge.outcomes.toSet)
    assert(emitted(CdcMerge.mergeBroadcast(base, chg, "key", Seq("price"))) ===
      CdcMerge.outcomes.toSet)
    assert(CdcMerge.outcomes.distinct.size === 16)
  }

  test("file log decisions: empty log, re-offer, after compaction, over duplicate seqs") {
    import graft.sources.FileLog
    val logDir = Files.createTempDirectory("filelog_decide").toString + "/log"
    val a = PricePaidCsv.normalized(spark, writeFile("a.txt", Seq(row("F1", 1L, "2024-01-15", "A"))))
    val b = PricePaidCsv.normalized(spark, writeFile("b.txt", Seq(row("F2", 2L, "2024-01-15", "A"))))
    assert(FileLog.entries(spark, logDir).isEmpty)
    val (d0, ha) = Pipeline.decideAndLog(spark, logDir, "a.txt", a)
    assert(d0 === "archive", "an empty log ingests")
    val (d1, ha1) = Pipeline.decideAndLog(spark, logDir, "a.txt", a)
    assert(d1 === "garbage_collect" && ha1 === ha, "a re-offer is garbage-collected")
    assert(FileLog.compactLog(spark, logDir) === 2L)
    val (d2, ha2) = Pipeline.decideAndLog(spark, logDir, "a.txt", a)
    assert(d2 === "garbage_collect" && ha2 === ha, "the compacted log still knows the hash")
    val (d3, hb) = Pipeline.decideAndLog(spark, logDir, "b.txt", b)
    assert(d3 === "archive" && hb != ha)
    // a compaction-window duplicate of seq 2 collapses on read
    val part = new java.io.File(logDir, "part-s00000002.parquet").toPath
    Files.copy(part, new java.io.File(logDir, "part-dup-s00000002.parquet").toPath)
    val log = FileLog.entries(spark, logDir)
    assert(log === Seq(FileLog.Logged(0L, ha, "archive"),
      FileLog.Logged(1L, ha, "garbage_collect"), FileLog.Logged(2L, ha, "garbage_collect"),
      FileLog.Logged(3L, hb, "archive")))
    assert(FileLog.nextSeq(log) === 4L)
    assert(FileLog.latestIngestedHash(log) === Some(hb))
    val (d4, _) = Pipeline.decideAndLog(spark, logDir, "a.txt", a)
    assert(d4 === "archive", "an older file offered after a newer one is ingested again")
    assert(FileLog.read(spark, logDir).select("seq").as[Long].collect().sorted.toSeq ===
      (0L to 4L))
  }
}
