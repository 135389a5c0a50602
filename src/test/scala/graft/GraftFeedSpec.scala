package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeletionVectors, Sinks}

/** The streaming change feed over the snapshot store: offsets are
  * version numbers, MoR links emit O(changes) upsert/delete rows,
  * plain versions emit 'snapshot' baselines, restarts resume from the
  * committed version, and a feed that fell behind retention refuses
  * loudly instead of skipping history. */
class GraftFeedSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def df(rows: (Long, String)*) = rows.toDF("k", "s")
    .withColumn("d", to_date(lit("2024-05-15"))).select("k", "d", "s")

  private def drain(tbl: String, ckpt: String, out: String,
                    startingVersion: Option[Long] = None): Unit = {
    val reader = spark.readStream.format("graft-table")
    startingVersion.foreach(v => reader.option("startingVersion", v.toString))
    reader.load(tbl)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  private def rowsOf(out: String): Seq[(Long, String, Long, String)] =
    spark.read.parquet(out)
      .select(col("k"), col("_change_type"), col("_commit_version"), col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSeq

  test("the feed tails commits across restarts: snapshot, upserts, deletes") {
    val base = graft.util.Scratch.dir("feed_spec")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a", 2L -> "b"), "d", tbl, retainVersions = 100)
    // first drain sees the baseline as a 'snapshot'
    drain(tbl, s"$base/ckpt", s"$base/out", startingVersion = Some(1L))
    assert(rowsOf(s"$base/out").toSet ===
      Set((1L, "snapshot", 1L, "a"), (2L, "snapshot", 1L, "b")))
    // v2: MoR upsert (update k=1, insert k=3); v3: DV delete k=2
    DeletionVectors.publishUpsert(spark, tbl, df(1L -> "A", 3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, tbl, Seq(2L).toDF("k"), "k")
    // the SAME checkpoint resumes from the committed offset: only the
    // two new links arrive, upserts with images, the delete key-only
    drain(tbl, s"$base/ckpt", s"$base/out")
    assert(rowsOf(s"$base/out").toSet === Set(
      (1L, "snapshot", 1L, "a"), (2L, "snapshot", 1L, "b"),
      (1L, "upsert", 2L, "A"), (3L, "upsert", 2L, "c"),
      (2L, "delete", 3L, null)))
    // a full-replace publish arrives as a new 'snapshot' baseline
    Sinks.publishSnapshot(df(9L -> "z"), "d", tbl, retainVersions = 100)
    drain(tbl, s"$base/ckpt", s"$base/out")
    assert(rowsOf(s"$base/out").count(_ == ((9L, "snapshot", 4L, "z"))) === 1)
  }

  test("a feed that fell behind retention refuses instead of skipping history") {
    val base = graft.util.Scratch.dir("feed_lag")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 1)
    drain(tbl, s"$base/ckpt", s"$base/out", startingVersion = Some(1L))
    // two more full replaces under retainVersions=1: v2 is pruned by
    // the v3 publish before the feed ever saw it
    Sinks.publishSnapshot(df(2L -> "b"), "d", tbl, retainVersions = 1)
    Sinks.publishSnapshot(df(3L -> "c"), "d", tbl, retainVersions = 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(tbl, s"$base/ckpt", s"$base/out")
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(c => c.isInstanceOf[java.io.FileNotFoundException] &&
      c.getMessage.contains("retention pruned")), e.getMessage)
  }

  test("maxVersionsPerTrigger paces catch-up: one version per batch, same total content") {
    val base = graft.util.Scratch.dir("feed_pace")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(2L -> "b"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, tbl, Seq(1L).toDF("k"), "k")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    spark.readStream.format("graft-table")
      .option("startingVersion", "1").option("maxVersionsPerTrigger", "1").load(tbl)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        batches.add(b.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet)
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    import scala.jdk.CollectionConverters._
    val seen = batches.asScala.filter(_.nonEmpty).toSeq
    assert(seen == Seq(Set(1L), Set(2L), Set(3L)),
      s"each trigger must admit exactly one version in order, got $seen")
  }

  test("maxBytesPerTrigger paces by size over mixed snapshot+link history") {
    val base = graft.util.Scratch.dir("feed_bytes")
    val tbl = s"$base/t"
    // v1: a FAT snapshot baseline (200 rows, multi-KB); v2/v3/v4: tiny
    // links (one row each) — a byte cap sized between "one link" and
    // "the snapshot" must admit the snapshot ALONE (bigger than the
    // cap, still drains), then batch the small links together
    val fat = (1L to 200L).map(i => (i, s"payload_$i" * 8)).toDF("k", "s")
      .withColumn("d", to_date(lit("2024-05-15"))).select("k", "d", "s")
    Sinks.publishSnapshot(fat, "d", tbl, retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(201L -> "x"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishUpsert(spark, tbl, df(202L -> "y"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, tbl, Seq(1L).toDF("k"), "k")
    // size the cap to cover all three links but not the snapshot
    def dirBytes(v: Long): Long = {
      val p = new org.apache.hadoop.fs.Path(f"$tbl/v$v%08d")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val cap = dirBytes(2L) + dirBytes(3L) + dirBytes(4L)
    assert(dirBytes(1L) > cap,
      "fixture must make the snapshot bigger than the three links together")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    spark.readStream.format("graft-table")
      .option("startingVersion", "1").option("maxBytesPerTrigger", cap.toString)
      .load(tbl)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        batches.add(b.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet)
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    import scala.jdk.CollectionConverters._
    val seen = batches.asScala.filter(_.nonEmpty).toSeq
    assert(seen == Seq(Set(1L), Set(2L, 3L, 4L)),
      s"the over-cap snapshot must admit alone, the links batch together: $seen")
  }

  test("table mirror: state replicates across restarts, catch-up lands as MoR links") {
    val base = graft.util.Scratch.dir("mirror_spec")
    val src = s"$base/src"
    val dst = s"$base/dst"
    Sinks.publishSnapshot(df(1L -> "a", 2L -> "b"), "d", src, retainVersions = 100)
    def mirror(): Unit = graft.streaming.TableMirror.runTableMirror(
      spark, src, dst, s"$base/ckpt", "k", "d",
      retainVersions = 100, availableNow = true).awaitTermination()
    mirror()
    def stateOf(t: String): Map[Long, String] =
      DeletionVectors.readMerged(spark, t).select("k", "s").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stateOf(dst) == Map(1L -> "a", 2L -> "b"))
    // new source commits: an upsert link and a delete link
    DeletionVectors.publishUpsert(spark, src, df(1L -> "A", 3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, src, Seq(2L).toDF("k"), "k")
    mirror() // same checkpoint: only the two links transfer
    assert(stateOf(dst) == Map(1L -> "A", 3L -> "c"))
    assert(stateOf(dst) == stateOf(src), "mirror state == source state")
    // the catch-up landed as CHAIN commits on the mirror, not rewrites
    val head = Sinks.currentVersion(spark, dst).get
    assert(Sinks.versionMeta(spark, dst, head).contains("dv"),
      "catch-up must be an O(changes) MoR link")
    // an idle drain moves nothing (no new source commits → no mirror commits)
    mirror()
    assert(Sinks.currentVersion(spark, dst).contains(head))
  }

  test("the feed id-resolves history across a rename/add boundary") {
    import graft.sources.SchemaEvolution
    val base = graft.util.Scratch.dir("feed_evo")
    val tbl = s"$base/t"
    // v1: (k, d, s) with stable ids; v2: MoR upsert link in v1's schema;
    // v3: s RENAMED to txt (id kept) + extra ADDED — the stream pins v3
    SchemaEvolution.publishEvolved(df(1L -> "a", 2L -> "b"), "d", tbl,
      retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(1L -> "A", 3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    SchemaEvolution.publishEvolved(
      df(1L -> "A", 2L -> "b", 3L -> "c").withColumnRenamed("s", "txt")
        .withColumn("extra", col("k") * 10),
      "d", tbl, renamedFrom = Map("txt" -> "s"), retainVersions = 100)
    spark.readStream.format("graft-table").option("startingVersion", "1").load(tbl)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.read.parquet(s"$base/out")
      .select(col("k"), col("_change_type"), col("_commit_version"), col("txt"),
        col("extra"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    // v1 rows surface under the PINNED name txt (by id), extra null;
    // v2 link images likewise; v3 reads as itself
    assert(got === Set(
      (1L, "snapshot", 1L, "a", -1L), (2L, "snapshot", 1L, "b", -1L),
      (1L, "upsert", 2L, "A", -1L), (3L, "upsert", 2L, "c", -1L),
      (1L, "snapshot", 3L, "A", 10L), (2L, "snapshot", 3L, "b", 20L),
      (3L, "snapshot", 3L, "c", 30L)))
  }

  test("preimages compose with evolution: old images surface under PINNED names") {
    import graft.sources.SchemaEvolution
    val base = graft.util.Scratch.dir("feed_evo_pre")
    val tbl = s"$base/t"
    // v1: (k, d, s) with stable ids; v2: upsert link (update 1, insert
    // 3) in v1's names; v3: delete k=2; v4: s RENAMED to txt + extra
    // ADDED — the stream pins v4's schema, preimages ON. Preimage
    // resolution reads the link's PARENT state, which physically
    // carries the PRE-rename column — the old images must nonetheless
    // emit under the pinned names, resolved by id like everything else
    SchemaEvolution.publishEvolved(df(1L -> "a", 2L -> "b"), "d", tbl,
      retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(1L -> "A", 3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, tbl, Seq(2L).toDF("k"), "k")
    SchemaEvolution.publishEvolved(
      df(1L -> "A", 3L -> "c").withColumnRenamed("s", "txt")
        .withColumn("extra", col("k") * 10),
      "d", tbl, renamedFrom = Map("txt" -> "s"), retainVersions = 100)
    spark.readStream.format("graft-table")
      .option("startingVersion", "1").option("preimages", "true").load(tbl)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.read.parquet(s"$base/out")
      .select(col("k"), col("_change_type"), col("_commit_version"), col("txt"),
        col("extra"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    assert(got === Set(
      (1L, "snapshot", 1L, "a", -1L), (2L, "snapshot", 1L, "b", -1L),
      // v2: the update's OLD image ("a") rides the pinned name txt
      (1L, "update_preimage", 2L, "a", -1L),
      (1L, "update_postimage", 2L, "A", -1L),
      (3L, "insert", 2L, "c", -1L),
      // v3: the delete's FULL old image, rename-resolved
      (2L, "delete", 3L, "b", -1L),
      // v4: the evolved snapshot reads as itself
      (1L, "snapshot", 4L, "A", 10L), (3L, "snapshot", 4L, "c", 30L)))
  }

  test("an unmapped mid-history evolution refuses loudly, naming the version") {
    val base = graft.util.Scratch.dir("feed_evo_refuse")
    val tbl = s"$base/t"
    // plain publishes (no id mapping), schema drifts between them
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 100)
    Sinks.publishSnapshot(df(2L -> "b").withColumnRenamed("s", "txt"), "d", tbl,
      retainVersions = 100)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(tbl, s"$base/ckpt", s"$base/out", startingVersion = Some(1L))
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("version 1 lacks column(s) txt") &&
      c.getMessage.contains("publishEvolved")), e.getMessage)
  }

  test("preimages mode emits Delta-CDF shapes with full old images") {
    val base = graft.util.Scratch.dir("feed_pre")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a", 2L -> "b"), "d", tbl, retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(1L -> "A", 3L -> "c"), "k",
      df().select("k").limit(0), validate = false) // v2: update 1, insert 3
    DeletionVectors.publishDeletes(spark, tbl, Seq(2L).toDF("k"), "k") // v3
    spark.readStream.format("graft-table")
      .option("startingVersion", "1").option("preimages", "true").load(tbl)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(rowsOf(s"$base/out").toSet === Set(
      (1L, "snapshot", 1L, "a"), (2L, "snapshot", 1L, "b"),
      (1L, "update_preimage", 2L, "a"), (1L, "update_postimage", 2L, "A"),
      (3L, "insert", 2L, "c"),
      (2L, "delete", 3L, "b"))) // the delete carries its FULL old image
  }

  test("feed view: stream-maintained monthly aggregate ≡ recompute, replay-safe") {
    val base = graft.util.Scratch.dir("feed_view_spec")
    val tbl = s"$base/t"
    def rows(rs: (Long, String, String)*) = rs.toDF("k", "ds", "ps")
      .select(col("k"), to_date(col("ds")).as("d"),
        col("ps").cast("decimal(18,2)").as("p"))
    def agg(): Map[String, (Long, Double)] =
      graft.streaming.FeedView.readAgg(spark, s"$base/state")
        .select("month", "n_live", "sum_price")
        .collect().map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    def drainView(): Unit = graft.streaming.FeedView.runFeedAgg(
      spark, tbl, s"$base/state", s"$base/ckpt", dateCol = "d", priceCol = "p",
      availableNow = true).awaitTermination()
    Sinks.publishSnapshot(rows((1L, "2024-01-15", "10.00"), (2L, "2024-02-15", "20.00"),
      (3L, "2024-01-20", "5.00")), "d", tbl, retainVersions = 100)
    drainView()
    assert(agg() == Map("2024-01-01" -> (2L, 15.0), "2024-02-01" -> (1L, 20.0)))
    // v2: k=1 UPDATES and MOVES month (retire in old month, arrive in
    // new — the preimage carries the old date); k=4 inserts
    DeletionVectors.publishUpsert(spark, tbl,
      rows((1L, "2024-02-10", "12.00"), (4L, "2024-03-01", "7.00")), "k",
      rows().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, tbl, Seq(3L).toDF("k"), "k") // v3
    drainView()
    assert(agg() == Map("2024-02-01" -> (2L, 32.0), "2024-03-01" -> (1L, 7.0)),
      "month move retires 2024-01 to zero (group dropped), delete retires k=3")
    // replay safety: an idle re-drain from the same checkpoint folds
    // nothing twice (signed deltas are NOT idempotent — the version
    // ledger must gate them)
    drainView()
    assert(agg() == Map("2024-02-01" -> (2L, 32.0), "2024-03-01" -> (1L, 7.0)))
    // a fresh snapshot baseline RE-KEYS the state outright
    Sinks.publishSnapshot(rows((9L, "2024-05-01", "1.00")), "d", tbl,
      retainVersions = 100)
    drainView()
    assert(agg() == Map("2024-05-01" -> (1L, 1.0)))
  }

  test("feed view upgrades in place: extremes backfill over pre-extremes state") {
    import graft.plans.MatViews
    val base = graft.util.Scratch.dir("feed_view_migrate")
    val tbl = s"$base/t"
    val rows = (1L to 10L).map(i => (i, java.sql.Date.valueOf("2024-05-15"),
        java.math.BigDecimal.valueOf(i * 100L, 2)))
      .toDF("k", "d", "p").withColumn("p", col("p").cast("decimal(18,2)"))
    graft.sources.Sinks.publishSnapshot(rows, "d", tbl, retainVersions = 100)
    def drain(extremes: Boolean): Unit =
      graft.streaming.FeedView.runFeedAgg(spark, tbl, s"$base/state",
        s"$base/ckpt", dateCol = "d", priceCol = "p", availableNow = true,
        registerView = true, maintainExtremes = extremes).awaitTermination()
    try {
      // 1) a count/sum-only maintainer folds the baseline and registers
      drain(extremes = false)
      assert(!graft.streaming.FeedView.readAgg(spark, s"$base/state")
        .columns.contains("min_price"))
      // 2) the maintainer upgrades (extremes ON) over the OLD state and
      //    a new link commit: the fold must BACKFILL min/max from the
      //    base instead of crashing on the missing columns
      DeletionVectors.publishDeletes(spark, tbl, Seq(1L).toDF("k"), "k") // v2
      drain(extremes = true)
      val st = graft.streaming.FeedView.readAgg(spark, s"$base/state")
      assert(st.columns.contains("min_price"))
      assert(st.select("min_price", "max_price").collect().map(r =>
        (r.getDecimal(0).doubleValue(), r.getDecimal(1).doubleValue())).toSeq ==
        Seq((2.0, 10.0)), "backfilled extremes must reflect the merged state")
      // ...and the upgraded registration serves MIN/MAX
      val q = spark.sql(s"SELECT MIN(p) AS mn, MAX(p) AS mx FROM graft.`$tbl`")
      assert(!q.queryExecution.optimizedPlan.exists {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.isInstanceOf[graft.sources.GraftTable]
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          s.relation.table.isInstanceOf[graft.sources.GraftTable]
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains(tbl))
            case _ => false
          }
        case _ => false
      }, "the upgraded registration must serve extremes")
      // 3) the maintainer DOWNGRADES (extremes OFF): the registration
      //    must drop its min/max bindings, or the needed-columns check
      //    would silently disarm even COUNT/SUM
      DeletionVectors.publishDeletes(spark, tbl, Seq(2L).toDF("k"), "k") // v3
      drain(extremes = false)
      assert(MatViews.lookup(spark, tbl).exists(_.mins.isEmpty),
        "a downgraded maintainer must re-register without extremes bindings")
      val cnt = spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$tbl`")
      assert(cnt.as[Long].head() == 8L)
      assert(!cnt.queryExecution.optimizedPlan.exists {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.isInstanceOf[graft.sources.GraftTable]
        case _ => false
      }, "count must still serve from the view after the downgrade")
    } finally MatViews.unregister(tbl)
  }

  test("feed view repairs dirty extremes under the Java 8 datetime API") {
    val base = graft.util.Scratch.dir("feed_view_java8")
    val tbl = s"$base/t"
    val java8 = "spark.sql.datetime.java8API.enabled"
    def rows(rs: (Long, String, String)*) = rs.toDF("k", "ds", "ps")
      .select(col("k"), to_date(col("ds")).as("d"),
        col("ps").cast("decimal(18,2)").as("p"))
    def agg(): Map[String, (Long, Double, Double)] =
      graft.streaming.FeedView.readAgg(spark, s"$base/state")
        .select("month", "n_live", "min_price", "max_price")
        .collect().map(r => r.get(0).toString ->
          ((r.getLong(1), r.getDecimal(2).doubleValue(), r.getDecimal(3).doubleValue()))).toMap
    def drainView(): Unit = graft.streaming.FeedView.runFeedAgg(
      spark, tbl, s"$base/state", s"$base/ckpt", dateCol = "d", priceCol = "p",
      availableNow = true).awaitTermination()
    spark.conf.set(java8, "true")
    try {
      Sinks.publishSnapshot(rows((1L, "2024-01-15", "10.00"), (2L, "2024-01-20", "20.00"),
        (3L, "2024-01-25", "5.00"), (4L, "2024-02-15", "7.00")), "d", tbl, retainVersions = 100)
      drainView()
      assert(agg() == Map("2024-01-01" -> ((3L, 5.0, 20.0)), "2024-02-01" -> ((1L, 7.0, 7.0))))
      // deleting the January minimum makes January dirty: its min is
      // recomputed from the base, with months observed as LocalDate
      DeletionVectors.publishDeletes(spark, tbl, Seq(3L).toDF("k"), "k")
      drainView()
      assert(agg() == Map("2024-01-01" -> ((2L, 10.0, 20.0)), "2024-02-01" -> ((1L, 7.0, 7.0))))
    } finally spark.conf.unset(java8)
  }

  test("point-read options and empty stores are rejected up front") {
    val base = graft.util.Scratch.dir("feed_opts")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 4)
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-table").option("tag", "x").load(tbl)
    }
    intercept[java.io.FileNotFoundException] {
      spark.readStream.format("graft-table").load(s"$base/empty")
    }
    // a startingVersion beyond the live head would idle forever — a
    // typo must be a loud refusal, not a healthy-looking empty stream
    val tooHigh = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-table")
        .option("startingVersion", "7").load(tbl)
    }
    assert(tooHigh.getMessage.contains("beyond the live head"), tooHigh.getMessage)
    // head+1 stays legal: "tail only future commits"
    spark.readStream.format("graft-table").option("startingVersion", "2").load(tbl)
  }

  test("batch readChangeFeed equals the streaming drain, row for row") {
    val base = graft.util.Scratch.dir("feed_batch")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a", 2L -> "b"), "d", tbl, retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(1L -> "A", 3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishDeletes(spark, tbl, Seq(2L).toDF("k"), "k")
    // the batch read over [1, head] must equal the streaming drain
    drain(tbl, s"$base/ckpt", s"$base/out", startingVersion = Some(1L))
    val streamed = rowsOf(s"$base/out").toSet
    val batch = spark.read.format("graft-table")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(tbl)
    batch.write.parquet(s"$base/bout")
    assert(rowsOf(s"$base/bout").toSet === streamed)
    // a sub-range reads only its versions
    val mid = spark.read.format("graft-table").option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2").load(tbl)
    assert(mid.select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "upsert"), (3L, "upsert")))
    // preimages mode serves the Delta-CDF shapes in batch too
    val pre = spark.read.format("graft-table").option("readChangeFeed", "true")
      .option("preimages", "true").option("startingVersion", "2")
      .option("endingVersion", "3").load(tbl)
    assert(pre.select("k", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === Set(
      (1L, "update_preimage", 2L), (1L, "update_postimage", 2L),
      (3L, "insert", 2L), (2L, "delete", 3L)))
    // column pruning + a _commit_version predicate stay correct
    assert(spark.read.format("graft-table").option("readChangeFeed", "true")
      .option("startingVersion", "1").load(tbl)
      .filter(col("_commit_version") === 3L).select("k")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("batch readChangeFeed prunes versions a _commit_version predicate excludes") {
    val base = graft.util.Scratch.dir("feed_batch_prune")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(2L -> "b"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishUpsert(spark, tbl, df(3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    val feed = spark.read.format("graft-table").option("readChangeFeed", "true")
      .option("startingVersion", "1").load(tbl)
    // the equality predicate narrows the PLANNED range to one version:
    // the inner scan plan references v2's files and no other version's
    graft.sources.MergedScanBuilder.lastScan.set(null)
    assert(feed.filter(col("_commit_version") === 2L).select("k")
      .as[Long].collect().toSeq == Seq(2L))
    val inner = graft.sources.MergedScanBuilder.lastScan.get()
    assert(inner != null, "captureScans seam not armed")
    val planned = inner.inputFiles.toSeq
    assert(planned.nonEmpty && planned.forall(_.contains("v00000002")),
      s"version pruning must plan only v2's files, got: $planned")
    // a contradictory bound returns empty without planning any version
    assert(feed.filter(col("_commit_version") === 9L).count() == 0)
    // range bounds compose with the predicate ([2, head] ∧ <= 2 → v2)
    assert(spark.read.format("graft-table").option("readChangeFeed", "true")
      .option("startingVersion", "2").load(tbl)
      .filter(col("_commit_version") <= 2L).select("k")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("batch readChangeFeed refuses unbounded, beyond-head and pruned ranges") {
    val base = graft.util.Scratch.dir("feed_batch_err")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 1)
    // a starting point is REQUIRED (Delta's contract): no silent
    // whole-history read
    val unbounded = intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("readChangeFeed", "true").load(tbl)
    }
    assert(unbounded.getMessage.contains("starting point"), unbounded.getMessage)
    val beyond = intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("readChangeFeed", "true")
        .option("startingVersion", "1").option("endingVersion", "9").load(tbl)
    }
    assert(beyond.getMessage.contains("beyond the live head"), beyond.getMessage)
    // retention pruned v1 under retainVersions=1 → the range refuses
    Sinks.publishSnapshot(df(2L -> "b"), "d", tbl, retainVersions = 1)
    Sinks.publishSnapshot(df(3L -> "c"), "d", tbl, retainVersions = 1)
    val pruned = intercept[Exception] {
      spark.read.format("graft-table").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(tbl).collect()
    }
    assert(pruned.getMessage.contains("retention pruned"), pruned.getMessage)
    // point reads and the feed are different surfaces
    val mixed = intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("readChangeFeed", "true")
        .option("startingVersion", "3").option("versionAsOf", "3").load(tbl)
    }
    assert(mixed.getMessage.contains("MAIN history"), mixed.getMessage)
  }

  test("startingTimestamp resolves to the first commit at or after the instant") {
    val base = graft.util.Scratch.dir("feed_ts")
    val tbl = s"$base/t"
    Sinks.publishSnapshot(df(1L -> "a"), "d", tbl, retainVersions = 100)
    DeletionVectors.publishUpsert(spark, tbl, df(2L -> "b"), "k",
      df().select("k").limit(0), validate = false)
    DeletionVectors.publishUpsert(spark, tbl, df(3L -> "c"), "k",
      df().select("k").limit(0), validate = false)
    // planted recorded commit times: v1 @ t0-3min, v2 @ t0-2min, v3 @ t0-1min
    val t0 = System.currentTimeMillis()
    (1L to 3L).foreach(v => Sinks.plantCommitTime(spark, tbl, v, t0 - (4L - v) * 60000L))
    // an instant between v2 and v3 starts the drain AT v3
    val cut = t0 - 90000L
    val out = s"$base/out"
    spark.readStream.format("graft-table")
      .option("startingTimestamp", cut.toString).load(tbl)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) => b.write.mode("append").parquet(out) }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(rowsOf(out).toSet === Set((3L, "upsert", 3L, "c")))
    // a future instant refuses loudly — never a healthy-looking idle
    val future = intercept[Exception] {
      spark.readStream.format("graft-table")
        .option("startingTimestamp", (t0 + 3600000L).toString).load(tbl)
    }
    assert(future.getMessage.contains("at or after"), future.getMessage)
    // the two starting points are mutually exclusive
    val both = intercept[Exception] {
      spark.readStream.format("graft-table")
        .option("startingTimestamp", cut.toString)
        .option("startingVersion", "1").load(tbl)
    }
    assert(both.getMessage.contains("mutually exclusive"), both.getMessage)
  }
}
