package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Branches, Constraints, ConstraintViolation, DeletionVectors, Sinks}

/** Table CHECK constraints ([[graft.sources.Constraints]]): the
  * Delta-style contract — FALSE violates, NULL passes, existing
  * violations refuse the add, and EVERY write path (full publish,
  * MoR link, SQL INSERT/MERGE, branch commits) refuses violating
  * rows pre-marker, leaving the head version untouched. */
class ConstraintSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def df(rows: (Long, String, java.lang.Double)*) =
    rows.toDF("k", "s", "p")
      .withColumn("d", to_date(lit("2024-03-15")))
      .select("k", "d", "s", "p")

  private def freshStore(): String = {
    val t = graft.util.Scratch.dir("constraint_spec") + "/t"
    df((1L, "a", 1.0), (2L, "b", 2.0)).write.format("graft-table")
      .option("dateCol", "d").option("retainVersions", "100")
      .mode("overwrite").save(t)
    t
  }

  test("null passes; false violates; add refuses on existing violations") {
    val t = freshStore()
    // a null p row is IN the table before the constraint arrives
    df((3L, "c", null)).write.format("graft-table").mode("append").save(t)
    // NULL passes the check, so the add succeeds over the null row
    Constraints.addConstraint(spark, t, "p_pos", "p > 0")
    assert(Constraints.constraintsOf(spark, t) == Map("p_pos" -> "p > 0"))
    // another null row still lands (NULL passes)
    df((4L, "dd", null)).write.format("graft-table").mode("append").save(t)
    // FALSE refuses
    intercept[ConstraintViolation] {
      df((5L, "e", -1.0)).write.format("graft-table").mode("append").save(t)
    }
    // an add over now-violating data refuses (4 rows, two null p)
    intercept[ConstraintViolation] {
      Constraints.addConstraint(spark, t, "p_notnull", "p IS NOT NULL")
    }
    // duplicate name refuses at the file layer (drop first)
    intercept[Exception] {
      Constraints.addConstraint(spark, t, "p_pos", "p > 1")
    }
    // a malformed expression refuses at analysis, writing nothing
    intercept[Exception] {
      Constraints.addConstraint(spark, t, "bad", "no_such_col > 0")
    }
    assert(Constraints.constraintsOf(spark, t).keySet == Set("p_pos"))
  }

  test("SQL writes, branch commits and restores are all bound") {
    val t = freshStore()
    Constraints.addConstraint(spark, t, "p_pos", "p > 0")
    val head = Sinks.currentVersion(spark, t).get
    // SQL INSERT refuses; the head never moves; readers see no change
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$t` SELECT 9L AS k, DATE'2024-03-16' AS d, " +
        "'x' AS s, -3.0D AS p")
    }
    def chain(x: Throwable): Seq[Throwable] =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(_.isInstanceOf[ConstraintViolation]), e.toString)
    assert(Sinks.currentVersion(spark, t).contains(head), "refusal must not commit")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0) == 2)
    // SQL MERGE with a violating update refuses likewise
    Seq((1L, -9.0)).toDF("k", "p").createOrReplaceTempView("bad_updates")
    val m = intercept[Exception] {
      spark.sql(s"MERGE INTO graft.`$t` tgt USING bad_updates u ON tgt.k = u.k " +
        "WHEN MATCHED THEN UPDATE SET p = u.p")
    }
    assert(chain(m).exists(_.isInstanceOf[ConstraintViolation]), m.toString)
    // valid SQL write lands
    spark.sql(s"INSERT INTO graft.`$t` SELECT 9L AS k, DATE'2024-03-16' AS d, " +
      "'x' AS s, 3.0D AS p")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0) == 3)
    // branch commits enforce the TABLE's constraints too
    Branches.createBranch(spark, t, "wip")
    intercept[ConstraintViolation] {
      DeletionVectors.publishUpsertToBranch(spark, t, "wip",
        df((7L, "g", -2.0)), "k", Seq.empty[Long].toDF("k"), validate = false)
    }
    intercept[ConstraintViolation] {
      Branches.publishToBranch(df((7L, "g", -2.0)), "d", t, "wip")
    }
    // pure deletes carry nothing to check: they pass under constraints
    DeletionVectors.publishDeletes(spark, t, Seq(9L).toDF("k"), "k")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0) == 2)
    // the post-hoc audit passes on a clean state…
    Constraints.validate(spark, t)
    // …and catches a declared-but-violated state (the end state of the
    // add-vs-in-flight window, simulated by dropping the constraint,
    // landing a violator, and re-planting the constraint file directly)
    Constraints.dropConstraint(spark, t, "p_pos")
    df((8L, "h", -4.0)).write.format("graft-table").mode("append").save(t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$t/_constraints/p_pos"), false)
    out.write("p > 0".getBytes("UTF-8")); out.close()
    intercept[ConstraintViolation] { Constraints.validate(spark, t) }
  }

  test("enforcement is in-flight: 3 constraints add zero Spark jobs to a publish") {
    // two stores, identical shape and data; one carries 3 constraints
    val plain = freshStore()
    val bound = freshStore()
    Constraints.addConstraint(spark, bound, "p_pos", "p > 0")
    Constraints.addConstraint(spark, bound, "k_pos", "k > 0")
    Constraints.addConstraint(spark, bound, "s_nonempty", "length(s) > 0")
    val rows = df((10L, "j", 10.0), (11L, "jj", 11.0))
    val unconstrained = jobsDuring {
      DeletionVectors.publishUpsert(spark, plain, rows, "k",
        Seq.empty[Long].toDF("k"), validate = false); ()
    }
    val constrained = jobsDuring {
      DeletionVectors.publishUpsert(spark, bound, rows, "k",
        Seq.empty[Long].toDF("k"), validate = false); ()
    }
    assert(constrained == unconstrained,
      s"in-flight enforcement must not add jobs: $constrained (3 constraints) " +
      s"vs $unconstrained (none) — a read-back re-scan is back")
    // and the guard still refuses: same shape, one violating row
    intercept[ConstraintViolation] {
      DeletionVectors.publishUpsert(spark, bound, df((12L, "x", -1.0)), "k",
        Seq.empty[Long].toDF("k"), validate = false)
    }
    // the refusal names the violated constraint, not the others
    val msg = intercept[ConstraintViolation] {
      Sinks.publishSnapshot(df((13L, "", 5.0)), "d", bound, retainVersions = 100)
    }.getMessage
    assert(msg.contains("s_nonempty") && !msg.contains("p_pos"), msg)
  }

  test("ANY deliberate write failure reclaims the stage, not just violations") {
    val t = freshStore()
    Constraints.addConstraint(spark, t, "p_pos", "p > 0")
    val head = Sinks.currentVersion(spark, t).get
    // a NON-constraint runtime failure mid-write (ANSI cast of a
    // non-numeric string) — before the r15 NonFatal reclaim this left
    // a claimed-but-unmarked version wedging every head+1 publish
    intercept[Exception] {
      Sinks.publishSnapshot(
        df((20L, "zz", 1.0)).withColumn("boom", expr("CAST(s AS INT)")),
        "d", t, retainVersions = 100)
    }
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claims = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_claims"))
      .map(_.getPath.getName).toSet
    assert(!claims.contains(f"c${head + 1}%08d"),
      s"the failed write's claim must be reclaimed, found: $claims")
    // head+1 is immediately claimable again — no vacuum needed
    DeletionVectors.publishUpsert(spark, t, df((21L, "ok", 2.0)), "k",
      Seq.empty[Long].toDF("k"), validate = false)
    assert(Sinks.currentVersion(spark, t).contains(head + 1))
  }

  test("random walk: the constraint holds at every committed state") {
    val rnd = new scala.util.Random(314159)
    val t = graft.util.Scratch.dir("constraint_walk") + "/t"
    def frame(rows: Seq[(Long, Double)]) =
      rows.toDF("k", "p").withColumn("d", to_date(lit("2024-02-15")))
        .select("k", "d", "p")
    var model: Map[Long, Double] = (1L to 20L).map(k => k -> k.toDouble).toMap
    Sinks.publishSnapshot(frame(model.toSeq), "d", t, retainVersions = 100)
    Constraints.addConstraint(spark, t, "p_pos", "p > 0")
    for (_ <- 1 to 12) {
      val head = Sinks.currentVersion(spark, t).get
      rnd.nextInt(4) match {
        case 0 => // valid upsert: lands, model follows
          val k = rnd.nextInt(25).toLong + 1
          val p = rnd.nextInt(100).toDouble + 1
          DeletionVectors.publishUpsert(spark, t, frame(Seq(k -> p)), "k",
            Seq.empty[Long].toDF("k"), validate = false)
          model += k -> p
        case 1 => // violating upsert: refuses, head pinned, model unmoved
          val k = rnd.nextInt(25).toLong + 1
          intercept[ConstraintViolation] {
            DeletionVectors.publishUpsert(spark, t, frame(Seq(k -> -1.0)), "k",
              Seq.empty[Long].toDF("k"), validate = false)
          }
          assert(Sinks.currentVersion(spark, t).contains(head))
        case 2 => // delete: nothing to check, lands
          val k = rnd.nextInt(25).toLong + 1
          DeletionVectors.publishDeletes(spark, t, Seq(k).toDF("k"), "k")
          model -= k
        case 3 => // violating full replace: refuses, head pinned
          intercept[ConstraintViolation] {
            Sinks.publishSnapshot(frame(Seq(99L -> -9.0)), "d", t,
              retainVersions = 100)
          }
          assert(Sinks.currentVersion(spark, t).contains(head))
      }
      // invariants after EVERY step: state == model, audit green
      val got = DeletionVectors.readMerged(spark, t)
        .select("k", "p").as[(Long, Double)].collect().toMap
      assert(got == model, s"merged state diverged from the model")
      Constraints.validate(spark, t)
    }
    // refusals along the walk never wedged the claim space: one more
    // valid commit of each shape still lands
    DeletionVectors.publishUpsert(spark, t, frame(Seq(50L -> 5.0)), "k",
      Seq.empty[Long].toDF("k"), validate = false)
    model += 50L -> 5.0
    Sinks.publishSnapshot(frame(model.toSeq), "d", t, retainVersions = 100)
    assert(DeletionVectors.readMerged(spark, t).count() == model.size)
  }
}
