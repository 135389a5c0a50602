package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CdcMerge

/** Randomized cross-check of CdcMerge against a plain-Scala reference
  * implementation of the decision matrix (fixed seed → reproducible).
  * Catches any divergence between the joined/CASE formulation and the
  * row-at-a-time semantics of the reference system. */
class CdcPropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Row-at-a-time reference semantics (what the Python updater does
    * per row against the database). Returns (key -> (price, deleted,
    * outcome)); delete-on-missing keys carry outcome but no row. */
  private def reference(base: Map[Long, (Long, Boolean)],
                        changes: Map[Long, (String, Long)]): Map[Long, (Option[(Long, Boolean)], String)] = {
    val keys = base.keySet ++ changes.keySet
    keys.map { k =>
      val b = base.get(k)
      val c = changes.get(k)
      val r: (Option[(Long, Boolean)], String) = (b, c) match {
        case (None, Some(("A", p))) => (Some((p, false)), "add_and_added")
        case (None, Some(("C", p))) => (Some((p, false)), "change_but_missing_and_added")
        case (None, Some(("D", _))) => (None, "delete_but_missing_and_ignored")
        case (Some((p, true)), None) => (Some((p, true)), "unchanged_deleted")
        case (Some((p, false)), None) => (Some((p, false)), "unchanged")
        case (Some((_, true)), Some(("A", p))) => (Some((p, false)), "add_but_deleted_and_changed")
        case (Some((p, true)), Some(("C", _))) => (Some((p, true)), "change_but_deleted_and_ignored")
        case (Some((p, true)), Some(("D", _))) => (Some((p, true)), "delete_but_deleted_and_ignored")
        case (Some((p, false)), Some(("A", np))) =>
          if (np == p) (Some((p, false)), "add_but_already_identical_and_ignored")
          else (Some((np, false)), "add_but_changed")
        case (Some((p, false)), Some(("C", np))) =>
          if (np == p) (Some((p, false)), "change_but_already_identical_and_ignored")
          else (Some((np, false)), "change_and_changed")
        case (Some((p, false)), Some(("D", np))) =>
          if (np == p) (Some((p, true)), "delete_and_deleted")
          else (Some((np, true)), "delete_but_not_identical_and_changed_and_deleted")
        case other => fail(s"unreachable $other")
      }
      k -> r
    }.toMap
  }

  test("malformed record_op keeps the base row untouched and is surfaced in stats") {
    val base = Seq((1L, 100L, "F"), (2L, 200L, "F")).toDF("key", "price", "is_deleted")
    val chg = Seq((1L, "X", 999L), (3L, "", 300L)).toDF("key", "record_op", "price")
    val merged = CdcMerge.merge(base, chg, "key", Seq("price"))
    val byKey = merged.collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getString(2), r.getString(3)))).toMap
    assert(byKey(1L) === ((Some(100L), "F", "invalid_op_ignored")))  // NOT deleted, NOT changed
    assert(byKey(3L)._3 === "invalid_op_missing_and_ignored")
    val applied = CdcMerge.applied(merged).select("key").as[Long].collect().toSet
    assert(applied === Set(1L, 2L))
  }

  test("as-of join preserves duplicate probe rows") {
    val probe = Seq(("k1", "2024-03-01"), ("k1", "2024-03-01"))
      .toDF("k", "t").withColumn("t", to_date(col("t")))
    val build = Seq(("k1", 1L, "2024-01-01")).toDF("k", "ver", "bt")
      .withColumn("bt", to_date(col("bt")))
    assert(graft.operators.AsOf.join(probe, build, "k", "t", "bt", "ver").count() === 2)
  }

  test("mergeBroadcast produces exactly the same rows as merge on random scenarios") {
    // three compare columns of three types, each with null cells, over
    // small domains so identical-with-nulls rows occur often
    val rnd = new scala.util.Random(7)
    def maybe[T](v: => T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
    def price() = maybe(rnd.nextInt(3).toLong + 1)
    def town() = maybe(Seq("LEEDS", "YORK")(rnd.nextInt(2)))
    def day() = maybe(java.sql.Date.valueOf(s"2024-01-0${rnd.nextInt(2) + 1}"))
    val compareCols = Seq("price", "town", "d")
    for (round <- 1 to 3) {
      val keys = (1L to 80L).toSeq
      val base = keys.filter(_ => rnd.nextBoolean())
        .map(k => (k, price(), town(), day(), if (rnd.nextInt(4) == 0) "T" else "F"))
      val chg = keys.filter(_ => rnd.nextBoolean())
        .map(k => (k, Seq("A", "C", "D", "X")(rnd.nextInt(4)), price(), town(), day()))
      val baseDf = base.toDF("key", "price", "town", "d", "is_deleted")
      val chgDf = chg.toDF("key", "record_op", "price", "town", "d")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      val merged = CdcMerge.merge(baseDf, chgDf, "key", compareCols)
      val broadcasted = CdcMerge.mergeBroadcast(baseDf, chgDf, "key", compareCols)
      def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
      assert(typed(merged) === typed(broadcasted), s"round $round")
      val a = rows(merged)
      assert(a.exists(r => (1 to 3).exists(i => r(i) == null)), "null cells reach the output")
      assert(a === rows(broadcasted), s"round $round")
    }
  }

  test("mergeBroadcast plan does not shuffle the base side") {
    val base = (1L to 100L).map(k => (k, k * 10, "F")).toDF("key", "price", "is_deleted")
    val chg = Seq((5L, "C", 999L), (200L, "A", 1L)).toDF("key", "record_op", "price")
    val plan = CdcMerge.mergeBroadcast(base, chg, "key", Seq("price"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("SortMergeJoin"), s"base side was shuffled:\n$plan")
  }

  test("CdcMerge matches the row-at-a-time reference on random scenarios") {
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 5) {
      val keys = (1L to 60L).toSeq
      val base = keys.filter(_ => rnd.nextBoolean()).map { k =>
        k -> (rnd.nextInt(5).toLong + 1, rnd.nextInt(4) == 0)
      }.toMap
      val changes = keys.filter(_ => rnd.nextBoolean()).map { k =>
        k -> (Seq("A", "C", "D")(rnd.nextInt(3)), rnd.nextInt(5).toLong + 1)
      }.toMap

      val baseDf = base.toSeq.map { case (k, (p, d)) => (k, p, if (d) "T" else "F") }
        .toDF("key", "price", "is_deleted")
      val chgDf = changes.toSeq.map { case (k, (op, p)) => (k, op, p) }
        .toDF("key", "record_op", "price")
      val got = CdcMerge.merge(baseDf, chgDf, "key", Seq("price"))
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          r.getString(2), r.getString(3)))).toMap

      val want = reference(base, changes)
      assert(got.keySet === want.keySet, s"round $round key sets differ")
      want.foreach { case (k, (expRow, expOutcome)) =>
        val (gotPrice, gotDel, gotOutcome) = got(k)
        assert(gotOutcome === expOutcome, s"round $round key $k outcome")
        expRow match {
          case Some((p, d)) =>
            assert(gotPrice.contains(p), s"round $round key $k price")
            assert(gotDel === (if (d) "T" else "F"), s"round $round key $k deleted")
          case None => // delete-on-missing: row only exists pre-applied()
        }
      }
      // applied() drops exactly the never-existed keys
      val appliedKeys = CdcMerge.applied(
        CdcMerge.merge(baseDf, chgDf, "key", Seq("price")))
        .select("key").as[Long].collect().toSet
      val expApplied = want.collect { case (k, (Some(_), _)) => k }.toSet
      assert(appliedKeys === expApplied, s"round $round applied keys")
    }
  }
}
