package graftbench

/** Tests of the generators' closed forms, run with
  * `python3 perfbench/run.py --workload selftest`. They need no Spark:
  * the decision matrix is replayed here, independently of the program,
  * over the generated files. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  /** CdcMerge's decision matrix for one change record against the current state. */
  private def outcome(state: Gen.PpState, r: Gen.PpRow, op: String): String =
    state.rows.get(Gen.keyOf(r.tuid)) match {
      case None => op match {
        case "A" => "add_and_added"
        case "C" => "change_but_missing_and_added"
        case "D" => "delete_but_missing_and_ignored"
        case _   => "invalid_op_missing_and_ignored"
      }
      case Some((_, true)) => op match {
        case "A" => "add_but_deleted_and_changed"
        case "C" => "change_but_deleted_and_ignored"
        case "D" => "delete_but_deleted_and_ignored"
        case _   => "invalid_op_ignored"
      }
      case Some((cur, false)) =>
        val same = cur.values == r.values
        op match {
          case "A" => if (same) "add_but_already_identical_and_ignored" else "add_but_changed"
          case "C" => if (same) "change_but_already_identical_and_ignored" else "change_and_changed"
          case "D" => if (same) "delete_and_deleted" else "delete_but_not_identical_and_changed_and_deleted"
          case _   => "invalid_op_ignored"
        }
    }

  def main(args: Array[String]): Unit = {
    for (seed <- Seq(1L, 2L)) {
      val (n, m, files) = (3000, 8, 4)
      val sc = Gen.ppScenario(seed, n, 60, files, m)
      (0 until files).foreach { u =>
        val before = sc.states(u)
        val recs = sc.updates(u)
        val replay = recs.groupBy { case (r, op) => outcome(before, r, op) }.map { case (k, v) => k -> v.size.toLong }
        val touched = recs.map(r => Gen.keyOf(r._1.tuid)).toSet
        val untouched = before.rows.filter { case (k, _) => !touched(k) }.values
        val counts = replay ++ Seq("unchanged" -> untouched.count(!_._2).toLong,
          "unchanged_deleted" -> untouched.count(_._2).toLong).filter(_._2 > 0)
        test(s"seed $seed file $u: replayed outcomes equal the closed form") {
          counts == Gen.expectedStats(n, m, u)
        }
        test(s"seed $seed file $u: every matrix cell is hit, one record per key") {
          touched.size == recs.size &&
            Gen.cells.indices.forall(j => Gen.cellCount(m, u, j) > 0 || (u == 0 && Gen.cells(j).pool == Gen.Deleted))
        }
        test(s"seed $seed file $u: pools before the file equal the closed form") {
          Gen.poolsBefore(n, m, u) == ((before.live.size.toLong, before.all.count(_._2).toLong))
        }
      }
    }
    test("same seed, same files; another seed, other files") {
      val a = Gen.ppScenario(7, 500, 360, 2, 4)
      val b = Gen.ppScenario(7, 500, 360, 2, 4)
      val c = Gen.ppScenario(8, 500, 360, 2, 4)
      a.base.map(_.csv("A")) == b.base.map(_.csv("A")) && a.updates == b.updates &&
        a.base.map(_.csv("A")) != c.base.map(_.csv("A"))
    }
    test("pp-CSV lines have the reference's 16 quoted fields") {
      val l = Gen.ppRow(3, 42, 100).csv("A")
      l.split("\",\"", -1).length == 16 && l.startsWith("\"{") && l.endsWith("\"A\"")
    }
    test("base rows span 1995-01 to 2024-12 over 360 months") {
      val sc = Gen.ppScenario(1, 720, 360, 0, 0)
      sc.base.map(_.month).min == "1995-01" && sc.base.map(_.month).max == "2024-12" &&
        sc.base.map(_.month).distinct.size == 360
    }

    def trigrams(t: String): Set[String] = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def jaccard(a: String, b: String): Double = {
      val (x, y) = (trigrams(a), trigrams(b))
      (x & y).size.toDouble / (x | y).size
    }
    val c = Gen.corpus(5, 800, 40, 3, 10)
    val text = c.docs.map(d => d.id -> d.text).toMap
    test("planted copies sit above the 0.5 dedup threshold against each other") {
      c.clusters.forall(m => m.combinations(2).forall { case Seq(a, b) => jaccard(text(a), text(b)) >= 0.5 })
    }
    test("unplanted documents share no trigram runs") {
      val planted = c.clusters.flatten.toSet
      val free = c.docs.filter(d => !planted(d.id) && !c.junk(d.id)).take(200)
      free.combinations(2).forall { case Seq(a, b) => jaccard(a.text, b.text) < 0.1 }
    }
    test("junk documents fail the quality gate's five-token floor") {
      c.junk.forall(id => text(id).split(" ").length < 5)
    }
    test("a planted wrong expectation differs from the closed form") {
      Plant.on = true
      try Gen.expectedStats(100, 4, 1).map { case (k, v) => k -> Plant(v) } != Gen.expectedStats(100, 4, 1)
      finally Plant.on = false
    }
    println(if (failures == 0) "selftest passed" else s"selftest: $failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
