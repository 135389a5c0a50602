package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NearDedup

/** The connected-components operators resolve a small duplicate graph
  * on the driver (one union-find pass) and run their distributed loops
  * above a fixed edge bound: min-label propagation for
  * [[NearDedup.duplicateClusters]], large-star/small-star contraction
  * for [[NearDedup.duplicateClustersStar]]. A bound of 0 runs the
  * loops, so both paths stay covered and are pinned equal here — rows,
  * column names and types. */
class ComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Each entry point with its distributed loop as the reference. */
  private val entryPoints = Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)](
    ("duplicateClusters", NearDedup.duplicateClusters(_), NearDedup.duplicateClusters(_, 0)),
    ("duplicateClustersStar", NearDedup.duplicateClustersStar(_), NearDedup.duplicateClustersStar(_, 0)))

  private val fixture = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L))

  /** A seeded random multigraph carrying self-loops (one on an
    * otherwise isolated node), repeated pairs and reversed pairs. */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val nodes = 5 + rnd.nextInt(60)
    def node() = rnd.nextInt(nodes).toLong
    val base = Seq.fill(1 + rnd.nextInt(80))((node(), node()))
    val loops = Seq.fill(1 + rnd.nextInt(3)) { val x = node(); (x, x) }
    rnd.shuffle(base ++ loops ++ base.take(5) ++ base.take(5).map(_.swap) :+
      ((nodes + 1L, nodes + 1L)))
  }

  test("driver union-find equals both distributed loops, names and types included") {
    val graphs: Seq[(String, DataFrame)] = Seq(
      "4-pair fixture" -> fixture.toDF("id_a", "id_b"),
      "4-pair fixture, int ids" -> fixture.map { case (a, b) => (a.toInt, b.toInt) }
        .toDF("id_a", "id_b"),
      "64-link chain" -> (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b"),
      "empty pair set" -> Seq.empty[(Long, Long)].toDF("id_a", "id_b")) ++
      (1 to 20).map(s => s"random graph $s" -> randomGraph(s).toDF("id_a", "id_b"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    def schema(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    for ((graph, pairs) <- graphs; (name, cc, loop) <- entryPoints) {
      val (onDriver, reference) = (cc(pairs), loop(pairs))
      assert(schema(onDriver) === schema(reference), s"$name on $graph")
      assert(rows(onDriver) === rows(reference), s"$name on $graph")
    }
  }

  test("driver path on the fixture: the edge checkpoint and one collect; the loops run more") {
    val pairs = fixture.toDF("id_a", "id_b")
    // the star's checkpoint canonicalizes through a `distinct`, whose
    // shuffle adaptive execution runs as a job of its own
    val driverJobs = Map("duplicateClusters" -> 2, "duplicateClustersStar" -> 3)
    for ((name, cc, loop) <- entryPoints) {
      assert(jobsDuring(cc(pairs).collect()) === driverJobs(name), name)
      val loopJobs = jobsDuring(loop(pairs).collect())
      assert(loopJobs > driverJobs(name), s"$name ran $loopJobs jobs in its loop")
    }
  }
}
