package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NearDedup

/** The connected-components operator resolves a small duplicate graph
  * on the driver (one union-find pass) and runs large-star/small-star
  * contraction above a fixed edge bound. A bound of 0 runs the
  * contraction, so both paths stay covered and are pinned equal here —
  * rows, column names and types — through the entry point and through
  * its former name, [[NearDedup.duplicateClustersStar]]. */
class ComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val entryPoints = Seq[(String, DataFrame => DataFrame)](
    "duplicateClusters" -> (NearDedup.duplicateClusters(_)),
    "duplicateClustersStar" -> (NearDedup.duplicateClustersStar(_)))

  private def contraction(pairs: DataFrame): DataFrame = NearDedup.duplicateClusters(pairs, 0)

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

  /** A 200-link chain over shuffled ids, with self-loops on three of
    * its nodes and on an isolated node: diameter 200. */
  private val chain: Seq[(Long, Long)] = {
    val ids = new scala.util.Random(7).shuffle((1L to 201L).toVector)
    ids.zip(ids.tail) ++ Seq(ids(0), ids(100), ids(200), 1000L).map(x => (x, x))
  }

  /** A seeded random recursive tree of 300 nodes over shuffled ids:
    * node j links to a uniformly drawn earlier node, either way round. */
  private val tree: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((1L to 300L).toVector)
    (1 until 300).map { j =>
      val (child, parent) = (ids(j), ids(rnd.nextInt(j)))
      if (rnd.nextBoolean()) (child, parent) else (parent, child)
    }
  }

  test("driver union-find equals the star contraction, names and types included") {
    val graphs: Seq[(String, DataFrame)] = Seq(
      "4-pair fixture" -> fixture.toDF("id_a", "id_b"),
      "4-pair fixture, int ids" -> fixture.map { case (a, b) => (a.toInt, b.toInt) }
        .toDF("id_a", "id_b"),
      "64-link chain" -> (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b"),
      "200-link chain with self-loops" -> chain.toDF("id_a", "id_b"),
      "300-node random tree" -> tree.toDF("id_a", "id_b"),
      "empty pair set" -> Seq.empty[(Long, Long)].toDF("id_a", "id_b")) ++
      (1 to 20).map(s => s"random graph $s" -> randomGraph(s).toDF("id_a", "id_b"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    def schema(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    for ((graph, pairs) <- graphs) {
      val reference = contraction(pairs)
      for ((name, cc) <- entryPoints) {
        val onDriver = cc(pairs)
        assert(schema(onDriver) === schema(reference), s"$name on $graph")
        assert(rows(onDriver) === rows(reference), s"$name on $graph")
      }
    }
  }

  test("driver path on the fixture: the edge checkpoint and one collect; the loops run more") {
    val pairs = fixture.toDF("id_a", "id_b")
    for ((name, cc) <- entryPoints) assert(jobsDuring(cc(pairs).collect()) === 2, name)
    val loopJobs = jobsDuring(contraction(pairs).collect())
    assert(loopJobs > 2, s"the contraction ran $loopJobs jobs")
  }
}
