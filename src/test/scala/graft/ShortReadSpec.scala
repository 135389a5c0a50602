package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileStats, SchemaEvolution, Sinks}

/** Short reads resolve from the per-version read cache
  * ([[Sinks.cachedParquetRead]]): once a version or a view has been
  * read in the session, planning a catalog SELECT, a view-checked
  * aggregate or a skipping read starts no Spark job, so the first job
  * is the answer's. The cache never serves a stale shape: a view
  * replaced at its path and a schema-evolved version are read afresh. */
class ShortReadSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Jobs started while `df` is built and planned to its physical plan. */
  private def planningJobs(df: => DataFrame): Int =
    jobsDuring { df.queryExecution.executedPlan; () }

  private def rows(from: Long, to: Long): DataFrame =
    (from to to).map { i =>
      (i, java.sql.Date.valueOf(f"2024-${1 + i % 3}%02d-15"), i * 10L, s"c${i % 4}")
    }.toDF("k", "d", "p", "c")

  /** A plain store of 40 rows over three months; returns its path. */
  private def store(name: String, statsCols: Seq[String] = Nil): String = {
    val t = s"${graft.util.Scratch.dir(name)}/t"
    Sinks.publishSnapshot(rows(1L, 40L), "d", t, statsCols = statsCols)
    t
  }

  private def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq

  private def readsView(df: DataFrame, view: String): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.endsWith(view))
        case _                    => false
      }
      case _ => false
    }

  test("warm catalog SELECT on a plain head starts no job before its answer") {
    val t = store("short_catalog")
    val q = s"SELECT count(*), min(p), max(p) FROM graft.`$t`"
    spark.sql(q).collect()
    assert(planningJobs(spark.sql(q)) === 0)
    assert(sorted(spark.sql(q)) === Seq(Seq(40L, 10L, 400L)))
  }

  test("warm aggregates over a store with a view, eligible or not, start no job before their answer") {
    val t = store("short_view")
    val view = s"${new java.io.File(t).getParent}/mv"
    spark.sql(s"CREATE MATERIALIZED VIEW '$view' AS SELECT c, COUNT(*) AS n, SUM(p) AS s " +
      s"FROM graft.`$t` GROUP BY c").collect()
    val refused = s"SELECT count(*), min(p), max(p) FROM graft.`$t`"
    val served = s"SELECT c, COUNT(*) AS n, SUM(p) AS s FROM graft.`$t` GROUP BY c"
    Seq(refused, served).foreach(spark.sql(_).collect())
    assert(!readsView(spark.sql(refused), view))
    assert(readsView(spark.sql(served), view))
    assert(planningJobs(spark.sql(refused)) === 0)
    assert(planningJobs(spark.sql(served)) === 0)
    assert(sorted(spark.sql(refused)) === Seq(Seq(40L, 10L, 400L)))
    // two rewritten occurrences of the view in one plan answer like the base
    val joined = spark.sql(s"SELECT a.c, a.n, b.s FROM ($served) a JOIN ($served) b ON a.c = b.c")
    assert(sorted(joined) === sorted(Sinks.readSnapshot(spark, t).groupBy("c")
      .agg(count(lit(1)).as("n"), sum("p").as("s"))))
  }

  test("warm readSnapshotSkipping starts no job before its answer, with a stats manifest and without") {
    for (statsCols <- Seq(Nil, Seq("p"))) {
      val t = store("short_skip", statsCols)
      def read(lo: Long) = Sinks.readSnapshotSkipping(spark, t,
        Seq(FileStats.ColRange("p", Some(lo), Some(lo + 50L))))
      read(0L).collect()
      // 10000 lies above every row: with a manifest, every file prunes
      for (lo <- Seq(100L, 10000L)) {
        assert(planningJobs(read(lo)) === 0, s"statsCols $statsCols, lo $lo")
        assert(sorted(read(lo)) ===
          sorted(Sinks.readSnapshot(spark, t).filter(col("p").between(lo, lo + 50L))))
      }
    }
  }

  test("a provider read whose options change inference keeps inferring") {
    val t = store("short_provider")
    def load(opts: Map[String, String]) =
      spark.read.format("graft-table").options(opts).load(t)
    load(Map.empty).collect()
    assert(planningJobs(load(Map.empty)) === 0)
    assert(planningJobs(load(Map("mergeSchema" -> "true"))) > 0)
    assert(sorted(load(Map("mergeSchema" -> "true"))) === sorted(load(Map.empty)))
  }

  test("a view replaced at the same path answers from its new data") {
    val t = store("short_replace")
    val view = s"${new java.io.File(t).getParent}/mv"
    val q = s"SELECT c, COUNT(*) AS n, SUM(p) AS s FROM graft.`$t` GROUP BY c"
    def truth = sorted(Sinks.readSnapshot(spark, t).groupBy("c")
      .agg(count(lit(1)).as("n"), sum("p").as("s")))
    def replaceView(): Unit =
      spark.sql(s"CREATE OR REPLACE MATERIALIZED VIEW '$view' AS $q").collect()
    replaceView()
    val before = truth
    assert(readsView(spark.sql(q), view))
    assert(sorted(spark.sql(q)) === before)
    // the next version holds other rows; the view is rebuilt at the same path
    Sinks.publishSnapshot(rows(101L, 130L), "d", t)
    replaceView()
    assert(truth !== before)
    assert(readsView(spark.sql(q), view))
    assert(sorted(spark.sql(q)) === truth)
  }

  test("a catalog read after a schema-evolved publish shows the new column") {
    val t = store("short_evolve")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq === Seq("k", "d", "p", "c"))
    SchemaEvolution.publishEvolved(
      Sinks.readSnapshot(spark, t).drop("txn_month").withColumn("z", col("k") * 2), "d", t)
    val after = spark.sql(s"SELECT * FROM graft.`$t`")
    assert(after.columns.toSeq === Seq("k", "d", "p", "c", "z"))
    assert(after.agg(sum("z")).head().getLong(0) === 2L * (1L to 40L).sum)
  }
}
