package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (local[4], tiny SF). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs triggered by `body`, via a listener (polled until the
    * count stops moving — listener delivery is async). */
  def jobsDuring(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 3) { // three quiet polls = the bus has drained
        Thread.sleep(100)
        val now = counter.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      counter.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

/** Every declared query runs, is non-degenerate, and each oracle key
  * points at a declared query. Detailed value checks live in the
  * DuckDB gate (tools/check_oracle.py) and the operator suites. */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns a schema with rows") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      // the embed-dup variants legitimately return 0 rows at sf0.001
      // (no pair above threshold in the tiny sample); everything else
      // must produce data.
      if (!Set("d_embed_dup", "d_embed_dup_lsh")(name))
        assert(df.count() > 0, s"$name returned 0 rows")
      else assert(df.count() >= 0)
    }
  }
}
