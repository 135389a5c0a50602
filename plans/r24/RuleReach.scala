package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Repartition}

/** Which registered queries have an aggregate over a one-partition
  * coalesce (`Repartition(1, shuffle = false)`, what
  * `plans.SingleStageAggregate` inserts) in their optimized plan,
  * subqueries included, and how many. Builds each query's DataFrame
  * and runs none.
  *
  * Not part of the build. To run it, copy it into a checkout's
  * `src/main/scala/graft/tools/` and
  *
  *     SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=4g sbt "runMain graft.tools.RuleReach SF_DIR"
  *
  * No registered query builds its frame with a `coalesce(1)` under an
  * aggregate (every `coalesce(1)` in `src/main` feeds a write or a
  * local iterator), so on the parent every count is 0. */
object RuleReach {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0) // the generated data directory, e.g. the sf0.1 set
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
    for (k <- keys) {
      val n = try {
        graft.SparkEntry.queries(k)(spark, sfDir).queryExecution.optimizedPlan
          .collectWithSubqueries {
            case a @ Aggregate(_, _, r: Repartition, _) if r.numPartitions == 1 && !r.shuffle => a
          }
          .size.toString
      } catch { case e: Throwable => s"error ${e.getClass.getSimpleName}" }
      println(s"[reach] $k $n")
    }
    println(s"[reach] queries ${keys.size}")
    spark.stop()
  }
}
