package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the tuned engine session (AQE, skew handling, broadcast
    // threshold, extensions) — benchmarking a bare session would time
    // different physical plans than the library ships
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop sink forces full evaluation of every output column —
    // count() would let Catalyst prune the projections under test
    // label jobs per query (guide §1.5) so event-log/UI time attributes
    // to the query being timed; thread-local, cleared after each run.
    // A failure is loud: its exception class and message go to stderr
    // and into the record (first failure per query)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def run(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try {
        spark.sparkContext.setJobDescription(name)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      }
      catch { case e: Throwable =>
        val what = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[bench] $name failed: $what")
        errors.getOrElseUpdate(name, what)
        false
      }
      finally spark.sparkContext.setJobDescription(null)
    // steady-state: one untimed warmup pass (JIT, codegen, parquet
    // footers), then timed passes in stable sorted order. Single-pass
    // numbers swing up to 4x run-to-run on a shared box; interference
    // (GC, disk, co-tenants) only ever ADDS time, so the MINIMUM of 3
    // passes is the stable steady-state estimator — median still
    // wobbled >20% on the checkpoint-heavy iterative queries.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // comma-separated key filter for targeted iteration; full sweep by
    // default (the driver contract). Unknown or empty keys fail loudly:
    // a typo printing total=0 would read as an impossibly fast run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { keys =>
      val unknown = keys.diff(SparkEntry.queries.keySet)
      require(keys.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY has no valid query keys (unknown: ${unknown.mkString(",")})")
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.forall(_.contains(k)) }
    ordered.foreach { case (name, fn) => run(name, fn) }
    val results = ordered.map { case (name, fn) =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val ok = run(name, fn)
        // a failing query must not masquerade as a fast success
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errs = org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      org.json4s.JObject(errors.toList.map { case (k, v) => k -> org.json4s.JString(v) })))
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // the driver keeps only the LAST ~2000 chars of stdout; a 200+-query
    // map (~9 KB) can never fit, so the full line above arrives
    // front-truncated there and is unparseable. Persist the full JSON
    // verbatim (config-stamped so a later run at another core count /
    // filter can't clobber this sweep's record), and ALSO print a
    // COMPACT summary as the final line: same schema, ms-precision
    // values, and only as many per-query entries (slowest first) as
    // keep the line inside the tail window — so the driver can always
    // parse total + the perf-relevant queries from a bounded tail. The
    // complete map lives in the full line + the persisted files.
    val outName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outName),
      (line + "\n").getBytes("UTF-8"))
    val sfLabel = sfDir.split('/').lastOption.getOrElse("sf")
    val runTag = only.fold("")(_ => "_filtered")
    val stamped = outName.stripSuffix(".json") + s"_cpus${cpus}_${sfLabel}$runTag.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(stamped),
      (line + "\n").getBytes("UTF-8"))
    def ms(v: Double): String =
      if (v < 0) "-1.0" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val budget = 1600 // chars for the whole compact line (tail is ~2000 incl. sbt's epilogue)
    val head = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":{"""
    val tailPart = s"""},"sf":"$sfDir","n_queries":${results.size},""" +
      s""""n_failed":${errors.size},"full":"$stamped"}"""
    val entries = results.sortBy(-_._2).iterator
      .map { case (k, v) => s"\"$k\":${ms(v)}" }
      .scanLeft(("", 0)) { case ((_, len), e) => (e, len + e.length + 1) }
      .drop(1)
      .takeWhile(_._2 <= budget - head.length - tailPart.length)
      .map(_._1).toSeq
    println(head + entries.mkString(",") + tailPart)
    spark.stop()
  }
}
