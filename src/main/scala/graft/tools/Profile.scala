package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level timing harness (dev tool, not part of the driver
  * contract): times named sub-plans of the expensive dedup/export
  * queries with the noop sink so optimization work can see WHICH stage
  * of a composition carries the cost. Usage:
  *   runMain graft.tools.Profile <sfDir> <section> [passes] [section args]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val section = if (args.length > 1) args(1) else "clean"
    val passes = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(mk: => DataFrame): Unit = {
      val times = (0 to passes).map { i =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name#$i")
        mk.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(null)
        (System.nanoTime() - t0) / 1e9
      }
      // drop warmup pass 0; report min of the rest
      println(f"PROF $name%-38s min=${times.tail.min}%7.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
    }

    import graft.operators.{NearDedup, TextOps}
    import graft.sources.Tables

    section match {
      case "clean" =>
        val docs = Tables.documents(spark, sfDir)
        val threshold = 0.5
        time("docs")(docs)
        // cleanCorpus's own qualified corpus: the quality gate inline
        // in the corpus scan, at its default bounds
        val qualified = docs.filter(TextOps.qualityPass(5, 0.5))
        time("quality")(qualified)
        time("shingles")(NearDedup.shingles(qualified))
        time("pairs_ppjoin")(NearDedup.ngramJaccardOf(qualified, threshold))
        time("clusters")(NearDedup.duplicateClusters(
          NearDedup.ngramJaccardOf(qualified, threshold).select("id_a", "id_b")))
        time("clean_corpus_full")(NearDedup.cleanCorpus(docs, exactPairs = true))
      case "export" =>
        val docs = Tables.documents(spark, sfDir)
        val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        val benchmark = docs.filter(col("doc_id") % 20 === 0)
        time("clean")(NearDedup.cleanCorpus(corpus, exactPairs = true))
        val clean = NearDedup.cleanCorpus(corpus, exactPairs = true).localCheckpoint()
        time("decontaminate")(NearDedup.decontaminateOf(clean, benchmark))
        val uncontaminated = NearDedup.decontaminateOf(clean, benchmark)
          .filter(col("is_contaminated") === 0).select("doc_id")
        val surviving = clean.join(uncontaminated, "doc_id")
        time("sample")(TextOps.stratifiedSampleOf(surviving, TextOps.sampleRates))
        val sampled = TextOps.stratifiedSampleOf(surviving, TextOps.sampleRates).select("doc_id")
        val kept = surviving.join(sampled, "doc_id")
        val split = TextOps.splitAssignOf(kept).select("doc_id", "split")
        time("pack")(TextOps.packSequencesOf(kept.join(split, "doc_id"),
          nShards = TextOps.packShardsFor(corpus.count()), groupCols = Seq("split")))
        time("export_full")(graft.operators.CorpusExport.exportCorpus(spark, sfDir))
      case "splitincr" =>
        time("t_split_safe")(NearDedup.clusterSplit(spark, sfDir))
        time("t_split_safe_incr")(NearDedup.clusterSplitIncr(spark, sfDir))
      case "conf" =>
        // same-JVM A/B of one SQL conf: args(3) = key, args(4) = comma
        // list of values, args(5..) = query names. The values run in
        // order, then reversed, so drift hits every value alike; the
        // key's value from before the run is restored afterwards. One
        // untimed pass per query runs first, so no value carries the
        // query's cold pass.
        val key = args(3)
        val values = args(4).split(",").toSeq
        val before = spark.conf.getOption(key)
        args.drop(5).foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          run()
          (values ++ values.reverse).foreach { v =>
            spark.conf.set(key, v)
            val times = (0 until passes).map { _ =>
              val t0 = System.nanoTime()
              run()
              (System.nanoTime() - t0) / 1e9
            }
            println(f"CONF $n%-24s $key=$v%-6s min=${times.min}%7.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
          }
        }
        before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      case "joblog" =>
        // detailed per-job log for ONE query: name, duration, #tasks
        val name = args(3)
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val stages = j.stageInfos.map(s => s"${s.name.takeWhile(_ != '\n').take(60)}[${s.numTasks}]")
              .mkString(" <- ")
            starts.put(j.jobId, (System.nanoTime(), stages.take(150)))
          }
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t0, d) = starts.getOrDefault(j.jobId, (0L, "?"))
            println(f"JOB ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f  $d")
          }
        })
        val fn = graft.SparkEntry.queries(name)
        (0 until math.max(1, passes)).foreach { i =>
          println(s"=== $name pass $i ===")
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"WALL ${(System.nanoTime() - t0) / 1e9}%7.3f")
        }
      case "jobs" =>
        // job census for registered queries: args(3..) = query names
        val names = args.drop(3)
        val jobs = new java.util.concurrent.atomic.AtomicLong()
        val tasks = new java.util.concurrent.atomic.AtomicLong()
        val taskMs = new java.util.concurrent.atomic.AtomicLong()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
          override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            tasks.incrementAndGet()
            if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
          }
        })
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          (0 to passes).foreach { i =>
            jobs.set(0); tasks.set(0); taskMs.set(0)
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val wall = (System.nanoTime() - t0) / 1e9
            println(f"JOBS $n%-24s pass=$i wall=$wall%7.3f jobs=${jobs.get()}%4d tasks=${tasks.get()}%5d taskTime=${taskMs.get() / 1e3}%8.2fs")
          }
        }
      case "components" =>
        // Both components paths, the driver union-find and the star
        // contraction, on generated duplicate graphs:
        // args(3) = comma-separated edge counts, args(4) = the shape of
        // each component, doc ids scattered over [0, 2^40):
        //   clique=K  K-document near-duplicate clusters (4: 6 edges a
        //             cluster; 2: disjoint pairs, 2 result rows an edge);
        //   chain=L   paths of L links (diameter L: mirror farms, quote
        //             cascades);
        //   tree=T    random recursive trees of T documents, each after
        //             the first linked to a uniformly drawn earlier one.
        // Per path: wall ms (pass 0 is the warm-up), jobs, and the JVM
        // heap the local driver and executors share, on the last pass:
        // pool peaks summed (garbage included) and what stays after a GC
        // while the result is held; for the driver path also the local
        // relation's size and Spark's estimate of it, which broadcasting
        // compares with spark.sql.autoBroadcastJoinThreshold.
        import scala.jdk.CollectionConverters._
        val sizes = args.lift(3).getOrElse("10000,100000,1000000").split(",").map(_.toLong)
        val shape = args.lift(4).getOrElse("clique=4")
        val Array(kind, arg) = shape.split("=")
        val k = arg.toInt
        // edge j of a component links local documents a(j) and b(j)
        val (edgesPer, docsPer, a, b) = kind match {
          case "clique" =>
            val (xs, ys) = (for (x <- 0 until k; y <- x + 1 until k) yield (x, y)).unzip
            def at(local: Seq[Int])(j: Column) = element_at(typedLit(local), (j + 1).cast("int"))
            (xs.length, k, at(xs) _, at(ys) _)
          case "chain" => (k, k + 1, (j: Column) => j, (j: Column) => j + 1)
          case "tree" => (k - 1, k, (j: Column) => pmod(xxhash64(col("id")), j + 1), (j: Column) => j + 1)
        }
        def node(local: Column => Column) = pmod(
          (floor(col("id") / edgesPer) * docsPer + local(col("id") % edgesPer)) * 2654435761L,
          lit(1L << 40))
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        })
        def settledJobs(): Int = {
          var (last, now) = (-1, jobs.get())
          while (now != last) { Thread.sleep(300); last = now; now = jobs.get() }
          now
        }
        val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
        def usedAfterGc(): Long = { System.gc(); pools.map(_.getUsage.getUsed).sum }
        val mb = (bytes: Long) => f"${bytes / 1048576.0}%.1f"
        val paths = Seq[(String, DataFrame => DataFrame)](
          "driver" -> (p => NearDedup.duplicateClusters(p, Long.MaxValue)),
          "star" -> (p => NearDedup.duplicateClusters(p, 0)))
        sizes.foreach { n =>
          val pairs = spark.range(n).select(node(a).as("id_a"), node(b).as("id_b")).localCheckpoint()
          for ((path, cc) <- paths) {
            val runs = (0 to passes).map { _ =>
              val base = usedAfterGc()
              pools.foreach(_.resetPeakUsage())
              val jobs0 = settledJobs()
              val t0 = System.nanoTime()
              val out = cc(pairs)
              out.write.format("noop").mode("overwrite").save()
              val ms = (System.nanoTime() - t0) / 1e6
              val peak = pools.map(_.getPeakUsage.getUsed).sum - base
              val held = usedAfterGc() - base
              (ms, settledJobs() - jobs0, peak, held, out)
            }
            val (_, nJobs, peak, held, out) = runs.last
            val local = out.queryExecution.analyzed.collectFirst {
              case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
                s" rows=${l.data.length} local_mb=${mb(org.apache.spark.util.SizeEstimator.estimate(l.data))}" +
                  s" estimate_mb=${mb(out.queryExecution.optimizedPlan.stats.sizeInBytes.toLong)}"
            }.getOrElse("")
            println(f"COMP $shape%-10s edges=$n%-8d $path%-9s min_ms=${runs.tail.map(_._1).min}%9.0f " +
              s"all_ms=${runs.map(r => f"${r._1}%.0f").mkString(",")} jobs=$nJobs " +
              s"peak_mb=${mb(peak)} held_mb=${mb(held)}$local")
          }
        }
      case other =>
        System.err.println(s"unknown section $other")
    }
    spark.stop()
  }
}
