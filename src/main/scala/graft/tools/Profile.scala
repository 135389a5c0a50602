package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
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
        val quality = TextOps.qualityScoreOf(docs)
          .filter(col("n_tokens") >= 5 && col("alpha_ratio") >= 0.5)
          .select("doc_id")
        time("quality")(quality)
        val qualified = docs.join(quality, "doc_id")
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
      case "ppjoin" =>
        val docs = Tables.documents(spark, sfDir)
        val threshold = 0.5
        val sh = NearDedup.shingles(docs)
        time("shingles")(sh)
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        time("freq")(freq)
        val p = 500000L
        val prefixLen = expr(s"cast(nsh - ((nsh * ${p}L + 999999L) div 1000000L) + 1 as int)")
        val sets = sh.join(freq, "shingle")
          .groupBy("doc_id")
          .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("fs"))
          .withColumn("s", transform(col("fs"), x => x.getField("shingle")))
          .withColumn("nsh", size(col("s")).cast(org.apache.spark.sql.types.LongType))
          .withColumn("prefix",
            transform(slice(col("fs"), lit(1), prefixLen), x => x.getField("shingle")))
        time("sets")(sets)
        val indexed = sets.select(col("doc_id"), col("nsh"), posexplode(col("prefix")))
          .select(col("doc_id"), col("nsh"), col("pos").cast("long").as("pos"),
            col("col").as("shingle"))
        time("indexed")(indexed)
        val cand = indexed.as("a").join(indexed.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
            col("a.nsh") * 1000000L >= col("b.nsh") * p &&
            col("b.nsh") * 1000000L >= col("a.nsh") * p &&
            expr(s"1L + least(a.nsh - 1L - a.pos, b.nsh - 1L - b.pos) >= " +
              s"((a.nsh + b.nsh) * ${p}L + ${1000000L + p - 1L}L) div ${1000000L + p}L"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        time("candidates")(cand)
        time("pairs_full")(NearDedup.ngramJaccardOf(docs, threshold))
      case "aqe" =>
        // compare queries with AQE on vs off: args(3..) = query names
        val names = args.drop(3)
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          Seq("true", "false", "true", "false").zipWithIndex.foreach { case (aqe, i) =>
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            val times = (0 until passes).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }
            println(f"AQE $n%-24s aqe=$aqe%-5s round=$i min=${times.min}%7.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
          }
          spark.conf.set("spark.sql.adaptive.enabled", "true")
        }
      case "minpart" =>
        // A/B spark.sql.adaptive.coalescePartitions.minPartitionSize:
        // args(3) = size values (comma list), args(4..) = query names
        val sizes = args(3).split(",").toSeq
        val names = args.drop(4)
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          (sizes ++ sizes.reverse).foreach { sz =>
            spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", sz)
            val times = (0 until passes).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }
            println(f"MINPART $n%-24s sz=$sz%-6s min=${times.min}%7.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
          }
          spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        }
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
      case "ppjoin2" =>
        val docs = Tables.documents(spark, sfDir)
        val threshold = 0.5
        val p = math.round(threshold * 1000000L)
        def pairsCkpt(eager: Boolean): DataFrame = {
          val prefixLen = expr(s"cast(nsh - ((nsh * ${p}L + 999999L) div 1000000L) + 1 as int)")
          val sh = NearDedup.shingles(docs)
          val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          val sets = sh.join(freq, "shingle")
            .groupBy("doc_id")
            .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("fs"))
            .withColumn("s", transform(col("fs"), x => x.getField("shingle")))
            .withColumn("nsh", size(col("s")).cast(org.apache.spark.sql.types.LongType))
            .withColumn("prefix",
              transform(slice(col("fs"), lit(1), prefixLen), x => x.getField("shingle")))
            .drop("fs")
            .localCheckpoint(eager)
          val indexed = sets.select(col("doc_id"), col("nsh"), posexplode(col("prefix")))
            .select(col("doc_id"), col("nsh"), col("pos").cast("long").as("pos"),
              col("col").as("shingle"))
          val cand = indexed.as("a").join(indexed.as("b"),
              col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
              col("a.nsh") * 1000000L >= col("b.nsh") * p &&
              col("b.nsh") * 1000000L >= col("a.nsh") * p &&
              expr(s"1L + least(a.nsh - 1L - a.pos, b.nsh - 1L - b.pos) >= " +
                s"((a.nsh + b.nsh) * ${p}L + ${1000000L + p - 1L}L) div ${1000000L + p}L"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .distinct()
          cand
            .join(sets.select(col("doc_id").as("id_a"), col("s").as("s_a"), col("nsh").as("n_a")), "id_a")
            .join(sets.select(col("doc_id").as("id_b"), col("s").as("s_b"), col("nsh").as("n_b")), "id_b")
            .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(org.apache.spark.sql.types.LongType))
            .filter(col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")) >= threshold)
            .select("id_a", "id_b")
        }
        time("pairs_baseline")(NearDedup.ngramJaccardOf(docs, threshold))
        time("pairs_sets_ckpt_lazy")(pairsCkpt(false))
        time("pairs_sets_ckpt_eager")(pairsCkpt(true))
        time("pairs_baseline_again")(NearDedup.ngramJaccardOf(docs, threshold))
      case "ppjoin3" =>
        // A/B the shingle-chain exchange shape: baseline (distinct on
        // (doc,shingle) → freq reshuffle → join reshuffle) vs a single
        // up-front repartition(shingle) that the distinct, the freq
        // aggregation, and the freq join can all ride (hash on a SUBSET
        // of the grouping keys satisfies ClusteredDistribution).
        val docs = Tables.documents(spark, sfDir)
        val threshold = 0.5
        val p = math.round(threshold * 1000000L)
        def pairsRepart(): DataFrame = {
          val prefixLen = expr(s"cast(nsh - ((nsh * ${p}L + 999999L) div 1000000L) + 1 as int)")
          val words = split(
            regexp_replace(lower(col("text")), "^\\s+|\\s+$", ""), "\\s+")
          val raw = docs
            .select(col("doc_id"), words.as("w"))
            .filter(size(col("w")) >= 3)
            .select(col("doc_id"), col("w"),
              explode(sequence(lit(0), size(col("w")) - 3)).as("i"))
            .select(col("doc_id"),
              xxhash64(concat_ws(" ", slice(col("w"), col("i") + 1, lit(3)))).as("shingle"))
          val sh = raw.repartition(col("shingle")).distinct()
          val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          val sets = sh.join(freq, "shingle")
            .groupBy("doc_id")
            .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("fs"))
            .withColumn("s", transform(col("fs"), x => x.getField("shingle")))
            .withColumn("nsh", size(col("s")).cast(org.apache.spark.sql.types.LongType))
            .withColumn("prefix",
              transform(slice(col("fs"), lit(1), prefixLen), x => x.getField("shingle")))
          val indexed = sets.select(col("doc_id"), col("nsh"), posexplode(col("prefix")))
            .select(col("doc_id"), col("nsh"), col("pos").cast("long").as("pos"),
              col("col").as("shingle"))
          val cand = indexed.as("a").join(indexed.as("b"),
              col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
              col("a.nsh") * 1000000L >= col("b.nsh") * p &&
              col("b.nsh") * 1000000L >= col("a.nsh") * p &&
              expr(s"1L + least(a.nsh - 1L - a.pos, b.nsh - 1L - b.pos) >= " +
                s"((a.nsh + b.nsh) * ${p}L + ${1000000L + p - 1L}L) div ${1000000L + p}L"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .distinct()
          cand
            .join(sets.select(col("doc_id").as("id_a"), col("s").as("s_a"), col("nsh").as("n_a")), "id_a")
            .join(sets.select(col("doc_id").as("id_b"), col("s").as("s_b"), col("nsh").as("n_b")), "id_b")
            .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(org.apache.spark.sql.types.LongType))
            .filter(col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")) >= threshold)
            .select("id_a", "id_b")
        }
        time("pairs_baseline")(NearDedup.ngramJaccardOf(docs, threshold))
        time("pairs_repart_shingle")(pairsRepart())
        time("pairs_baseline_again")(NearDedup.ngramJaccardOf(docs, threshold))
        time("pairs_repart_again")(pairsRepart())
        val nb = NearDedup.ngramJaccardOf(docs, threshold).count()
        val nr = pairsRepart().count()
        val diff = NearDedup.ngramJaccardOf(docs, threshold)
          .except(pairsRepart()).count() +
          pairsRepart().except(NearDedup.ngramJaccardOf(docs, threshold)).count()
        println(s"PPJOIN3 baseline=$nb repart=$nr symmetric_diff=$diff")
      case "components" =>
        // The three components paths on generated duplicate graphs:
        // args(3) = comma-separated edge counts, args(4) = clique size
        // (4: 6 edges a cluster; 2: disjoint pairs, 2 result rows an
        // edge), doc ids scattered over [0, 2^40). Per path: wall ms
        // (pass 0 is the warm-up), jobs, and the JVM heap the local
        // driver and executors share, on the last pass: pool peaks
        // summed (garbage included) and what stays after a GC while the
        // result is held; for the driver path also the local relation's
        // size and Spark's estimate of it, which broadcasting compares
        // with spark.sql.autoBroadcastJoinThreshold.
        import scala.jdk.CollectionConverters._
        val sizes = args.lift(3).getOrElse("10000,100000,1000000").split(",").map(_.toLong)
        val clique = args.lift(4).fold(4)(_.toInt)
        val (xs, ys) = (for (x <- 0 until clique; y <- x + 1 until clique) yield (x, y)).unzip
        def node(local: Seq[Int]) = pmod(
          (floor(col("id") / xs.length) * clique +
            element_at(typedLit(local), (col("id") % xs.length + 1).cast("int"))) * 2654435761L,
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
          "min_label" -> (p => NearDedup.duplicateClusters(p, 0)),
          "star" -> (p => NearDedup.duplicateClustersStar(p, 0)))
        sizes.foreach { n =>
          val pairs = spark.range(n).select(node(xs).as("id_a"), node(ys).as("id_b")).localCheckpoint()
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
            println(f"COMP clique=$clique edges=$n%-8d $path%-9s min_ms=${runs.tail.map(_._1).min}%9.0f " +
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
