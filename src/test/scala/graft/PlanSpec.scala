package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard: the plan shapes §6/§8 of SURVEY.md
  * claim are asserted here so a future edit can't silently trade a
  * broadcast for a shuffle or introduce an unintended cross join. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // brute-force scorers intentionally cross-join against a broadcast
  // query/centroid/benchmark set — d_semdedup and d_decontam_semantic
  // join a SINGLE packed broadcast row (the IVF-assignment idiom)
  // (s_ann_lsh and d_embed_dup_lsh are NOT here: their banded bucket
  // joins must stay equi-joins)
  private val intentionalCross =
    Set("d_embed_dup", "s_ann_topk", "s_ann_ivf", "s_ann_ivf_kmeans", "s_hybrid",
      "s_ann_ivf_index", "d_semdedup", "d_decontam_semantic",
      // the census estimates against ONE broadcast sketch row (the
      // packed-broadcast idiom): a 1×topK nested loop, never corpus²
      "t_vocab_cms",
      // retrieval scorers join ONE broadcast corpus-stats row
      // (n_docs / avgdl) onto the query-workload-sized term table —
      // a 1×|query terms| nested loop; the corpus-side joins stay
      // broadcast HASH joins (pinned in RetrievalSpec)
      "s_search", "s_search_bm25",
      // triplet mining's easy-negative draw crosses the corpus keys
      // against the broadcast 3-row query list before the anti-join —
      // 1×|workload|, never corpus²; the scorer joins stay hash
      "s_triplets",
      // PQ: the ADC scan crosses the corpus codes against the
      // broadcast per-query lookup tables (the brute-force-scorer
      // idiom — nQueries rows, never corpus²); IVFADC adds the
      // centroid probe cross (queries × broadcast centroids) but its
      // code scan joins EQUI on the probed cell
      "s_ann_pq", "s_ann_ivf_pq",
      // the resample grid: generated hour spine × the tiny
      // distinct-series set — series-count rows, never event-count
      "q_resample",
      // single-broadcast-row statistics crosses (the packed-broadcast
      // idiom again): med/mad (anomaly), totals (skew profile,
      // pareto — plus its 4-row threshold list), max-day (trending),
      // spend [min,max] + n_total (quartiles' hierarchical bucket
      // rank). Each is a 1×N nested loop against one reduced row,
      // never N²
      "q_anomaly", "q_skew_profile", "q_pareto", "q_trending",
      "q_spend_quartiles",
      // PMI totals: the token and bigram grand totals (one reduced
      // row each) cross onto the vocabulary-sized bigram table —
      // 1×|vocab| nested loops; the unigram joins stay equi-joins
      "t_collocations")

  test("no unintended cartesian products in any registered query") {
    for (name <- SparkEntry.queries.keys if !intentionalCross(name)
         if name != "d_clean_corpus") { // iterative driver loop, checked separately
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join:\n$p")
    }
  }

  test("q5 broadcasts every dimension (single fact-fact shuffle)") {
    val p = planOf("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"a dimension join fell back to shuffle:\n$p")
  }

  test("ingest pushes filters into the parquet scan") {
    val p = planOf("q_ingest_clean")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
  }

  test("pricing summary is partial+final aggregation with one data shuffle") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    // exchanges: one for the agg, one for the output sort — no more
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("broadcast CDC merge never shuffles the base table") {
    val p = planOf("q_cdc_merge_bcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"the base side fell back to a shuffle join:\n$p")
  }

  test("reconcile fix-up is one keyed join (no separate anti-join pass)") {
    val p = planOf("q_reconcile_fixup")
    // exactly one join: the full-outer merge where the file side wins
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(p).length
    assert(joins === 1, s"expected 1 join, got $joins:\n$p")
    // one shuffle per side + the output range sort — no more
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$p")
  }

  test("as-of join prunes matches before the ranking window") {
    assert(planOf("q_asof_order").contains("WindowGroupLimit"))
  }

  test("top-k windows prune partially before the shuffle (WindowGroupLimit)") {
    // without it, each query/customer/source becomes one corpus-sized
    // partition at the rank step
    for (name <- Seq("s_ann_topk", "s_ann_lsh", "s_ann_ivf", "q_window_rank",
        "t_domain_cap", "t_top_terms", "t_reservoir"))
      assert(planOf(name).contains("WindowGroupLimit"), s"$name lost rank pruning")
  }

  test("tokenize-ids maps the corpus through a broadcast vocab join") {
    // the id map is vocabulary-sized: a SortMergeJoin here would
    // shuffle every exploded token of a 100 TB corpus on its string key
    val p = planOf("t_tokenize_ids")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"vocab lookup fell back to shuffle:\n$p")
  }

  test("shuffle-shard ranks inside shard partitions, never globally") {
    // the rank window must partition by shard (per-shard local sorts);
    // an unpartitioned WindowExec would serialize the whole corpus
    // through one task
    val p = planOf("t_shuffle_shard")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p)
  }

  test("compression scoring is a pure projection — only the output sort exchanges") {
    val p = planOf("t_compress")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"deflate scoring must not shuffle:\n$p")
  }

  test("gopher rules are a pure projection — only the output sort exchanges") {
    val p = planOf("t_gopher")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"per-doc rule evaluation must not shuffle:\n$p")
  }

  test("corpus split is a pure projection — only the output sort exchanges") {
    val p = planOf("t_split")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"split assignment must not shuffle data:\n$p")
  }

  test("q_monthly_growth's global window runs on a pre-aggregated month series") {
    // the unpartitioned lag window (WindowExec single-partition
    // warning in bench logs) is INTENTIONAL: its input is the
    // month-level aggregate — bounded cardinality at any input scale —
    // never the raw orders scan
    val p = planOf("q_monthly_growth")
    assert(p.contains("Window"), p)
    // top-down plan print: the aggregate must sit BELOW the window
    // (appear after it), i.e. the window consumes aggregated months,
    // never the raw orders scan
    assert(p.indexOf("Window") >= 0 && p.indexOf("HashAggregate") > p.indexOf("Window"),
      s"global window must consume the month aggregate:\n$p")
  }

  test("IVF assignment is shuffle-free: only the per-query rank window remains") {
    // nearest-cell assignment is a packed-centroid projection; the
    // window formulation it replaced shuffled a xkCells corpus
    // expansion per assignment
    for (name <- Seq("s_ann_ivf", "s_ann_ivf_kmeans")) {
      val p = planOf(name)
      // remaining windows (probe ranking, final top-k) all partition by
      // query_id — query-sized or candidate-sized inputs. A window
      // partitioned by vec_id would mean the corpus expansion shuffle
      // is back.
      assert(!p.contains("windowspecdefinition(vec_id"),
        s"$name: corpus-side window crept back in:\n$p")
    }
  }

  test("ANN queries use the native dot product expression") {
    assert(planOf("s_ann_topk").contains("dotproductf"))
    assert(planOf("d_embed_dup").contains("dotproductf"))
    assert(planOf("d_embed_dup_lsh").contains("dotproductf"))
  }

  test("per-doc text operators are pure projections — only the output sort exchanges") {
    // scoring/scrubbing/sampling must never shuffle the corpus: at
    // 100 TB any exchange here dominates the job
    for (name <- Seq("t_pii", "t_sample", "t_repetition", "t_quality_model", "t_chunks")) {
      val p = planOf(name)
      assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
        s"$name grew a join/aggregate:\n$p")
      val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).length
      assert(exchanges <= 1, s"$name must not shuffle data:\n$p")
    }
  }

  test("t_budget running sum is hierarchical: no source-only window over the raw corpus") {
    val p = planOf("t_budget")
    // the per-document window partitions by (source, shard): shard-level
    // parallelism inside a source instead of one reducer per source
    assert("windowspecdefinition\\(source#\\d+, shard#\\d+L?, doc_id".r.findFirstIn(p).isDefined, p)
    // a window partitioned by source alone and ordered by doc_id would
    // mean the whole-source sequential scan is back; the only
    // source-partitioned window orders by shard (the per-shard totals
    // table — one row per shard, not per document)
    assert("windowspecdefinition\\(source#\\d+, doc_id".r.findFirstIn(p).isEmpty,
      s"source-only running sum over raw documents crept back:\n$p")
    // the shard-totals aggregate feeding the offset window exists
    assert(p.contains("HashAggregate"), p)
  }

  test("spend rank reports are hierarchical: no global window over the customer table") {
    for (name <- Seq("q_spend_quartiles", "q_pareto")) {
      val p = planOf(name)
      // the per-customer window partitions by bucket — bucket-level
      // parallelism instead of one reducer for the whole dimension
      assert("windowspecdefinition\\(bucket#\\d+L?, spend#".r.findFirstIn(p).isDefined,
        s"$name lost the bucket-local window:\n$p")
      // a window ordered by spend with NO partition column would be the
      // single-reducer global rank creeping back; the only unpartitioned
      // window orders the bucket TOTALS (nBuckets rows)
      assert("windowspecdefinition\\(spend#".r.findFirstIn(p).isEmpty,
        s"$name global spend window crept back:\n$p")
      assert("windowspecdefinition\\(bucket#\\d+L? ASC".r.findFirstIn(p).isDefined,
        s"$name bucket-offset window missing:\n$p")
    }
  }

  test("quality model and repetition scoring use the native censuses") {
    assert(planOf("t_repetition").contains("repetitionstats"))
    val p = planOf("t_quality_model")
    assert(p.contains("repetitionstats") && p.contains("charclasscounts")
      && p.contains("wordsetscores"), p)
  }

  test("temperature mix broadcasts source stats; selection window is post-prefilter") {
    // the stats join must broadcast (source-cardinality rows) — a
    // SortMergeJoin would shuffle the whole corpus on source; the
    // rank window partitions by source but runs AFTER the hash-
    // threshold filter, so its input is survivor-sized
    val p = planOf("t_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"stats join fell back to shuffle:\n$p")
  }

  test("url dedup windows by canonical URL — duplicate-group-sized partitions") {
    val p = planOf("d_url_dedup")
    assert(p.contains("hashpartitioning(canon_url"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("bucketed tables join with ZERO Exchange on either side") {
    // publish both sides bucketed on the join key, then pin the
    // co-located plan: SortMergeJoin fed by bucketed scans, no
    // shuffle anywhere in the join subtree
    operators.ReferenceOps.bucketJoinRevenue(spark, sf).collect()
    val join = operators.ReferenceOps.bucketedJoin(spark, sf)
    val p = join.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), s"bucketed join shuffled:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p)
  }

  test("bucket-join revenue rewrites both bucketed tables at one location per data dir") {
    def locations(): Set[String] = {
      operators.ReferenceOps.bucketJoinRevenue(spark, sf).collect()
      operators.ReferenceOps.bucketedJoin(spark, sf).inputFiles
        .map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).toSet
    }
    val first = locations()
    assert(first.size === 2, first)
    assert(locations() === first)
  }

  test("domain filter and boilerplate removal join through broadcasts only") {
    // the blocklist and the frequent-line set are both small-by-
    // construction: a SortMergeJoin would shuffle every host suffix /
    // corpus line on its string key
    for (name <- Seq("t_domain_filter", "t_boilerplate")) {
      val p = planOf(name)
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast:\n$p")
    }
    // the removal pass specifically must be a broadcast ANTI join
    assert(planOf("t_boilerplate").contains("LeftAnti, BuildRight"),
      planOf("t_boilerplate"))
  }

  test("catalog chain-head reads push filters down to the base parquet scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a chained store: base + one MoR link, read through the catalog —
    // the inlined merged plan (plans.GraftScanInline) must sink a
    // date-range predicate into the BASE scan (at 100× the base
    // dominates; filtering above the relation re-reads every base byte)
    val t = graft.util.Scratch.dir("plan_pushdown") + "/t"
    val rows = (1L to 200L).map(i =>
      (i, java.sql.Date.valueOf(f"2024-${(i % 12 + 1)}%02d-15"), s"v$i"))
      .toDF("k", "d", "s")
    graft.sources.Sinks.publishSnapshot(rows, "d", t, retainVersions = 4)
    graft.sources.DeletionVectors.publishUpsert(spark, t,
      Seq((999L, java.sql.Date.valueOf("2024-03-20"), "new")).toDF("k", "d", "s"),
      "k", Seq.empty[Long].toDF("k"), validate = false)
    val out = spark.sql(
      s"SELECT k, s FROM graft.`$t` WHERE d >= DATE'2024-03-01' AND d < DATE'2024-04-01'")
    val got = out.collect()
    // correctness first: exactly the March rows, the chain link included
    assert(got.map(_.getLong(0)).toSet ===
      (1L to 200L).filter(_ % 12 == 2).toSet + 999L)
    // the merged plan is INLINED into the consuming query (no V1-bridge
    // RDD seam), so the OUTER physical plan itself must show the pushed
    // range on the base parquet scan
    val phys = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }
    val p = phys.toString
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThanOrEqual(d"),
      s"date range not pushed to the base scan:\n$p")
    assert(phys.find(_.isInstanceOf[
        org.apache.spark.sql.execution.RowDataSourceScanExec]).isEmpty,
      s"the catalog read still crosses the V1 bridge:\n$p")
  }

  test("chain-head scans report statistics; small dimension heads auto-broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a SMALL chained store (base + MoR link) read through the catalog:
    // without scan statistics Spark prices a V2 scan at
    // defaultSizeInBytes (= never broadcast), so a dimension head
    // would sort-merge against any fact side regardless of its size
    val t = graft.util.Scratch.dir("plan_stats") + "/t"
    val rows = (1L to 50L).map(i =>
      (i, java.sql.Date.valueOf("2024-03-15"), s"v$i")).toDF("k", "d", "s")
    graft.sources.Sinks.publishSnapshot(rows, "d", t, retainVersions = 4)
    graft.sources.DeletionVectors.publishUpsert(spark, t,
      Seq((999L, java.sql.Date.valueOf("2024-03-20"), "x")).toDF("k", "d", "s"),
      "k", Seq.empty[Long].toDF("k"), validate = false)
    // 1) the catalog read is PRICED: the inlined merged plan derives
    // its size from the parquet relations (a stats-less V2 scan would
    // surface defaultSizeInBytes = Long.MaxValue here)
    val read = spark.sql(s"SELECT k, s FROM graft.`$t`")
    val size = read.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < BigInt(1 << 20),
      s"chain-head read priced at $size — statistics not flowing")
    // 2) joined against a clearly larger side, the CHAIN HEAD is the
    // broadcast build side (both sides fit the threshold, so the
    // planner builds on the smaller — only true if the head's size
    // is known)
    val fact = spark.range(0, 200000)
      .select((col("id") % 50 + 1).as("k"), (col("id") * 2).as("m"))
    val joined = fact.join(read, "k")
    joined.collect()
    // AQE nests the final plan in query stages; flatten across them
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    val nodes = flatten(joined.queryExecution.executedPlan)
    val bhj = nodes.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      s"expected a broadcast hash join:\n${joined.queryExecution.executedPlan}")
    val build = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => bhj.head.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.head.right
    }
    // the build side is the INLINED chain head — its parquet scans
    // carry the store's path
    assert(flatten(build).mkString("\n").contains("plan_stats"),
      s"the chain head must be the broadcast build side:\n${bhj.head}")
  }

  test("inlined chain heads survive self-joins and mixed live/pinned reads") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = graft.util.Scratch.dir("plan_selfjoin") + "/t"
    val rows = (1L to 30L).map(i =>
      (i, java.sql.Date.valueOf("2024-03-15"), i * 1.0)).toDF("k", "d", "p")
    graft.sources.Sinks.publishSnapshot(rows, "d", t, retainVersions = 100)
    graft.sources.DeletionVectors.publishUpsert(spark, t,
      Seq((31L, java.sql.Date.valueOf("2024-03-20"), 31.0)).toDF("k", "d", "p"),
      "k", Seq.empty[Long].toDF("k"), validate = false) // v2: chain head
    // SELF-JOIN through the catalog: each occurrence inlines a FRESH
    // merged plan (distinct expression ids) — ambiguous-attribute
    // breakage here is exactly what the per-occurrence rebuild prevents
    val selfJoin = spark.sql(
      s"SELECT a.k, b.k AS succ FROM graft.`$t` a JOIN graft.`$t` b ON b.k = a.k + 1")
    assert(selfJoin.count() == 30L) // 1→2 … 30→31, the link row included
    // live JOIN pinned: v2's head joined to the v1 state it grew from —
    // the two reads bind different versions of the SAME store in one plan
    val mixed = spark.sql(
      s"SELECT live.k FROM graft.`$t` live LEFT ANTI JOIN " +
      s"(SELECT k FROM graft.`$t` VERSION AS OF 1) old ON live.k = old.k")
    assert(mixed.as[Long].collect().toSeq == Seq(31L),
      "the anti-join of head vs v1 must isolate exactly the link's insert")
  }

  test("a self-join pays ONE nested chain optimization (per-run plan cache)") {
    import spark.implicits._
    val t = graft.util.Scratch.dir("plan_inline_cache") + "/t"
    val rows = (1L to 30L).map(i =>
      (i, java.sql.Date.valueOf("2024-03-15"), i * 1.0)).toDF("k", "d", "p")
    graft.sources.Sinks.publishSnapshot(rows, "d", t, retainVersions = 100)
    graft.sources.DeletionVectors.publishUpsert(spark, t,
      Seq((31L, java.sql.Date.valueOf("2024-03-20"), 31.0)).toDF("k", "d", "p"),
      "k", Seq.empty[Long].toDF("k"), validate = false) // v2: chain head
    val q = spark.sql(
      s"SELECT a.k, b.k AS succ FROM graft.`$t` a JOIN graft.`$t` b ON b.k = a.k + 1")
    val before = graft.plans.GraftScanInline.innerOptimizations.get()
    q.queryExecution.optimizedPlan // force ONE optimizer run
    val paid = graft.plans.GraftScanInline.innerOptimizations.get() - before
    assert(paid == 1L,
      s"two occurrences of the same (path, version) must share one inner " +
      s"optimization (re-aliased copy for the second), paid $paid")
    // the re-aliased copy binds unambiguously and answers correctly
    assert(q.count() == 30L)
    // a THREE-way self-reference still pays one
    val q3 = spark.sql(
      s"SELECT COUNT(*) AS n FROM graft.`$t` a, graft.`$t` b, graft.`$t` c " +
      "WHERE b.k = a.k + 1 AND c.k = b.k + 1")
    val b3 = graft.plans.GraftScanInline.innerOptimizations.get()
    q3.queryExecution.optimizedPlan
    assert(graft.plans.GraftScanInline.innerOptimizations.get() - b3 == 1L)
    assert(q3.as[Long].head() == 29L)
  }
}
