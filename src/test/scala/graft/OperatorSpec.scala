package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Semantic invariants per operator — the properties the DuckDB hash
  * compare can't express (CDC matrix coverage, LSH recall, simhash
  * locality, dedup ground truth on constructed inputs). */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("cdc merge exercises the full reference decision matrix") {
    val outcomes = Cdc.mergeStats(spark, sf).collect().map(_.getString(0)).toSet
    val expected = Set(
      "add_and_added", "change_but_missing_and_added", "delete_but_missing_and_ignored",
      "unchanged", "unchanged_deleted",
      "add_but_deleted_and_changed", "change_but_deleted_and_ignored",
      "delete_but_deleted_and_ignored",
      "add_but_already_identical_and_ignored", "add_but_changed",
      "change_but_already_identical_and_ignored", "change_and_changed",
      "delete_and_deleted", "delete_but_not_identical_and_changed_and_deleted")
    assert(expected.subsetOf(outcomes), s"missing: ${expected -- outcomes}")
  }

  test("cdc merge: deleted rows keep data, adds resurrect, stats sum to merge inputs") {
    val m = Cdc.mergeResult(spark, sf)
    // soft delete: no nulls in price even for deleted rows
    assert(m.filter(col("price").isNull).count() === 0)
    val resurrected = m.filter(col("outcome") === "add_but_deleted_and_changed")
    assert(resurrected.filter(col("is_deleted") =!= "F").count() === 0)
  }

  test("generic Reconcile.fixUp: multi-column repair with null-safe comparison") {
    val db = Seq(
      ("K1", Some(100L), Some("a")),  // identical in file → kept
      ("K2", Some(200L), Some("b")),  // price differs → updated
      ("K3", Some(300L), None),       // both null in col2 → identical → kept
      ("K4", Some(400L), Some("d"))   // absent from file → kept
    ).toDF("k", "price", "tag")
    val file = Seq(
      ("K1", Some(100L), Some("a")),
      ("K2", Some(250L), Some("b")),
      ("K3", Some(300L), None),
      ("K5", Some(500L), Some("e"))   // absent from db → inserted
    ).toDF("k", "price", "tag")
    val out = Reconcile.fixUp(db, file, "k", Seq("price", "tag"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getString(3)))).toMap
    assert(out("K1") === ((Some(100L), Some("a"), "kept")))
    assert(out("K2") === ((Some(250L), Some("b"), "updated"))) // file price wins
    assert(out("K3") === ((Some(300L), None, "kept")))          // null <=> null
    assert(out("K4") === ((Some(400L), Some("d"), "kept")))
    assert(out("K5") === ((Some(500L), Some("e"), "inserted")))
    assert(out.size === 5)
    // counts agrees on the same inputs: K1 and K3 (null <=> null)
    // match; K2 differs on price, K4/K5 are one-sided
    val c = Reconcile.counts(db, file, Seq("k", "price", "tag")).head()
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) === ((2L, 2L, 2L)))
  }

  test("reconcile fix-up: file side wins per key — update, insert, keep") {
    val out = ReferenceOps.reconcileFixUp(spark, sf)
    val actions = out.select("k", "fix_action").as[(Long, String)].collect().toMap
    actions.foreach { case (k, a) =>
      // db drops %31 keys + perturbs %37 prices; file drops %41 keys —
      // so the file contradicts exactly the perturbed and missing keys
      val expected =
        if (k % 41 == 0) "kept" // not in file → nothing to apply
        else if (k % 31 == 0) "inserted"
        else if (k % 37 == 0) "updated"
        else "kept"
      assert(a === expected, s"k=$k")
    }
    // repaired rows carry the FILE's price (the unperturbed total)
    val truth = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast("double").as("file_price"))
    val fixedWrong = out.filter(col("fix_action").isin("updated", "inserted"))
      .join(truth, "k").filter(col("price") =!= col("file_price"))
    assert(fixedWrong.count() === 0)
  }

  test("file decision: first file of a series is always archived") {
    val first = ReferenceOps.fileDecision(spark, sf)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("event_id")))
      .filter(col("rn") === 1)
    assert(first.filter(col("data_decision") =!= "archive").count() === 0)
  }

  test("reconcile counts are consistent with the derived tables") {
    val Row(both: Long, dbOnly: Long, fileOnly: Long) =
      ReferenceOps.reconcile(spark, sf).collect()(0)
    val orders = graft.sources.Tables.orders(spark, sf)
    val nDb = orders.filter(col("o_orderkey") % 31 =!= 0).count()
    val nFile = orders.filter(col("o_orderkey") % 41 =!= 0).count()
    assert(both + dbOnly === nDb)
    assert(both + fileOnly === nFile)
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val nearDup = base.replace("lazy", "sleepy")   // one token differs
    val other = "completely different content about spark engines and shuffles " * 5
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val sh = NearDedup.shingles(docs)
    val cand = NearDedup.minHashCandidates(NearDedup.minHashSignatures(sh))
    val pairs = NearDedup.jaccard(sh, cand).filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: near-identical docs collide, unrelated do not") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token30", "tokenX")
    val other = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val hashes = NearDedup.simHashes(docs).as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hashes(1L), hashes(2L)) < hamming(hashes(1L), hashes(3L)))
  }

  test("ann brute force: neighbors are ranked by true cosine") {
    val rows = SimilarityOps.annBruteForce(spark, sf, nQueries = 2, k = 5).collect()
    assert(rows.length === 10)
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet === Set(0L, 1L))
    byQuery.values.foreach { g => assert(g.map(_.getLong(1)).sorted.sameElements(1L to 5L)) }
  }

  test("ann LSH finds planted near-identical neighbors") {
    // two tight clusters + noise: vectors 0-4 ≈ e1, vectors 10-14 ≈ e2.
    // Near-identical vectors agree on every sign bit, so they collide
    // in EVERY band and the cluster-mates must all be recovered.
    def v(base: Int, jitter: Float) =
      Array.tabulate(8)(i => (if (i == base) 1.0f else 0.0f) + (if (i == 7) jitter else 0f))
    val rows = (0 until 5).map(i => (i.toLong, v(0, i * 0.01f))) ++
               (10 until 15).map(i => (i.toLong, v(1, (i - 10) * 0.01f)))
    val df = rows.toDF("vec_id", "embedding")
    val lsh = SimilarityOps.annLshOf(df, nQueries = 1, k = 4, nBands = 4, nPlanes = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(lsh === Set(1L, 2L, 3L, 4L), s"expected cluster-mates of query 0, got $lsh")
  }

  test("quality gate: scalar checks share one pass, uniqueness counts extras, nulls violate domains") {
    import graft.operators.QualityGate._
    val df = Seq(
      (Some(1L), Some("A"), 10L),
      (Some(1L), Some("B"), -5L),   // dup key + negative
      (Some(2L), None, 2000L),      // null domain col + over cap
      (None, Some("Z"), 3L))        // null key + out-of-set
      .toDF("k", "cat", "v")
    val out = validate(df, Seq(
      notNull("k"), unique("k"), inSet("cat", Seq("A", "B")),
      nonNegative("v"), atMost("v", 1000L)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out("not_null:k") === ((1L, false)))
    assert(out("unique:k") === ((1L, false)))     // key 1 twice → 1 extra
    assert(out("in_set:cat") === ((2L, false)))   // null and "Z"
    assert(out("non_negative:v") === ((1L, false)))
    assert(out("at_most:v") === ((1L, false)))
    // the all-green diagonal
    val clean = validate(df.filter(col("k") === 2L),
      Seq(nonNegative("v"), unique("k"))).collect()
    assert(clean.forall(_.getBoolean(2)))
  }

  test("referential check: missing keys count, NULL keys pass, composite keys honored") {
    import graft.operators.QualityGate._
    val ref = Seq((1L, "x"), (2L, "y")).toDF("rk", "rc")
    val df = Seq(
      (Some(1L), "x"),  // present pair
      (Some(1L), "z"),  // rk exists but pair (1, z) does not → composite violation
      (Some(9L), "x"),  // missing key
      (None, "x"))      // NULL key: SQL FK semantics — passes
      .toDF("k", "c")
    val single = validate(df, Seq(refIntegrity("k", ref, "rk")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(single === Map("ref:k" -> 1L)) // only 9 is missing; NULL passed
    val composite = validate(df,
      Seq(RefCheck("ref:k,c", Seq("k", "c"), ref, Seq("rk", "rc"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(composite === Map("ref:k,c" -> 2L)) // (1, z) and (9, x)
  }

  test("gated publish refuses a red feed before writing; a green feed publishes") {
    import graft.operators.QualityGate
    import graft.operators.QualityGate._
    import graft.sources.Sinks
    val table = java.nio.file.Files.createTempDirectory("gated").toString + "/t"
    val feed = Seq((1L, -5.0, "2024-02-01"), (2L, 3.0, "2024-02-02"))
      .toDF("k", "v", "dt").withColumn("dt", to_date(col("dt")))
    val checks = Seq(notNull("k"), unique("k"), nonNegative("v"))
    val e = intercept[QualityGate.ExpectationsFailed] {
      QualityGate.gatedPublish(feed, checks, "dt", table)
    }
    assert(e.report === Seq("non_negative:v" -> 1L))
    // nothing became live
    assert(Sinks.currentVersion(spark, table).isEmpty)
    val v = QualityGate.gatedPublish(feed.filter(col("v") >= 0), checks, "dt", table)
    assert(Sinks.currentVersion(spark, table) === Some(v))
    assert(Sinks.readSnapshot(spark, table).count() === 1)
  }

  test("fuzzy linkage: blocking bounds candidates; a corrupted block key escapes until a second pass") {
    import graft.operators.RecordLinkage.fuzzyJoin
    val clean = Seq((1L, "alpha-0001"), (2L, "alpha-0002"), (3L, "beta-0003"))
      .toDF("id", "name")
    val dirty = Seq((10L, "alphA-0001"), (11L, "beta-0004"), (12L, "gamma-9999"))
      .toDF("d_id", "d_name")
    def pairs(bl: String, br: String) =
      fuzzyJoin(dirty, clean, "d_name", "name", expr(bl), expr(br), maxDist = 1)
        .select("d_id", "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val suffixPass = pairs("right(d_name, 4)", "right(name, 4)")
    // 10 links to 1 (one case flip, same suffix); 11 is distance 1
    // from beta-0003 but its CORRUPTED digit is inside the block key →
    // escapes this pass; 12 matches nothing
    assert(suffixPass === Set(10L -> 1L))
    // multi-pass blocking: a prefix-keyed second pass recovers 11
    val prefixPass = pairs("left(d_name, 5)", "left(name, 5)")
    assert(prefixPass.contains(11L -> 3L))
    assert(!prefixPass.exists(_._1 == 12L))
  }

  test("as-of directions: backward, forward, nearest with tolerance and backward tie") {
    import graft.operators.AsOf
    def d(s: String) = java.sql.Date.valueOf(s)
    val probe = Seq(
      (1L, "a", d("2024-01-25")), // between builds at 20 and 30
      (2L, "a", d("2024-01-31")), // nearer the 30 build
      (3L, "a", d("2024-01-02")), // before every build
      (4L, "b", d("2024-01-15"))) // key with no builds at all
      .toDF("pid", "k", "pt")
    val build = Seq(
      ("a", d("2024-01-10"), 10L),
      ("a", d("2024-01-20"), 20L),
      ("a", d("2024-01-30"), 30L))
      .toDF("k", "bt", "bid")
    def run(dir: String, tol: Option[Long]) =
      AsOf.join(probe, build, "k", "pt", "bt", "bid", dir, tol)
        .select("pid", "bid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(run("backward", None) === Map(1L -> 20L, 2L -> 30L, 3L -> -1L, 4L -> -1L))
    assert(run("forward", None) === Map(1L -> 30L, 2L -> -1L, 3L -> 10L, 4L -> -1L))
    // nearest: probe 1 sits EXACTLY 5 days from both 20 and 30 — the
    // backward row wins the tie; probe 2 is 1 day from 30
    assert(run("nearest", None) === Map(1L -> 20L, 2L -> 30L, 3L -> 10L, 4L -> -1L))
    // tolerance 4 days: probe 1 is 5 days from every build → null
    assert(run("nearest", Some(4L * 86400)) ===
      Map(1L -> -1L, 2L -> 30L, 3L -> -1L, 4L -> -1L))
    assert(run("backward", Some(4L * 86400)) ===
      Map(1L -> -1L, 2L -> 30L, 3L -> -1L, 4L -> -1L))
  }

  test("resample grid has no gaps: empty hours read zero and forward-fill the last value") {
    import graft.operators.ReferenceOps
    val out = ReferenceOps.resampleHourly(spark, sf).collect()
    // every series spans the same generated spine
    val bySeries = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(bySeries.values.toSet.size === 1, s"unequal spine lengths: $bySeries")
    // gap rows exist (count 0) and carry a forward-filled observation
    // once the series has produced one
    val gaps = out.filter(_.getLong(2) == 0L)
    assert(gaps.nonEmpty, "fixture produced a gapless grid — spine too coarse to test fill")
    val g = out.groupBy(_.getString(0)).values
    g.foreach { rows =>
      var lastMax: Option[Double] = None
      rows.sortBy(_.getTimestamp(1).getTime).foreach { r =>
        if (r.getLong(2) == 0L) {
          // an empty bucket must echo the last observed max (or stay
          // null before the first observation)
          assert(Option(r.get(3)).map(_.asInstanceOf[Double]) === lastMax)
        } else lastMax = Some(r.getDouble(3))
      }
    }
  }

  test("pq codes are m cells in [0, kSub); planted cluster-mates recovered") {
    // the LSH planted fixture, 8-dim → 2 subspaces: near-identical
    // vectors quantize to the same code word, so ADC ranks them top
    def v(base: Int, jitter: Float) =
      Array.tabulate(8)(i => (if (i == base) 1.0f else 0.0f) + (if (i == 7) jitter else 0f))
    val rows = (0 until 5).map(i => (i.toLong, v(0, i * 0.01f))) ++
               (10 until 15).map(i => (i.toLong, v(1, (i - 10) * 0.01f)))
    val df = rows.toDF("vec_id", "embedding")
    val books = SimilarityOps.pqCodebooksOf(df, m = 2, kSub = 4, iters = 2)
    val codes = SimilarityOps.pqEncodeOf(df, books, m = 2).collect()
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === 2, s"code length ${cs.length}")
      assert(cs.forall(c => c >= 0 && c < 4), s"code out of range: $cs")
    }
    val pq = SimilarityOps.annPqOf(df, nQueries = 1, k = 4, m = 2, kSub = 4, iters = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(pq === Set(1L, 2L, 3L, 4L), s"expected cluster-mates of query 0, got $pq")
  }

  test("pq ANN with exact re-rank meets the recall@10 floor vs brute force") {
    // the near-isotropic real embeddings — worst case for coarse
    // 8x16 codebooks; the exact re-rank stage is what lifts recall
    val brute = SimilarityOps.annBruteForce(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = SimilarityOps.annPq(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(pq.distinct.length === pq.length)
    val recall = (pq.toSet & brute).size.toDouble / brute.size
    assert(recall >= 0.6,
      s"PQ recall@10 $recall below floor (${(pq.toSet & brute).size}/${brute.size})")
  }

  test("ivfadc meets the recall@10 floor vs brute force at 4 probes") {
    val brute = SimilarityOps.annBruteForce(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = SimilarityOps.annIvfPq(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(ivfpq.distinct.length === ivfpq.length)
    val recall = (ivfpq.toSet & brute).size.toDouble / brute.size
    // probe-bounded: strictly harder than whole-corpus PQ — the same
    // floor the plain IVF path is held to
    assert(recall >= 0.5,
      s"IVFADC recall@10 $recall below floor (${(ivfpq.toSet & brute).size}/${brute.size})")
  }

  test("fixed-point pagerank matches the hand-computed model exactly") {
    // a→c, b→c, c→d: sources settle at base mass, c collects two
    // equal contributions, d rides one hop behind c
    val edges = Seq(("a", "c"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = GraphRank.pageRankOf(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // r1: c = 150000 + 850000·(2e6) div 1e6 = 1850000; d = 1000000
    // r2: c = 150000 + 850000·(3e5) div 1e6 = 405000; d = 1722500
    // r3: c = 405000 (sources steady); d = 150000 + 850000·405000 div 1e6
    assert(got === Map("a" -> 150000L, "b" -> 150000L,
      "c" -> 405000L, "d" -> 494250L))
    // and bit-identical on a rerun at different parallelism — the
    // whole point of the integer formulation
    val again = GraphRank.pageRankOf(edges.repartition(7), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("pagerank fails loudly when in_sum exceeds the damping headroom") {
    // injectable numerator stands in for Long.MaxValue: with headroom
    // 10^12, maxSafe in_sum = 10^12/850000 ≈ 1.18e6 — node c's 2e6
    // first-round in-sum trips the guard on a three-edge graph
    val edges = Seq(("a", "c"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val ex = intercept[Exception] {
      GraphRank.pageRankImpl(edges, 3, 850000L, 1000000000000L).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("overflows LONG")),
      s"expected overflow guard, got: ${chain(ex).mkString(" | ")}")
    // and untripped headroom is untouched algebra: same results
    val got = GraphRank.pageRankImpl(edges, 3, 850000L, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 150000L, "b" -> 150000L,
      "c" -> 405000L, "d" -> 494250L))
  }

  test("ivf recall rises along the nProbe dial and is EXACT at full probe") {
    val brute = SimilarityOps.annBruteForce(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int): Double = {
      val got = SimilarityOps.annIvf(spark, sf, nQueries = 5, k = 10,
          kCells = 16, nProbe = nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & brute).size.toDouble / brute.size
    }
    val r1 = recallAt(1); val rHalf = recallAt(8); val rAll = recallAt(16)
    // the dial is evidenced, not just present: floors at both ends of
    // the curve, monotone between them
    assert(r1 >= 0.6, s"recall@10 $r1 at nProbe=1 below floor")
    assert(rHalf >= 0.9, s"recall@10 $rHalf at nProbe=kCells/2 below floor")
    assert(rHalf >= r1, s"recall fell as probes grew: $r1 -> $rHalf")
    // probing every cell covers every vector exactly once (cells
    // partition the corpus), so the full-probe IVF answer must equal
    // brute force — the correctness anchor of the whole index
    assert(rAll === 1.0, s"full-probe IVF diverged from brute force: $rAll")
  }

  test("ann banded-LSH meets the recall@10 floor vs brute-force top-k") {
    // the real test embeddings are near-isotropic (top-10 cosines
    // ~0.25-0.4) — the hardest case for hyperplane LSH — so clearing
    // the 0.6 floor here means clustered production corpora clear it
    // with far smaller tables
    val brute = SimilarityOps.annBruteForce(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = SimilarityOps.annLsh(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(lsh.distinct.length === lsh.length)
    val recall = (lsh.toSet & brute).size.toDouble / brute.size
    assert(recall >= 0.6,
      s"banded-LSH recall@10 $recall below floor (${(lsh.toSet & brute).size}/${brute.size})")
  }

  test("banded-LSH embedding dedup recovers planted near-duplicate pairs") {
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0 until 40).map(i => (i.toLong, vec()))
    // ids 100-109 are near-identical copies of vectors 0-9
    val dups = (0 until 10).map { i =>
      val v = base(i)._2.clone(); v(0) = v(0) + 0.01f
      ((100 + i).toLong, v)
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val planted = (0 until 10).map(i => (i.toLong, (100 + i).toLong)).toSet
    val found = SimilarityOps.embedDupPairsOf(df, threshold = 0.9, useLsh = true)
      .as[(Long, Long)].collect().toSet
    val recall = (found & planted).size.toDouble / planted.size
    assert(recall >= 0.9, s"planted recall $recall, missing ${planted -- found}")
    // LSH is a filter, never an inventor: every pair it reports must
    // also pass the exact quadratic baseline
    val exact = SimilarityOps.embedDupPairsOf(df, threshold = 0.9, useLsh = false)
      .as[(Long, Long)].collect().toSet
    assert(found.subsetOf(exact), s"false positives: ${found -- exact}")
  }

  test("winnow dedup catches both near-copies and CONTAINED documents") {
    val rnd = new scala.util.Random(11)
    def sentence() = Seq.fill(8)("w" + rnd.nextInt(5000)).mkString(" ")
    val baseA = Seq.fill(30)(sentence()).mkString(". ")
    val nearCopy = baseA.replaceFirst("w\\d+", "w9999") // one-token edit
    val container = Seq.fill(40)(sentence()).mkString(". ") + ". " + baseA
    val unrelated = Seq.fill(30)(sentence()).mkString(". ")
    val docs = Seq(
      (0L, baseA), (1L, nearCopy), (2L, container), (3L, unrelated)
    ).toDF("doc_id", "text")
    val pairs = NearDedup.winnowDedupOf(docs, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"missed the near-copy: $pairs")
    // doc 0 embedded whole inside doc 2: containment finds it even
    // though symmetric Jaccard over the union would be ~0.4
    assert(pairs.contains((0L, 2L)), s"missed the contained doc: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"false positive on the unrelated doc: $pairs")
  }

  test("as-of join picks the latest build row at or before each probe time") {
    val probe = Seq((1L, "k1", "2024-03-15"), (2L, "k1", "2024-01-01"),
                    (3L, "k2", "2024-06-01"), (4L, "k3", "2024-06-01"))
      .toDF("id", "k", "t").withColumn("t", to_date(col("t")))
    val build = Seq(("k1", 10L, "2024-01-01", 100.0), ("k1", 11L, "2024-03-01", 110.0),
                    ("k1", 12L, "2024-04-01", 120.0), ("k2", 20L, "2024-05-31", 200.0))
      .toDF("k", "ver", "bt", "v").withColumn("bt", to_date(col("bt")))
    val out = AsOf.join(probe, build, "k", "t", "bt", "ver")
      .select("id", "ver").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) === Some(11L)) // latest <= 2024-03-15 is the 03-01 version
    assert(out(2L) === Some(10L)) // boundary: same-day build matches
    assert(out(3L) === Some(20L))
    assert(out(4L) === None)      // no build rows for k3 → left join null
  }

  test("duplicate clusters: transitive pairs collapse to min-id components") {
    // components: {1,2,3,9} via 1-2, 2-3, 3-9; {5,6}; singletons absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val got = NearDedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicate clusters: an adversarial 64-link chain collapses to its head") {
    // fixture: the same transitive pairs as the test above
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val got = NearDedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // diameter 64: every node must still be labelled with the chain head
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainLabels = NearDedup.duplicateClusters(chain)
      .as[(Long, Long)].collect().toMap
    assert(chainLabels.size === 64 && chainLabels.values.forall(_ === 1L))
  }

  test("clean corpus drops low-quality docs and keeps one canonical per dup cluster") {
    val good = "the quick brown fox jumps over the lazy dog and keeps running onward " * 3
    val docs = Seq(
      (1L, good),                                   // canonical
      (2L, good + "slightly changed tail here now"),// near-dup of 1 → dropped
      (3L, "x"),                                    // too short → dropped
      (4L, "!!! ??? ... ;;; ::: ,,, !!! ??? ... ;;;"), // low alpha → dropped
      (5L, "completely different well formed text about spark catalyst plans and shuffles everywhere")
    ).toDF("doc_id", "text")
    val kept = NearDedup.cleanCorpus(docs).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 5L))
    // the exact-pair (PPJoin) mode behind the oracle-checked
    // d_clean_corpus must resolve the same clusters on this fixture
    val keptExact = NearDedup.cleanCorpus(docs, exactPairs = true)
      .select("doc_id").as[Long].collect().toSet
    assert(keptExact === Set(1L, 5L))
  }

  test("cleanCorpusExact drops every planted near-duplicate (cluster path non-vacuous)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val nPlanted = docs
      .filter(col("doc_id") % 50 === 25 && length(col("text")) >= 200).count()
    assert(nPlanted > 0) // fixture must actually exercise the planting
    val maxReal = docs.agg(max(col("doc_id"))).as[Long].head()
    val out = NearDedup.cleanCorpusExact(spark, sf)
    // planted ids live above max(doc_id); none may survive canonicalization
    assert(out.filter(col("doc_id") > maxReal).count() === 0)
  }

  test("prefix-filtered jaccard equals the full inverted-index result") {
    val docs = graft.sources.Tables.documents(spark, sf)
    for (t <- Seq(0.5, 0.8)) {
      // unfiltered reference: full inverted index + exact verify
      val sh = NearDedup.shingles(docs)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val full = sh.as("a").join(sh.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
        .filter(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")) >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val prefix = NearDedup.ngramJaccardOf(docs, t)
        .as[(Long, Long)].collect().toSet
      assert(prefix === full, s"threshold $t: prefix filter changed the result")
    }
  }

  test("minhash banding rejects signatures shorter than bands*rowsPerBand") {
    // declared-length check
    intercept[IllegalArgumentException] {
      NearDedup.minHashCandidates(spark.emptyDataFrame, bands = 16, rowsPerBand = 8)
    }
    // actual-data check: 8-element sigs with the default 16x4 banding
    // must throw at runtime, not silently collide everything
    val shortSigs = Seq((1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)),
                        (2L, Seq(9L, 9L, 9L, 9L, 9L, 9L, 9L, 9L)))
      .toDF("doc_id", "sig")
    val ex = intercept[Exception] {
      NearDedup.minHashCandidates(shortSigs, numHashes = 64).count()
    }
    assert(ex.getMessage.contains("signature") || ex.toString.contains("ASSERT"),
      s"unexpected: $ex")
  }

  test("prefix filter catches a pair at exactly the threshold (FP-length regression)") {
    // Y's shingle set is a subset of X's with jaccard exactly 8/10 =
    // 0.8; a prefix length computed via floor(n*(1-t))+1 in floating
    // point comes out one short and would miss this pair.
    def doc(words: Seq[String]) = words.mkString(" ")
    val shared = (1 to 10).map(i => s"common$i")   // 8 shared 3-gram shingles
    val x = doc(Seq("uniqa", "uniqb") ++ shared)   // 12 words → 10 shingles
    val y = doc(shared)                            // 10 words → 8 shingles
    val docs = Seq((1L, x), (2L, y)).toDF("doc_id", "text")
    val sets = NearDedup.shingleSets(docs).as[(Long, Seq[Long], Long)].collect()
      .map(r => r._1 -> r._2.toSet).toMap
    val inter = sets(1L).intersect(sets(2L)).size.toDouble
    val jac = inter / sets(1L).union(sets(2L)).size
    assert(jac >= 0.8, s"test setup: jaccard $jac")
    val pairs = NearDedup.ngramJaccardOf(docs, 0.8).as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("minhash pairs are a subset of exact jaccard pairs (no false positives)") {
    // minHashDedupOf verifies candidates with EXACT jaccard >= 0.5, so
    // its output must be a subset of the exhaustive inverted-index
    // jaccard at the same threshold; the difference is LSH misses.
    // Both sides run on the RAW corpus — the registered binding adds
    // planted dups the ngram side wouldn't see.
    val exact = NearDedup.ngramJaccard(spark, sf, threshold = 0.5)
      .as[(Long, Long)].collect().toSet
    val mh = NearDedup.minHashDedupOf(
        graft.sources.Tables.documents(spark, sf), 0.5)
      .as[(Long, Long)].collect().toSet
    assert(mh.subsetOf(exact), s"false positives: ${mh -- exact}")
    if (exact.nonEmpty) {
      val recall = mh.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall too low: $recall (${mh.size}/${exact.size})")
    }
  }

  test("ann IVF finds planted cluster neighbors and probes fewer candidates") {
    // clusters around axes e0..e3; centroids are the first 4 vectors
    // (one per cluster); query 0 must recover its cluster-mates.
    def v(axis: Int, jitter: Float) =
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 7) jitter else 0f))
    val rows = (0 until 4).map(i => (i.toLong, v(i, 0f))) ++
      (0 until 4).flatMap(a => (0 until 4).map(j => ((10 + a * 10 + j).toLong, v(a, (j + 1) * 0.01f))))
    val df = rows.toDF("vec_id", "embedding")
    val out = SimilarityOps.annIvfOf(df, nQueries = 1, k = 4, kCells = 4, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out === Set(10L, 11L, 12L, 13L), s"expected cluster 0 mates, got $out")
  }

  test("ann IVF on real embeddings returns full top-k per query") {
    val out = SimilarityOps.annIvf(spark, sf, nQueries = 3, k = 5).collect()
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 5))
  }

  test("k-means-refined IVF recovers planted clusters and tightens centroids") {
    // three tight clusters around axes e0/e1/e2; vec_ids 0,1,2 fall in
    // distinct clusters so the seeds start one-per-cluster but OFF the
    // cluster means
    def v(axis: Int, j: Int) =
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 7) j * 0.03f else 0f))
    val rows = (0 until 3).flatMap(c => (0 until 10).map(j => ((c + 3 * j).toLong, v(c, j))))
    val df = rows.toDF("vec_id", "embedding")
    val cents = SimilarityOps.ivfRefinedCentroidsOf(df, kCells = 3, iters = 2)
    // every refined centroid sits near its cluster mean: each corpus
    // vector has cosine >= 0.95 with its own cell's centroid
    val assignedSim = df
      .withColumn("nrm", SimilarityOps.norm(col("embedding")))
      .crossJoin(broadcast(cents.select(col("cell"), col("c_emb"),
        SimilarityOps.norm(col("c_emb")).as("cn"))))
      .withColumn("sim", SimilarityOps.dot(col("embedding"), col("c_emb")) /
        (col("nrm") * col("cn")))
      .groupBy("vec_id").agg(max("sim").as("best"))
      .select("best").as[Double].collect()
    assert(assignedSim.forall(_ >= 0.95), s"loose centroid: ${assignedSim.min}")
    // the refined index returns the planted cluster-mates for query 0
    val got = SimilarityOps.annIvfRefinedOf(df, nQueries = 1, k = 5,
        kCells = 3, nProbe = 1, iters = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(3L, 6L, 9L, 12L, 15L), s"expected e0 cluster-mates, got $got")
  }

  test("semantic decontamination flags embedding-space leaks, clean vectors report zero") {
    // bench vector = e0; corpus: an exact copy (leak), a near-copy
    // (paraphrase analog), and an orthogonal vector (clean)
    def v(xs: Float*) = xs.toArray
    val corpus = Seq(
      (1L, v(1f, 0f, 0f, 0f)),          // identical to bench → hit
      (2L, v(0.9f, 0.1f, 0f, 0f)),      // near-copy → hit
      (3L, v(0f, 0f, 1f, 0f))           // orthogonal → clean
    ).toDF("vec_id", "embedding")
    val bench = Seq((90L, v(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val m = SimilarityOps.semanticDecontaminateOf(corpus, bench, 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(m(1L) === ((1L, 1)))
    assert(m(2L) === ((1L, 1)))
    assert(m(3L) === ((0L, 0)))   // clean rows still present, 0 hits
    assert(m.size === 3)
  }

  test("semdedup flags within-cluster duplicates against the min-id representative") {
    // two tight clusters around e0/e1 (jitter only on dim 7, so
    // within-cluster cosine ≥ 0.9998 and cross-cluster ≈ 0): every
    // non-min member is a dup of its cluster's min id; the two
    // representatives stay unflagged
    def v(axis: Int, j: Float) =
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 7) j else 0f))
    val df = Seq(
      (0L, v(0, 0f)), (1L, v(1, 0f)),                     // seeds/centroids
      (10L, v(0, 0.01f)), (11L, v(0, 0.01f)), (12L, v(0, 0.02f)),
      (20L, v(1, 0.01f)), (21L, v(1, 0.01f))
    ).toDF("vec_id", "embedding")
    val m = SimilarityOps.semDedupOf(df, threshold = 0.999, kCells = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    assert(m(10L) === ((1, 0L)) && m(11L) === ((1, 0L)) && m(12L) === ((1, 0L)))
    assert(m(20L) === ((1, 1L)) && m(21L) === ((1, 1L)))
    assert(m(0L)._1 === 0 && m(1L)._1 === 0)
    assert(m.size === 7)          // every vector present with a verdict
  }

  test("kCellsFor keeps cell size constant: floor 16, cap 1<<20, clamped to n") {
    import SimilarityOps.kCellsFor
    assert(kCellsFor(10) === 10)                 // tiny corpus: at most n cells
    assert(kCellsFor(1000) === 16)               // floor at the small-SF default
    assert(kCellsFor(4096L * 100) === 100)       // ~4096 vectors per cell
    assert(kCellsFor(4096L * 100 + 1) === 101)   // ceil division
    assert(kCellsFor(Long.MaxValue / 4) === (1 << 20)) // parallelism cap
  }

  test("registered semdedup binding recovers every planted duplicate embedding") {
    val ids = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    val off = ids.max + 1L // the binding's max(id)+1 planted offset
    val planted = ids.filter(_ % 50 == 0).toSet
    assert(planted.nonEmpty)
    val m = SimilarityOps.semDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    planted.foreach { id =>
      assert(m(id + off) === ((1, id)),
        s"planted copy of vec $id not flagged against its original")
    }
  }

  test("approx percentiles track the exact ones within 2%") {
    val exact = ReferenceOps.pricePercentiles(spark, sf)
      .select("o_orderpriority", "p50", "p90")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val approx = ReferenceOps.pricePercentilesApprox(spark, sf)
      .select("o_orderpriority", "p50", "p90")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (k, (a50, a90)) =>
      val (e50, e90) = exact(k)
      // 2%: on tiny sf0.001 groups the gap is exact-percentile
      // INTERPOLATION vs the sketch's actual sample value, not sketch
      // error — it shrinks as groups grow
      assert(math.abs(a50 - e50) / e50 < 0.02, s"$k p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) / e90 < 0.02, s"$k p90: $a90 vs $e90")
    }
  }

  test("sketch-based upload stats track the exact log row within 2%") {
    val exact = ReferenceOps.uploadStats(spark, sf).head()
    val approx = ReferenceOps.uploadStatsApprox(spark, sf).head()
    assert(approx.getLong(0) === exact.getLong(0)) // row count is exact
    val (eN, aN) = (exact.getLong(1), approx.getLong(1))
    assert(math.abs(aN - eN).toDouble / eN < 0.02, s"HLL n_transactions $aN vs $eN")
    assert(approx.getDate(2) === exact.getDate(2))
    assert(approx.getDate(3) === exact.getDate(3))
    assert(approx.getDouble(4) === exact.getDouble(4)) // decimal sum is exact
  }

  test("hybrid search: every neighbor passes the metadata gate, scores match brute force") {
    val out = SimilarityOps.hybridSearch(spark, sf, nQueries = 3, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    // the gate: every neighbor is an English doc with >= 5 tokens
    val docs = graft.sources.Tables.documents(spark, sf)
    val allowed = TextOps.langIdOf(docs).filter(col("detected_lang") === "en")
      .select("doc_id")
      .join(TextOps.qualityScoreOf(docs).filter(col("n_tokens") >= 5).select("doc_id"), "doc_id")
      .as[Long].collect().toSet
    assert(out.forall(p => allowed(p._2)), "a neighbor escaped the metadata gate")
    // consistency: the hybrid result is the brute-force ranking of the
    // gated corpus — never better than the ungated top-k cosine-wise
    val gatedIds = out.map(_._2).toSet
    assert(gatedIds.subsetOf(allowed))
  }

  test("langid marks documents with CJK characters as zh") {
    val docs = Seq((1L, "the cat and the dog"), (2L, "中文文档")).toDF("doc_id", "text")
      .withColumn("lang", lit("x")).withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    docs.createOrReplaceTempView("tmp_docs")
    // langId reads the documents table from dir; test the scoring parts
    // through the real query at the repo SF instead:
    val out = TextOps.langId(spark, sf)
    assert(out.columns.contains("detected_lang"))
    assert(out.filter(col("detected_lang").isNull).count() === 0)
  }

  test("bucketed range join equals the naive non-equi join, boundaries included") {
    val rnd = new scala.util.Random(9)
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def ts(sec: Long) = java.sql.Timestamp.from(base.plusSeconds(sec))
    // probes over ~3 days at random offsets, plus exact-boundary hits
    val probes = (1L to 300L).map(i => (i, ts(rnd.nextInt(260000).toLong))) ++
      Seq((901L, ts(10000L)),          // == a window lo: INCLUDED
          (902L, ts(10000L + 7200L)),  // == that window hi: EXCLUDED
          (903L, ts(10000L + 7199L)))  // last in-window second
    val probeDf = probes.toDF("event_id", "ts")
    // windows of mixed lengths: shorter than, equal to, and spanning
    // several 1h buckets
    val windows = Seq(
      (1L, ts(10000L), ts(10000L + 7200L)),
      (2L, ts(50000L), ts(50000L + 600L)),
      (3L, ts(100000L), ts(100000L + 20000L)),
      (4L, ts(3600L), ts(7200L))
    ).toDF("window_id", "lo", "hi")
    val got = RangeJoin.bucketed(probeDf, "ts", windows, "lo", "hi")
      .select("window_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = probeDf.join(windows,
        col("ts") >= col("lo") && col("ts") < col("hi"))
      .select("window_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
    assert(got.contains((1L, 901L)) && got.contains((1L, 903L)))
    assert(!got.contains((1L, 902L))) // hi is exclusive
    // no pair is emitted twice even when a window spans many buckets
    val rows = RangeJoin.bucketed(probeDf, "ts", windows, "lo", "hi").count()
    assert(rows === got.size)
  }

  test("funnel: ordered min-chain, strict-after, abandonment cuts the tail") {
    val base = java.time.Instant.parse("2024-04-01T00:00:00Z")
    def ts(sec: Long) = java.sql.Timestamp.from(base.plusSeconds(sec))
    val events = Seq(
      // user 1: full funnel in order — all steps, gaps 10s and 20s
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(30)),
      // user 2: purchase BEFORE click — reaches click, not purchase
      (2L, "view", ts(0)), (2L, "purchase", ts(5)), (2L, "click", ts(10)),
      // user 3: click with NO view — not in the funnel at all
      (3L, "click", ts(0)), (3L, "purchase", ts(10)),
      // user 4: click at the SAME time as view — strict-after misses it,
      // a later click catches
      (4L, "view", ts(100)), (4L, "click", ts(100)), (4L, "click", ts(160)),
      // user 5: view only
      (5L, "view", ts(0))
    ).toDF("user_id", "event_type", "ts")
    val out = Funnel.funnelOf(events, Seq("view", "click", "purchase")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out(1L) === ((1L, 1L, 1L, 10L, 20L)))
    assert(out(2L) === ((1L, 1L, 0L, 10L, -1L))) // purchase precedes click
    assert(!out.contains(3L))                    // never viewed
    assert(out(4L) === ((1L, 1L, 0L, 60L, -1L))) // same-ts click skipped
    assert(out(5L) === ((1L, 0L, 0L, -1L, -1L)))
  }

  test("windowed funnel: inclusive expiry boundary, expired step abandons the rest") {
    val base = java.time.Instant.parse("2024-04-01T00:00:00Z")
    def ts(us: Long) = java.sql.Timestamp.from(
      base.plusNanos(us * 1000L))
    val w = 100L * 1000000L // 100-second step window, in micros
    val events = Seq(
      // u1: click lands EXACTLY at t0 + w — inclusive bound keeps it
      (1L, "view", ts(0)), (1L, "click", ts(w)), (1L, "purchase", ts(w + 50)),
      // u2: click at t0 + w + 1µs — one microsecond late, expired,
      // and the in-time purchase after it cannot resurrect the funnel
      (2L, "view", ts(0)), (2L, "click", ts(w + 1)), (2L, "purchase", ts(w + 2)),
      // u3: first click late, but a SECOND in-window click exists —
      // min-over-window semantics: the windowed min is the in-window
      // one only when no earlier-but-late event precedes it… it does
      // here, so the funnel still converts via the in-window click
      (3L, "view", ts(0)), (3L, "click", ts(50)), (3L, "purchase", ts(60)),
      // u4: both steps convert at comfortable gaps
      (4L, "view", ts(0)), (4L, "click", ts(1000000)), (4L, "purchase", ts(3000000))
    ).toDF("user_id", "event_type", "ts")
    val out = Funnel.funnelOf(events, Seq("view", "click", "purchase"),
        maxStepGapUs = Some(w)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((1L, 1L, 1L))) // boundary-exact click counts
    assert(out(2L) === ((1L, 0L, 0L))) // 1µs past the bound: abandoned
    assert(out(3L) === ((1L, 1L, 1L)))
    assert(out(4L) === ((1L, 1L, 1L)))
    // the unbounded funnel would have converted u2 — the window is
    // the ONLY difference between the two plans
    val unbounded = Funnel.funnelOf(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(unbounded(2L) === 1L)
  }

  test("retention: cohort = first day, same-day repeats count once") {
    val base = java.time.Instant.parse("2024-05-01T12:00:00Z")
    def ts(day: Int, sec: Long = 0L) =
      java.sql.Timestamp.from(base.plusSeconds(day * 86400L + sec))
    val events = Seq(
      // u1: day0 ×3 events (counts once), back on day2
      (1L, ts(0)), (1L, ts(0, 600)), (1L, ts(0, 1200)), (1L, ts(2)),
      // u2: same cohort day0, back day1 and day2
      (2L, ts(0)), (2L, ts(1)), (2L, ts(2)),
      // u3: later cohort day1 only
      (3L, ts(1))
    ).map { case (u, t) => (u, "view", t) }.toDF("user_id", "event_type", "ts")
    val out = Funnel.retentionOf(events).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("2024-05-01", 0L)) === 2L) // u1+u2, u1's repeats collapsed
    assert(out(("2024-05-01", 1L)) === 1L) // u2
    assert(out(("2024-05-01", 2L)) === 2L) // u1+u2
    assert(out(("2024-05-02", 0L)) === 1L) // u3's own cohort
    assert(out.size === 4)
  }

  test("range join plans as an equi-join on the bucket, never a nested loop") {
    val p = SparkEntry.queries("q_range_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("scd2 incremental: fold-equivalent to the batch rebuild, closed rows untouched") {
    val v0 = Seq((1L, Some(10L)), (2L, Some(5L))).toDF("k", "v")
    val v1 = Seq((1L, Some(11L)), (2L, Some(5L)), (3L, Some(7L))).toDF("k", "v")
    // v2: k1 unobserved (keeps open row), k2 changes, k3 goes null
    val v2 = Seq((2L, Some(6L)), (3L, Option.empty[Long])).toDF("k", "v")
    val batch = Scd.type2FromSnapshots(Seq(v0, v1, v2), "k", Seq("v"))
    val incr = Scd.applyIncrement(
      Scd.type2FromSnapshots(Seq(v0, v1), "k", Seq("v")), v2, 2L, "k", Seq("v"))
    val norm = (df: org.apache.spark.sql.DataFrame) => df
      .select("k", "valid_from", "valid_to", "v", "is_current")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(norm(batch) === norm(incr))
    // and folding one at a time from the bootstrap matches too
    val twice = Scd.applyIncrement(
      Scd.applyIncrement(Scd.type2FromSnapshots(Seq(v0), "k", Seq("v")),
        v1, 1L, "k", Seq("v")), v2, 2L, "k", Seq("v"))
    assert(norm(batch) === norm(twice))
  }

  test("fingerprint: partitioning/order invariant, content-sensitive") {
    val base = Seq(("g1", "a"), ("g1", "b"), ("g2", "c"))
      .toDF("g", "payload")
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      Reconcile.fingerprint(df, Seq("g"), Seq("payload"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    val a = fp(base)
    assert(a === fp(base.repartition(7)))
    assert(a === fp(base.orderBy(col("payload").desc)))
    // one changed row flips its group's checksum, not the other group's
    val b = fp(Seq(("g1", "a"), ("g1", "B"), ("g2", "c")).toDF("g", "payload"))
    assert(a(0)._3 !== b(0)._3); assert(a(1)._3 === b(1)._3)
  }

  test("fingerprint canonicalization is injective across NULLs and delimiters") {
    def fp(rows: Seq[(String, String)]): Long =
      Reconcile.fingerprint(rows.toDF("c1", "c2").withColumn("g", lit("g")),
          Seq("g"), Seq("c1", "c2"))
        .collect().head.getLong(2)
    // ('a',NULL) vs (NULL,'a'): concat_ws would have skipped the NULL
    // and hashed both to md5('a')
    assert(fp(Seq(("a", null))) !== fp(Seq((null, "a"))))
    // ('a|b','c') vs ('a','b|c'): a bare '|' join can't tell these apart
    assert(fp(Seq(("a|b", "c"))) !== fp(Seq(("a", "b|c"))))
    // a value equal to the NULL sentinel is still distinct from NULL
    assert(fp(Seq(("N", "x"))) !== fp(Seq((null, "x"))))
    // and equal content still matches regardless of row order
    assert(fp(Seq(("a", "b"), ("c", null))) === fp(Seq(("c", null), ("a", "b"))))
  }

  test("anomaly flags are self-consistent with the reported med/mad") {
    ReferenceOps.anomalyDays(spark, sf).collect().foreach { r =>
      val (n, med, mad, flag) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4))
      assert((math.abs(n - med) > 3 * mad) === (flag == "T"))
    }
  }

  test("skew profile: share and skew identities, descending order") {
    val rows = ReferenceOps.keySkewProfile(spark, sf).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.reverse.toSeq)
    rows.foreach { case (_, share, skew) =>
      assert(share > 0 && share <= 1.0 && skew >= share)
    }
  }

  test("incremental fingerprint equals the direct fingerprint of the merged state") {
    val incr = Cdc.fingerprintIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val finalT = CdcMerge.applied(Cdc.merged(spark, sf))
      .select((col("o_orderkey") % 16).as("shard"),
        col("o_orderkey").cast("string").as("k"),
        col("price").cast("string").as("p"), col("is_deleted"))
    val direct = Reconcile.fingerprint(finalT, Seq("shard"), Seq("k", "p", "is_deleted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(incr === direct)
  }

  test("session paths: order within session total, gap splits, top-k deterministic") {
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    val ev = Seq(
      // u1 session 1: view>click (same ts tie broken by event_id),
      // then a 31-min gap → session 2: purchase
      (1L, 1L, "view", t(0)), (1L, 2L, "click", t(0)), (1L, 3L, "purchase", t(1900)),
      // u2: one session view>view
      (2L, 4L, "view", t(0)), (2L, 5L, "view", t(60))
    ).toDF("user_id", "event_id", "event_type", "ts")
      .write.mode("overwrite").parquet("/tmp/graft_sp_events")
    // route through the operator by pointing a temp dir at the fixture
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val df = spark.read.parquet("/tmp/graft_sp_events")
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
        .otherwise(0L))
      .withColumn("session", sum(col("new_s"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session")
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
    val paths = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(p => (p._1, p._2))
    assert(paths === Array((1L, 1L, "view>click"), (1L, 2L, "purchase"),
      (2L, 1L, "view>view")))
    // and the registered query returns a deterministic top-k over sf
    val top = ReferenceOps.sessionPaths(spark, sf).collect()
    assert(top.length <= 20 && top.nonEmpty)
    assert(top.map(_.getLong(1)).toSeq === top.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("multi-pass blocking recovers a corruption inside one pass's blocking key") {
    // corrupt the LAST char: pass A (blocks on right-4) must miss it,
    // pass B (blocks on left-4) must recover it
    val clean = Seq((1L, "ACME-LTD-0001"), (2L, "ZETA-PLC-0002")).toDF("id", "name")
    val dirty = Seq((101L, "ACME-LTD-0009")).toDF("d_id", "d_name")
    val passA = RecordLinkage.fuzzyJoin(dirty, clean, "d_name", "name",
      expr("right(d_name, 4)"), expr("right(name, 4)"), maxDist = 1)
    val passB = RecordLinkage.fuzzyJoin(dirty, clean, "d_name", "name",
      expr("left(d_name, 4)"), expr("left(name, 4)"), maxDist = 1)
    assert(passA.count() === 0)
    val multi = passA.unionByName(passB)
      .groupBy("d_id", "id").agg(min("name_dist").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(multi === Array((101L, 1L)))
  }

  test("trending decay: newest day dominates, score bounded by event count") {
    val rows = ReferenceOps.trendingDecay(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, score) =>
      assert(score > 0.0 && score <= n.toDouble)
    }
    // descending by score
    assert(rows.map(_._3).toSeq === rows.map(_._3).sortBy(-_).toSeq)
  }

  test("drift report: non-negative contributions, expected counts conserve mass") {
    ReferenceOps.driftReport(spark, sf).collect().foreach { r =>
      val (o1, o2, e1, e2) =
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs((e1 + e2) - (o1 + o2)) < 1e-6)
      if (!r.isNullAt(6)) assert(r.getDouble(6) >= 0.0)
    }
  }

  test("regression: r bounded, slope matches a driver-side recompute from raw rows") {
    val out = ReferenceOps.priceQuantityRegression(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(math.abs(r.getDouble(4)) <= 1.0)
      assert(r.getLong(1) > 0)
    }
    // recompute one group's slope from the raw table
    val flag = out.head.getString(0)
    val rows = graft.sources.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === flag)
      .select(col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = rows.length.toDouble
    val sx = rows.map(_._1).sum.toDouble; val sy = rows.map(_._2).sum.toDouble
    val sxy = rows.map(p => BigInt(p._1) * p._2).sum.toDouble
    val sx2 = rows.map(p => BigInt(p._1) * p._1).sum.toDouble
    val want = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    assert(math.abs(out.head.getDouble(2) - want) < 1e-9)
  }

  test("profiler: key column is unique, distincts bounded by row count") {
    val p = ReferenceOps.ordersProfile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nRows, nNullsK, nDistK) = p("o_orderkey")
    assert(nNullsK === 0L && nDistK === nRows)
    p.values.foreach { case (n, nulls, dist) =>
      assert(dist + nulls <= n + 1) // all-null column still has ≤1 distinct
      assert(dist <= n)
    }
  }

  test("scd2 as-of reconstructs each historical snapshot from the history alone") {
    val v0 = Seq((1L, 10L), (2L, 5L)).toDF("k", "v")
    val v1 = Seq((1L, 11L), (2L, 5L), (3L, 7L)).toDF("k", "v")
    val hist = Scd.type2FromSnapshots(Seq(v0, v1), "k", Seq("v"))
    def state(ver: Long) = Scd.asOf(hist, ver).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state(0L) === Set((1L, 10L), (2L, 5L)))
    assert(state(1L) === Set((1L, 11L), (2L, 5L), (3L, 7L)))
  }

  test("id gap summary localizes planted holes and is silent on dense ranges") {
    val dense = (1L to 100L)
    val holes = dense.filterNot(k => k == 37 || k == 38 || k == 90)
    val out = ReferenceOps.idGapSummaryOf(holes.toDF("k"), "k", bucketSize = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(out === Map(0L -> 2L, 1L -> 1L)) // two missing in [1,50), one in [50,100)
    assert(ReferenceOps.idGapSummaryOf(dense.toDF("k"), "k", 50L).count() === 0)
    // drill level recovers the exact ranges inside each flagged bucket
    val drill0 = ReferenceOps.idGapDrillOf(holes.toDF("k"), "k", 0L, 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(drill0 === Array((37L, 38L, 2L)))
    val drill1 = ReferenceOps.idGapDrillOf(holes.toDF("k"), "k", 1L, 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(drill1 === Array((90L, 90L, 1L)))
  }

  test("orphan census: counts bounded by the per-nation customer census") {
    ReferenceOps.orphanCustomers(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= r.getLong(2))
    }
  }

  test("user accretion: monotone growth summing to the distinct-user count") {
    val rows = ReferenceOps.userAccretion(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).sum === rows.last._2)
    assert(rows.head._1 === rows.head._2)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq)
    val distinctUsers = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.last._2 === distinctUsers)
  }

  test("readability: known grade on a constructed doc, null on empty") {
    val docs = Seq((1L, "Hello world. It is sunny."), (2L, ""),
        (3L, "Hello. World"), (4L, "no terminator at all \t "))
      .toDF("doc_id", "text")
    val out = TextOps.readabilityOf(docs).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) === ((5L, 2L, 7L)))
    val fk = 0.39 * (5.0 / 2.0) + 11.8 * (7.0 / 5.0) - 15.59
    assert(r1.getDouble(4) === fk)
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getLong(1) === 0L && r2.isNullAt(4))
    // an unterminated trailing fragment counts as its own sentence
    assert(out.find(_.getLong(0) == 3L).get.getLong(2) === 2L)
    // zero terminators: the whole doc is one sentence, not zero
    assert(out.find(_.getLong(0) == 4L).get.getLong(2) === 1L)
  }

  test("equi-depth histogram: buckets cover everything with near-equal depth") {
    val rows = ReferenceOps.equiDepthHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    rows.groupBy(_._1).foreach { case (_, bs) =>
      val total = bs.head._4
      assert(bs.map(_._3).sum === total)          // full coverage
      assert(bs.map(_._2).toSet.size === bs.length) // distinct buckets
      // equal-depth within rounding + tie slack on a continuous column
      bs.foreach { case (_, _, n, t) =>
        assert(n <= t / 10 + t / 50 + 1, s"bucket too deep: $n of $t") }
    }
  }

  test("boxplot: quartile ordering and fence counts consistent") {
    ReferenceOps.eventBoxplot(spark, sf).collect().foreach { r =>
      val (n, q1, med, q3) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(q1 <= med && med <= q3)
      assert(r.getDouble(5) === q3 - q1)
      assert(r.getLong(6) + r.getLong(7) < n)
    }
  }

  test("rolling revenue: RANGE frame sums exactly the trailing 7 calendar days") {
    val rows = ReferenceOps.rollingRevenue(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val byDay = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (d, _, _, rev7, n7) =>
      val win = (0 to 6).flatMap(k => byDay.get(d.minusDays(k.toLong)))
      assert(math.abs(win.map(_._2).sum - rev7) < 1e-6, s"day $d rev_7d")
      assert(win.map(_._3).sum === n7, s"day $d orders_7d")
    }
  }

  test("daily churn ledger: flow identities hold day over day") {
    val rows = ReferenceOps.dailyChurn(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byDay = rows.toMap
    val firstDay = rows.map(_._1).min
    // day 1: everyone is new, nobody retained
    assert(byDay(firstDay)._1 === byDay(firstDay)._3)
    assert(byDay(firstDay)._2 === 0L)
    rows.foreach { case (d, (active, retained, fresh, churned)) =>
      assert(retained + fresh <= active, s"$d retained+new > active")
      // conservation: yesterday's actives split into retained vs churned
      byDay.get(d.minusDays(1L)).foreach { case (prevActive, _, _, _) =>
        assert(retained + churned === prevActive, s"$d flow identity")
      }
    }
  }

  test("pareto concentration: thresholds are monotone and shares sane") {
    val rows = ReferenceOps.revenueConcentration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(50L, 80L, 90L, 99L))
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 <= b._2 })
    rows.foreach { case (_, n, total, share) =>
      assert(n >= 1 && n <= total)
      assert(share > 0.0 && share <= 1.0)
      assert(math.abs(share - n.toDouble / total.toDouble) < 1e-12)
    }
  }

  test("transition matrix: per-user successor census with exact probabilities") {
    val ts0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // u1: view→click→view ; u2: view→view ; u3 single event (no pair)
    val ev = Seq(
      (1L, 1L, "view", t(0)), (1L, 2L, "click", t(10)), (1L, 3L, "view", t(30)),
      (2L, 4L, "view", t(0)), (2L, 5L, "view", t(5)),
      (3L, 6L, "purchase", t(0))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val out = Funnel.transitionsOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(x => (x._1, x._2))
    assert(out === Array(
      ("click", "view", 1L, 20000000L, 1.0),
      ("view", "click", 1L, 10000000L, 0.5),
      ("view", "view", 1L, 5000000L, 0.5)))
    // equal-timestamp successors tie-break by event_id
    val tie = Seq((9L, 1L, "a", t(0)), (9L, 2L, "b", t(0)), (9L, 3L, "c", t(0)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val m = Funnel.transitionsOf(tie).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(m === Set(("a", "b"), ("b", "c")))
  }

  test("interval merge: overlap, touch, nest, disjoint, tie starts") {
    // key A: [0,10) ∪ [5,12) ∪ [12,20) merge (overlap + touch);
    //        [3,8) nests; [25,30) disjoint
    // key B: two intervals with identical starts merge regardless of order
    val iv = Seq(
      ("A", 0L, 10L), ("A", 5L, 12L), ("A", 12L, 20L), ("A", 3L, 8L), ("A", 25L, 30L),
      ("B", 100L, 110L), ("B", 100L, 105L)
    ).toDF("k", "s", "e")
    val out = Intervals.mergeOf(iv, "k", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
    assert(out === Array(
      ("A", 1L, 0L, 20L, 4L), ("A", 2L, 25L, 30L, 1L),
      ("B", 1L, 100L, 110L, 2L)))
    // a genuine gap of one unit stays two islands (strict >)
    val gap = Seq(("G", 0L, 5L), ("G", 6L, 9L)).toDF("k", "s", "e")
    assert(Intervals.mergeOf(gap, "k", "s", "e").count() === 2)
  }

  test("scd2: change points, null transitions, mid-history adds, open intervals") {
    val snaps = Seq(
      // v0: k1=(10,a), k2=(5,null)
      Seq((1L, Some(10L), Some("a")), (2L, Some(5L), None)),
      // v1: k1 unchanged; k2 value→null flips; k3 appears
      Seq((1L, Some(10L), Some("a")), (2L, None, Some("x")), (3L, Some(7L), Some("c"))),
      // v2: k1 changes; k2 unchanged; k3 unchanged
      Seq((1L, Some(11L), Some("a")), (2L, None, Some("x")), (3L, Some(7L), Some("c")))
    ).map(_.toDF("k", "v", "s"))
    val h = Scd.type2FromSnapshots(snaps, "k", Seq("v", "s"))
      .collect().map(r => (r.getLong(0), r.getLong(3),
        Option(r.get(1)).map(_.toString), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getString(5))).sortBy(t => (t._1, t._2))
    // k1: [0,2) then [2,∞) current; k2: [0,1) then [1,∞); k3: [1,∞)
    assert(h === Array(
      (1L, 0L, Some("10"), Some(2L), "F"), (1L, 2L, Some("11"), None, "T"),
      (2L, 0L, Some("5"),  Some(1L), "F"), (2L, 1L, None,       None, "T"),
      (3L, 1L, Some("7"),  None,     "T")))
  }

  test("scd2 cdc history: interval chains are contiguous with one current row per key") {
    val h = Scd.cdcHistory(spark, sf).cache()
    try {
      // exactly one open (current) interval per key, and it is the last
      val perKey = h.groupBy("o_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(when(col("valid_to").isNull, 1).otherwise(0)).as("n_open"),
          max("valid_from").as("max_from"),
          max(when(col("valid_to").isNull, col("valid_from"))).as("open_from"))
      assert(perKey.filter(col("n_open") =!= 1).count() === 0)
      assert(perKey.filter(col("max_from") =!= col("open_from")).count() === 0)
      // contiguity: every closed interval's valid_to = next valid_from
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderkey").orderBy("valid_from")
      val broken = h.withColumn("nxt", lead(col("valid_from"), 1).over(w))
        .filter(col("valid_to").isNotNull && !(col("valid_to") === col("nxt")))
      assert(broken.count() === 0)
      // consecutive versions really differ in state
      val same = h.withColumn("pp", lag(col("price"), 1).over(w))
        .withColumn("pd", lag(col("is_deleted"), 1).over(w))
        .filter(col("pp").isNotNull &&
          (col("price") <=> col("pp")) && (col("is_deleted") <=> col("pd")))
      assert(same.count() === 0)
      // month-1 price changes open a second row
      assert(h.filter(col("valid_from") === 1).count() > 0)
    } finally { h.unpersist(); () }
  }
}
