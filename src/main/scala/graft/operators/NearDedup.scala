package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Near-duplicate detection (SURVEY.md §2 #20-22): MinHash+LSH,
  * SimHash, and n-gram Jaccard. The scale design is the standard
  * three-stage LSH pipeline: shingle → signature (one groupBy) →
  * band-bucket self-join (only colliding docs are compared) →
  * exact-similarity verification on the candidate pairs. No O(n²)
  * cross join anywhere.
  */
object NearDedup {

  /** Shared MinHash/LSH defaults — the incremental (two-sided) tier
    * MUST band identically to the self-join tier or the cross-split
    * equivalence (DataMixSpec) silently breaks. */
  val defaultNumHashes = 64
  val defaultBands = 16
  val defaultRowsPerBand = 4

  /** Word n-gram shingles per document (with duplicates), hashed to
    * 64-bit. Positions are exploded FIRST so the per-shingle hash runs
    * as top-level codegen'd expressions — a higher-order `transform`
    * lambda here would drop the whole column to interpreted eval
    * (~4× slower end-to-end on the dedup pipeline). */
  private def rawShingles(docs: DataFrame, n: Int): DataFrame = {
    // regex trim (TextOps.wsTrim): a leading tab would otherwise
    // produce a phantom empty first token and shift every shingle
    val words = split(TextOps.wsTrim(lower(col("text"))), "\\s+")
    docs
      .select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - n)).as("i"))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", slice(col("w"), col("i") + 1, lit(n)))).as("shingle"))
  }

  /** Distinct shingles, one row per (doc, shingle). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    rawShingles(docs, n).distinct()

  /** MinHash signatures: `numHashes` permutations approximated by
    * seeded xxhash64; one groupBy computes all minima map-side. */
  def minHashSignatures(sh: DataFrame, numHashes: Int = defaultNumHashes): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Candidate pairs from LSH banding (bands × rowsPerBand must not
    * exceed the signature length): docs agreeing on any full band
    * collide. */
  def minHashCandidates(sig: DataFrame, bands: Int = defaultBands, rowsPerBand: Int = defaultRowsPerBand,
                        numHashes: Int = defaultNumHashes): DataFrame = {
    // out-of-range slices would hash identical EMPTY arrays — every
    // doc colliding with every other, the O(n²) blowup LSH exists to
    // avoid — so fail fast: on the declared length here, and on the
    // ACTUAL array length per row (assert_true throws at runtime if a
    // caller passed signatures shorter than declared)
    require(bands * rowsPerBand <= numHashes,
      s"bands*rowsPerBand (${bands * rowsPerBand}) exceeds signature length $numHashes")
    // the runtime check feeds the slice length (coalesce of a passing
    // assert_true is null), so Catalyst cannot prune it away
    val banded = bandHashes(sig, bands, rowsPerBand)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** One (doc_id, band, band_hash) row per signature band — the LSH
    * bucket keys, shared by the self-join (dedup) and the two-sided
    * join (incremental dedup). The runtime length check feeds the
    * slice length (coalesce of a passing assert_true is null), so
    * Catalyst cannot prune it away. */
  private def bandHashes(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val checkedLen = coalesce(
      assert_true(size(col("sig")) >= bands * rowsPerBand,
        lit(s"minhash signature shorter than bands*rowsPerBand (${bands * rowsPerBand})"))
        .cast(IntegerType),
      lit(rowsPerBand))
    sig.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, checkedLen)))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
  }

  /** Exact Jaccard for a set of candidate pairs: join each side's
    * collected shingle set onto the pair and intersect the arrays.
    * Work is proportional to |candidates| (the LSH output), NOT to the
    * inverted-index blowup of a shingle self-join — the property that
    * keeps the verify stage cheap at 100 TB. Per-doc shingle sets are
    * bounded by document length. */
  def jaccard(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("s"), count(lit(1)).as("n"))
    pairs
      .join(sets.select(col("doc_id").as("id_a"), col("s").as("s_a"), col("n").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("s").as("s_b"), col("n").as("n_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(LongType))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Per-doc distinct shingle SET (one aggregation) — the shared input
    * for both signature computation and exact verification, so the
    * expensive shingling+grouping subplan appears once and Catalyst
    * reuses its exchange on the self-join. */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    // dedup inside the aggregation (array_distinct ∘ collect_list)
    // instead of a standalone .distinct() — one shuffle, not two
    rawShingles(docs, n)
      .groupBy("doc_id")
      .agg(array_distinct(collect_list(col("shingle"))).as("s"))
      .withColumn("nsh", size(col("s")).cast(LongType))

  /** Signatures projected straight off the set array in one native
    * pass (`MinHashSignature` — bit-identical to the composed
    * 64×array_min(transform(xxhash64)) form, which ran as interpreted
    * lambdas traversing the array once per permutation); no second
    * aggregation pass. */
  private def signaturesFromSets(sets: DataFrame, numHashes: Int = defaultNumHashes): DataFrame =
    sets.select(col("doc_id"),
      graft.functions.native.minhash_signature(col("s"), numHashes).as("sig"))

  /** Band rows straight off prebuilt shingle sets — the checkpointable
    * per-batch LSH state: one (doc_id, band, bh) row per band, shared
    * by the in-batch self-join, the incremental probe, and the
    * persisted band index (so a batch is shingled/signatured ONCE). */
  private[graft] def bandsFromSets(sets: DataFrame): DataFrame =
    bandHashes(signaturesFromSets(sets), defaultBands, defaultRowsPerBand)

  /** [[minHashDedupOf]] split over PREBUILT per-doc sets and band rows
    * (typically both checkpointed by the caller): band-collision
    * candidates verified by exact Jaccard on the sets — identical
    * output to minHashDedupOf on the same documents. */
  private[graft] def minHashPairsPrebuilt(sets: DataFrame, banded: DataFrame,
                                          threshold: Double): DataFrame = {
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("s").as("s_a"), col("nsh").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("s").as("s_b"), col("nsh").as("n_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(LongType))
      .filter(col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")) >= threshold)
      .select("id_a", "id_b")
  }

  /** MinHash+LSH near-dup pairs verified by exact Jaccard. */
  def minHashDedupOf(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = shingleSets(docs)
    val cand = minHashCandidates(signaturesFromSets(sets))
    val withSets = cand
      .join(sets.select(col("doc_id").as("id_a"), col("s").as("s_a"), col("nsh").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("s").as("s_b"), col("nsh").as("n_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(LongType))
    withSets
      .filter(col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")) >= threshold)
      .select("id_a", "id_b")
    // no ORDER BY here: every internal consumer (cluster resolution,
    // the streaming admit path) is order-insensitive, and the global
    // sort was a whole extra exchange on the pair list; the registered
    // wrapper sorts its output itself
  }

  /** Registered binding. The test corpus is near-dup-free random
    * text, so (mirroring d_dedup_winnow) every 50th sufficiently-long
    * document is re-issued with a short suffix — a deterministic
    * planted NEAR-duplicate (high but non-1.0 Jaccard) whose recovery
    * the driver's rows check pins; the length floor keeps the planted
    * pair's true Jaccard safely above the threshold. */
  def minHashDedup(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // planted ids live at max(id)+1-based offsets — disjoint from every
    // real id at ANY corpus size, unlike a hardcoded constant
    val off = plantedOffset(docs, "doc_id")
    val planted = docs
      .filter(col("doc_id") % 50 === 25 && length(col("text")) >= 200)
      .select((col("doc_id") + lit(off)).as("doc_id"),
        concat(col("text"), lit(" with a brief trailing remark appended")).as("text"))
    minHashDedupOf(docs.unionByName(planted), threshold)
      .orderBy("id_a", "id_b")
  }

  /** One past the table's max id: the offset that keeps planted/
    * synthetic rows id-disjoint from real ones at any corpus size. */
  private[graft] def plantedOffset(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head() match {
      case r if r.isNullAt(0) => 1L
      case r                  => r.getLong(0) + 1L
    }

  /** All-pairs n-gram Jaccard above a threshold — EXACT result via
    * prefix filtering (PPJoin family, Xiao et al.): only the first
    * ⌊(1−t)·n⌋+1 shingles of each doc (in a global canonical order —
    * here the 64-bit hash order) are indexed. Two sets with
    * jaccard ≥ t must overlap within those prefixes, so the candidate
    * join touches a (1−t)-fraction of each posting list instead of
    * all of it — the difference between quadratic and tractable at
    * 100 TB — and exact verification on the full sets restores
    * precision. */
  def ngramJaccardOf(docs: DataFrame, threshold: Double): DataFrame = {
    // prefix length n − ⌈t·n⌉ + 1 in EXACT integer arithmetic: the
    // threshold becomes the rational p/1e6 and ⌈n·p/q⌉ = (n·p+q−1) div q.
    // Floating point here is how false negatives sneak in — 1−0.8
    // evaluates to 0.1999…96, and an absolute epsilon fix stops
    // working once n·t's representation error exceeds it.
    val p = math.round(threshold * 1000000L)
    require(math.abs(p / 1e6 - threshold) < 1e-9,
      s"threshold $threshold must be representable with 6 decimals")
    // SQL `div` is integral long division — no doubles anywhere
    val prefixLen = expr(
      s"cast(nsh - ((nsh * ${p}L + 999999L) div 1000000L) + 1 as int)")
    // canonical order = ascending GLOBAL FREQUENCY (rarest first,
    // hash as tiebreak): any consistent total order keeps the filter
    // lossless, but frequency order puts the rarest shingles in the
    // prefixes, collapsing the candidate count on corpora whose common
    // shingles appear in most documents
    val sh = shingles(docs)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // NOT checkpointed despite three consumers: the shingle aggregate's
    // exchange is reused across them by Spark (ReusedExchange), and
    // materializing the heavy shingle arrays costs more than the resort
    // (measured 3.4s → 4.8s on the registered cleanCorpus path)
    val sets = sh.join(freq, "shingle")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("fs"))
      .withColumn("s", transform(col("fs"), x => x.getField("shingle")))
      .withColumn("nsh", size(col("s")).cast(LongType))
      .withColumn("prefix",
        transform(slice(col("fs"), lit(1), prefixLen), x => x.getField("shingle")))
    val indexed = sets.select(col("doc_id"), col("nsh"),
        posexplode(col("prefix")))
      .select(col("doc_id"), col("nsh"), col("pos").cast(LongType).as("pos"),
        col("col").as("shingle"))
    // length filter (the PPJoin size-ratio bound): jaccard ≥ t forces
    // t·|B| ≤ |A| (and symmetrically), so size-mismatched collisions
    // are dropped AT the candidate join — lossless (the
    // equals-full-inverted-index spec covers this path at t=0.5 and
    // 0.8), and it is exactly the volume the exact-verify stage would
    // otherwise waste on boilerplate-shingle collisions.
    // positional filter (PPJoin's second bound): jaccard ≥ t needs
    // overlap ≥ α = ⌈t·(n_a+n_b)/(1+t)⌉, and a common prefix token at
    // (sorted) positions (i, j) caps the overlap reachable from there
    // at 1 + min(n_a−1−i, n_b−1−j). Applied per matched token before
    // the distinct this stays LOSSLESS: at the pair's FIRST common
    // token no overlap precedes, so a pair with true overlap ≥ α
    // always survives on that row — later rows may prune, which is
    // exactly the candidate volume saved. α in the same p/1e6 integer
    // arithmetic as the prefix: ⌈x/y⌉ = (x+y−1) div y.
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
      .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(LongType))
      .filter(col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")) >= threshold)
      .select("id_a", "id_b")
    // unsorted by design (see minHashDedupOf) — the registered wrapper
    // below adds the output ordering
  }

  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    ngramJaccardOf(Tables.documentsNarrow(spark, dir), threshold)
      .orderBy("id_a", "id_b")

  /** Largest duplicate graph, in edges, that [[duplicateClusters]]
    * resolves on the driver; the distributed star contraction serves
    * only graphs above it. Measured by Profile's `components` section on
    * generated cliques, 4 cores (plans/r20/components.md): the driver
    * path took 64 % less time than min-label propagation (the faster
    * loop on cliques, since deleted) at 10^4 edges, 24 % less at this
    * bound, and about as long at 10^6 and 2·10^6; star contraction took
    * 1.3-7.6× as long as the driver path throughout. At this bound the
    * result holds at most 2^20 rows, a 93 MB local relation that Spark
    * sizes at 24 B a row: 24 MB, under GraftSession's 64 MB broadcast
    * threshold, so the callers' joins broadcast it. */
  private val DriverEdges = 1L << 19

  /** Components of a checkpointed edge set (columns `a`, `b`; `n` rows,
    * at most [[DriverEdges]]) on the driver: `(doc_id, cluster_id =
    * component minimum)` for every endpoint, as a local relation. The
    * endpoints stream from one 1-task job into a primitive array (16 B
    * an edge, and as much again for its sorted distinct copy); a
    * union-find over the distinct ids links to the smaller root, so
    * every root is its component's minimum. An empty set answers with
    * its own checkpoint (measured, r20: an empty local relation costs
    * clusterSplitIncrPrebuilt one more job and 0.3-1.2 s). */
  private def componentsOnDriver(edges: DataFrame, n: Long, a: String, b: String): DataFrame = {
    if (n == 0) return edges.select(col(a).as("doc_id"), col(b).as("cluster_id"))
    val ends = new scala.collection.mutable.ArrayBuilder.ofLong
    ends.sizeHint((2 * n).toInt)
    edges.select(col(a).cast(LongType), col(b).cast(LongType)).coalesce(1).toLocalIterator()
      .forEachRemaining { r => ends += r.getLong(0); ends += r.getLong(1) }
    val pairs = ends.result()
    val ids = pairs.clone()
    java.util.Arrays.sort(ids)
    var k = 0
    ids.indices.foreach { i => if (i == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 } }
    val parent = Array.range(0, k)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    (0 until pairs.length by 2).foreach { i =>
      val x = find(java.util.Arrays.binarySearch(ids, 0, k, pairs(i)))
      val y = find(java.util.Arrays.binarySearch(ids, 0, k, pairs(i + 1)))
      if (x < y) parent(y) = x else if (y < x) parent(x) = y
    }
    val t = edges.schema(a).dataType
    edges.sparkSession.createDataFrame((0 until k).map(i => (ids(i), ids(find(i)))))
      .select(col("_1").cast(t).as("doc_id"), col("_2").cast(t).as("cluster_id"))
  }

  /** Connected components over a duplicate-pair list → `(doc_id,
    * cluster_id = component minimum)` for every endpoint, an endpoint
    * reached only by a self-loop included (labelled itself). One
    * checkpoint of the raw pairs observes their count; up to
    * [[DriverEdges]] pairs the driver resolves them
    * ([[componentsOnDriver]]), 2 jobs in all. Above it, alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) converges in O(log²)
    * rounds REGARDLESS of component diameter, where min-label
    * propagation needs one round per unit of diameter — and nothing
    * bounds the diameter of a duplicate graph (mirror farms, quote
    * cascades re-quoting each other). plans/r22/components.md has the
    * measurement that kept this loop and deleted propagation. Per
    * round: two neighborhood aggregations + keyed joins over the edge
    * list, all shuffles on node ids (AQE-skew-safe; the large-star step
    * is exactly what caps hot-node neighborhoods). */
  def duplicateClusters(pairs: DataFrame): DataFrame = duplicateClusters(pairs, DriverEdges)

  /** [[duplicateClusters]] with the driver bound given: 0 runs the
    * contraction on every non-empty graph. */
  private[graft] def duplicateClusters(pairs: DataFrame, driverEdges: Long): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
    def symmetric(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = symmetric(e)
      val m = nbr.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      canon(nbr.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: u and every neighbor v < u link to min(N<(u) ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val nbr = symmetric(e)
      val small = nbr.filter(col("v") < col("u"))
      val m = small.groupBy("u").agg(min(col("v")).as("m"))
      canon(small.join(m, "u").select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v"))))
    }
    // the edge count rides each checkpoint job as an observed metric
    // (guide §1.2/§2.4 job thrift) — no separate isEmpty/count actions
    def ckptCounted(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val c = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
      (c, obs.get.apply("n").asInstanceOf[Long])
    }
    // one evaluation of the (expensive — PPJoin/MinHash) pair plan,
    // checkpointed RAW: canonicalizing first would put a `distinct`
    // shuffle, which adaptive execution runs as a job of its own, in
    // front of the bound check. A duplicate-free input (the COMMON case
    // for a clean streaming batch) and any graph up to the bound take
    // no further job here
    val (raw, n) = ckptCounted(pairs.select(col("id_a").as("u"), col("id_b").as("v")))
    if (n <= driverEdges) return componentsOnDriver(raw, n, "u", "v")
    // nodes from the raw pairs, so an endpoint reached only by a
    // self-loop (which canon drops) still labels itself
    val nodes = symmetric(raw).select("u").distinct().localCheckpoint(true)
    var (edges, edgeCount) = ckptCounted(canon(raw))
    var stable = false
    while (!stable) {
      // the paper's termination criterion is BOTH steps individually at
      // a fixed point (that is what proves the result is a star
      // forest) — a composition-only check could stop on a large-star/
      // small-star 2-cycle.
      // Job thrift (these are DISTINCT canonical sets): unequal counts
      // settle inequality outright, so the shuffling except-equality
      // runs as ONE combined job, and only on rounds where all three
      // counts already agree — a round is 2 jobs, not 2 excepts + 4
      // counts (equal counts + empty one-direction except ⟺ set
      // equality).
      val (afterLarge, cL) = ckptCounted(largeStar(edges))
      val (afterSmall, cS) = ckptCounted(smallStar(afterLarge))
      stable = cL == edgeCount && cS == cL &&
        afterLarge.except(edges)
          .unionAll(afterSmall.except(afterLarge))
          .limit(1).collect().isEmpty
      edges = afterSmall
      edgeCount = cS
    }
    // converged = disjoint stars centered at component minima: members
    // appear on the v side exactly once; centers label themselves
    nodes
      .join(edges.select(col("v").as("u"), col("u").as("lbl")), Seq("u"), "left")
      .select(col("u").as("doc_id"), coalesce(col("lbl"), col("u")).as("cluster_id"))
  }

  /** Former name of [[duplicateClusters]], kept for the benchmark's
    * `corpus_dedup` step, which calls it by this name. */
  def duplicateClustersStar(pairs: DataFrame): DataFrame = duplicateClusters(pairs)

  /** Registered `d_dup_clusters`: [[duplicateClusters]] over
    * deterministic PPJoin pair generation, hash-matched against a
    * DuckDB oracle whose label propagation is a recursive CTE. Below
    * [[DriverEdges]] pairs (every registered scale) the components are
    * resolved on the driver, not by the star contraction; ComponentsSpec
    * pins the two equal. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccardOf(Tables.documents(spark, dir), 0.8)
    duplicateClusters(pairs.select("id_a", "id_b")).orderBy("doc_id")
  }

  /** Training-corpus cleaning: quality-filter documents, then drop
    * every near-duplicate except its cluster's canonical (minimum
    * doc_id) — the composition a data pipeline runs before
    * tokenization.
    *
    * Pair generation is MinHash+LSH by default (the cheapest plan at
    * 100 TB); `exactPairs = true` swaps in the PPJoin prefix-filtered
    * EXACT Jaccard ([[ngramJaccardOf]]) — same asymptotic shape (no
    * all-pairs term), but deterministic, which is what lets the
    * registered `d_clean_corpus` hash-match a DuckDB oracle
    * end-to-end (a MinHash edge set depends on engine-private
    * xxhash64 permutations no other engine can reproduce). */
  def cleanCorpus(docs: DataFrame, jaccardThreshold: Double = 0.5,
                  minTokens: Long = 5, minAlphaRatio: Double = 0.5,
                  exactPairs: Boolean = false): DataFrame = {
    // the quality gate runs INLINE in the corpus scan: the previous
    // docs ⋈ qualityScoreOf(docs).filter(...) shape scanned the corpus
    // twice and paid a join exchange for what is a per-row predicate
    // (doc_id is unique, so the semi-join IS the filter) — same rows,
    // oracle-identical (guide §2.4)
    val qualified = docs.filter(
      TextOps.qualityPass(minTokens, minAlphaRatio))
    val pairs =
      if (exactPairs) ngramJaccardOf(qualified, jaccardThreshold)
      else minHashDedupOf(qualified, jaccardThreshold)
    val clusters = duplicateClusters(pairs.select("id_a", "id_b"))
    qualified
      .join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(docs.columns.map(col): _*)
      .orderBy("doc_id")
  }

  /** Registered binding for `d_clean_corpus`: exact pair generation
    * plus planted near-duplicates (mirroring [[minHashDedup]]'s
    * offset-derived planting), so every stage — quality filter, pair
    * generation, connected components, canonicalization —
    * is deterministic and the whole composition hash-matches a DuckDB
    * oracle whose label propagation is a recursive CTE. The planting
    * proves the cluster path non-vacuous: planted rows enter the
    * qualified corpus but never the output (their cluster canonical
    * is the original). */
  def cleanCorpusExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val off = plantedOffset(docs, "doc_id")
    val planted = docs
      .filter(col("doc_id") % 50 === 25 && length(col("text")) >= 200)
      .select((col("doc_id") + lit(off)).as("doc_id"),
        concat(col("text"), lit(" with a brief trailing remark appended")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    cleanCorpus(docs.unionByName(planted.select(docs.columns.map(col): _*)),
      exactPairs = true)
  }

  /** Cluster-aware (LEAKAGE-SAFE) train/val/test split. The
    * content-hash split ([[TextOps.splitAssignOf]]) keys each document
    * independently, so two NEAR-duplicates can land on opposite sides
    * of the train/test line — the classic evaluation leak (an eval
    * document whose near-copy was trained on scores as memorization,
    * not generalization). Here the split key is the duplicate
    * CLUSTER's anchor: exact 3-gram Jaccard pairs ([[ngramJaccardOf]]
    * — the deterministic PPJoin path, so the whole composition is
    * oracle-able; the MinHash+LSH candidate generator feeds the same
    * components at 100 TB) → connected components → every
    * member buckets by the md5 of its component-minimum document's
    * TEXT. All members of a cluster land in the same split by
    * construction; singletons reduce to the content-hash split
    * exactly. Cost beyond the pair generation both paths already
    * share: one component resolution (cluster-sized) + two id-keyed
    * joins — no new corpus-sized shuffle shape. Content-keyed like
    * its per-doc sibling: the assignment survives re-ids and
    * incremental growth (a new near-copy of an old anchor joins the
    * anchor's split instead of re-rolling the cluster). */
  def clusterSplitOf(docs: DataFrame, jaccardThreshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardOf(docs, jaccardThreshold)
    val clusters = duplicateClusters(pairs.select("id_a", "id_b"))
    val anchored = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("anchor_id"))
    // the anchor's CONTENT decides the bucket (same first-16-md5-bits
    // key as splitAssignOf, so a singleton's split is bit-identical
    // to the per-doc path)
    val anchorBucket = docs.select(col("doc_id").as("anchor_id"),
      (conv(substring(md5(col("text")), 1, 4), 16, 10).cast(LongType) % 100)
        .as("bucket"))
    anchored.join(anchorBucket, "anchor_id")
      .select(col("doc_id"), col("anchor_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Registered `t_split_safe`: the leakage-safe split over the raw
    * corpus at the cleanCorpus pair threshold (0.5) — hash-matched
    * against a DuckDB twin whose components are a recursive CTE (the
    * d_clean_corpus machinery) and whose bucketing is t_split's. */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame =
    clusterSplitOf(Tables.documents(spark, dir))

  /** CROSS-corpus exact n-gram Jaccard: every (base, batch) pair at
    * or above the threshold — the deterministic pair generator of the
    * incremental tier ([[incrementalNearOf]] is its MinHash sibling;
    * this one is oracle-able). The batch side probes a FULL base
    * shingle index through a ONE-SIDED prefix filter: jaccard ≥ t
    * forces |A∩B| ≥ t·|A| (since |B| ≥ |A∩B|), so if the first
    * |A|−⌈t·|A|⌉+1 shingles of a probe all miss a base doc, the
    * remaining ⌈t·|A|⌉−1 cannot reach the bound — lossless for ANY
    * prefix choice, no global canonical order needed (the order
    * requirement is a two-sided-prefix artifact). Size-ratio bound
    * applied at the candidate join (t·|B| ≤ |A| ≤ |B|/t), exact
    * verification on the full sets. Work is probe-prefix × posting
    * collisions — the base is indexed once and never self-joined. */
  /** The PERSISTABLE standing state of the cross tier: one row per
    * base doc with its sorted shingle set — build once, store beside
    * the corpus, probe on every drop (the exact-tier analog of
    * [[bandTableOf]]). */
  def shingleSetsOf(docs: DataFrame): DataFrame =
    shingles(docs).groupBy("doc_id")
      .agg(array_sort(collect_set(col("shingle"))).as("s"))
      .withColumn("nsh", size(col("s")).cast(LongType))

  def ngramJaccardCrossOf(base: DataFrame, batch: DataFrame,
                          threshold: Double): DataFrame =
    ngramJaccardCrossPrebuilt(shingleSetsOf(base), batch, threshold)

  /** [[ngramJaccardCrossOf]] against an already-built base index
    * ([[shingleSetsOf]], typically read back from storage): the
    * per-drop cost is the batch's own shingling + the probe — the
    * base corpus is never re-shingled. */
  def ngramJaccardCrossPrebuilt(baseSets: DataFrame, batch: DataFrame,
                                threshold: Double): DataFrame = {
    val p = math.round(threshold * 1000000L)
    require(math.abs(p / 1e6 - threshold) < 1e-9,
      s"threshold $threshold must be representable with 6 decimals")
    val prefixLen = expr(
      s"cast(nsh - ((nsh * ${p}L + 999999L) div 1000000L) + 1 as int)")
    val b = baseSets
      .select(col("doc_id").as("id_base"), col("s").as("s_b"), col("nsh").as("n_b"))
    val n = shingleSetsOf(batch)
      .withColumn("prefix", slice(col("s"), lit(1), prefixLen))
      .select(col("doc_id").as("id_new"), col("s").as("s_n"), col("nsh").as("n_n"),
        col("prefix"))
    val probe = n.select(col("id_new"), col("n_n"), explode(col("prefix")).as("shingle"))
    val baseIdx = b.select(col("id_base"), col("n_b"), explode(col("s_b")).as("shingle"))
    val cand = probe.join(baseIdx,
        probe("shingle") === baseIdx("shingle") &&
        col("n_b") * 1000000L >= col("n_n") * p &&
        col("n_n") * 1000000L >= col("n_b") * p)
      .select("id_base", "id_new").distinct()
    cand
      .join(b, "id_base")
      .join(n.select("id_new", "s_n", "n_n"), "id_new")
      .withColumn("n_common", size(array_intersect(col("s_b"), col("s_n"))).cast(LongType))
      .filter(col("n_common").cast(DoubleType) /
        (col("n_b") + col("n_n") - col("n_common")) >= threshold)
      .select("id_base", "id_new")
    // unsorted by design (see minHashDedupOf): the incremental-split
    // caller aggregates over these pairs, order-free
  }

  /** INCREMENTAL leakage-safe split: assign a NEW batch of documents
    * without recomputing the corpus-wide components — the growth path
    * of [[clusterSplitOf]] (a 100 TB corpus re-resolving all history
    * per daily drop would pay the full pair generation every day).
    * Batch components form over intra-batch pairs only; a component
    * touching ANY base document (via [[ngramJaccardCrossOf]]) inherits
    * the minimum linked base ANCHOR's frozen (bucket, split) — so a
    * new near-copy of trained-on material can never land in an eval
    * split — and a base-free component rolls a fresh anchor from its
    * minimum member's content, exactly the full path's rule.
    * FROZEN-HISTORY semantics, stated: base assignments never change;
    * a batch doc bridging two base anchors inherits the minimum and
    * does NOT merge them (a full recompute would — re-run
    * [[clusterSplitOf]] when history may be rewritten). Work per
    * batch: batch-sized pair generation + one base-index probe. */
  def clusterSplitIncrOf(baseDocs: DataFrame, baseAssign: DataFrame,
                         batch: DataFrame,
                         jaccardThreshold: Double = 0.5): DataFrame =
    clusterSplitIncrPrebuilt(shingleSetsOf(baseDocs), baseAssign, batch,
      jaccardThreshold)

  /** [[clusterSplitIncrOf]] against the persisted base index — the
    * form a daily pipeline runs. */
  def clusterSplitIncrPrebuilt(baseSets: DataFrame, baseAssign: DataFrame,
                               batch: DataFrame,
                               jaccardThreshold: Double = 0.5): DataFrame = {
    val cross = ngramJaccardCrossPrebuilt(baseSets, batch, jaccardThreshold)
    val intra = ngramJaccardOf(batch, jaccardThreshold)
    val member = batch.select("doc_id")
      .join(duplicateClusters(intra.select("id_a", "id_b")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("comp_id"))
    val linked = cross
      .join(baseAssign.select(col("doc_id").as("id_base"),
        col("anchor_id").as("base_anchor")), "id_base")
      .join(member.select(col("doc_id").as("id_new"), col("comp_id")), "id_new")
      .groupBy("comp_id").agg(min("base_anchor").as("base_anchor"))
    // NOT checkpointed despite the union's two branches re-evaluating
    // the cross-probe verify buried in `linked`: measured (r17), the
    // eager materialization SERIALIZES what the final action otherwise
    // runs as two concurrent subtrees back-filling idle cores (guide
    // §2.6) — wall went 5.9 s → 7.4-8.3 s with the checkpoint. CPU-bound
    // deployments can revisit; on wall-clock the parallel shape wins.
    val anchored = member.join(linked, Seq("comp_id"), "left")
    // one row per base anchor: members share their anchor's key by
    // the full path's construction
    val baseKey = baseAssign
      .select(col("anchor_id").as("base_anchor"), col("bucket"), col("split"))
      .distinct()
    val inherited = anchored.filter(col("base_anchor").isNotNull)
      .join(baseKey, "base_anchor")
      .select(col("doc_id"), col("base_anchor").as("anchor_id"),
        col("bucket"), col("split"))
    val freshKey = batch.select(col("doc_id").as("comp_id"),
      (conv(substring(md5(col("text")), 1, 4), 16, 10).cast(LongType) % 100)
        .as("bucket"))
    val fresh = anchored.filter(col("base_anchor").isNull)
      .join(freshKey, "comp_id")
      .select(col("doc_id"), col("comp_id").as("anchor_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
    inherited.unionByName(fresh).orderBy("doc_id")
  }

  /** Registered `t_split_safe_incr`: base = the corpus minus every
    * tenth doc; batch = the held-out tenth PLUS planted perturbed
    * copies of base docs (must INHERIT their originals' anchors) and
    * planted copies of batch docs (must form NEW components) — both
    * planting rules mirrored by the DuckDB twin, so the inherit, the
    * fresh, and the singleton paths are all non-vacuously hashed.
    * Per-JVM fixture (the media/timeline precedent): the base
    * ASSIGNMENT is the standing state an incremental tier maintains —
    * recomputing it per invocation would time the full path this
    * operator exists to avoid — so it materializes once per source
    * dir and the query times the incremental assignment itself. */
  def clusterSplitIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val off = plantedOffset(docs, "doc_id")
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val fixture = splitBaseFixtures.computeIfAbsent(dir, _ => {
      val p = graft.util.Scratch.dir("split_base")
      clusterSplitOf(base).write.parquet(s"$p/assign")
      shingleSetsOf(base).write.parquet(s"$p/index")
      p
    })
    def planted(src: DataFrame, shift: Long, suffix: String) = src
      .filter(length(col("text")) >= 200)
      .select((col("doc_id") + lit(shift)).as("doc_id"),
        concat(col("text"), lit(suffix)).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
      .select(docs.columns.map(col): _*)
    // four consumers (probe sets, intra pairs, membership, fresh keys):
    // materialize the planted union once (the corpus-export lesson).
    // Repartitioned to session parallelism BEFORE the checkpoint: the
    // 3-way union of widened scans carries 3× the session's partitions
    // (96 on local[32]), and the checkpoint would pin that width onto
    // every downstream stage — 3× the tasks for batch-sized data
    // (guide §2.2: fewer, larger partitions).
    val batch = docs.filter(col("doc_id") % 10 === 7)
      .unionByName(planted(base.filter(col("doc_id") % 50 === 25), off,
        " with a brief trailing remark appended"))
      .unionByName(planted(
        docs.filter(col("doc_id") % 10 === 7 && col("doc_id") % 20 === 17),
        2L * off, " plus an unrelated closing line"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint(true)
    // the index scan feeds the probe's CPU-heavy chain (full-set
    // explode → candidate join → array_intersect verify), and broadcast
    // joins fuse that chain INTO the scan stage — a ~2-split file
    // layout would run it 2-wide on a 32-core session (measured: one
    // 1.45 s 2-task stage dominating the query). Same widen rationale
    // and same scale-adaptive guard as Tables.documents: at production
    // index sizes the scan already yields ≥ parallelism splits and
    // widen is the identity.
    clusterSplitIncrPrebuilt(
      Tables.widen(spark, spark.read.parquet(s"$fixture/index"), s"$fixture/index"),
      spark.read.parquet(s"$fixture/assign"), batch)
  }

  private val splitBaseFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Winnowing-fingerprint near-dup (MOSS scheme, Schleimer et al.
    * SIGMOD'03 — the same `WinnowFingerprint` expression as
    * t_fingerprint): documents sharing a high fraction of winnowed
    * k-gram fingerprints. Candidate generation is the inverted
    * fingerprint index (docs sharing ANY fingerprint), so work is
    * ∝ posting-list collisions, not corpus²; fingerprints appearing
    * in more than `maxDf` documents are dropped from the index
    * (boilerplate phrases — exactly the PPJoin stop-token idea),
    * which only lowers the similarity estimate, never inflates it —
    * a true near-copy shares ALL its fingerprints, rare ones
    * included, so its containment survives any cap. The cap is the
    * scale guarantee: candidate volume is Σ df² ≤ maxDf · |postings|,
    * linear in the corpus for fixed maxDf.
    * Scored by CONTAINMENT (|common| / min(|fps|)), not Jaccard — the
    * winnowing guarantee (every shared run of length ≥ k+w−1 shares a
    * fingerprint) makes this catch a document embedded inside a much
    * larger one, which symmetric shingle Jaccard structurally misses. */
  def winnowDedupOf(docs: DataFrame, threshold: Double = 0.6,
                    maxDf: Long = 50, k: Int = 24, w: Int = 8): DataFrame = {
    // k is in CHARACTERS: dedup needs multi-word grams (t_fingerprint's
    // k=5 is for fine-grained match offsets) — on a natural-language
    // corpus a 5-char gram is pure boilerplate, every fingerprint
    // exceeds any df cap, and the index goes empty. k=24 ≈ 4-5 words
    // keeps fingerprints discriminative; the winnowing guarantee then
    // covers shared runs of ≥ k+w−1 = 31 chars.
    // winnow output is sorted-distinct per doc → explode is already
    // one row per (doc, fingerprint)
    val fps = docs.select(col("doc_id"),
      explode(graft.functions.native.winnow_fingerprint(col("text"), k, w)).as("fp"))
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val indexed = fps.join(rare, "fp")
    val common = indexed.as("a").join(indexed.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("nf").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("nf").as("n_b")), "id_b")
      .withColumn("containment",
        col("n_common").cast(DoubleType) / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
      .orderBy("id_a", "id_b")
  }

  // registered default 0.8: the short boilerplate-heavy test docs make
  // low-containment collisions common; 0.8 keeps the output dup-like.
  // The test corpus is near-dup-free random text, so (as with the CDC
  // change files synthesized from orders) every 50th document is
  // re-issued wrapped in extra text — a deterministic planted
  // CONTAINED duplicate whose recovery the driver's rows check pins.
  def winnowDedup(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documentsNarrow(spark, dir).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(plantedOffset(docs, "doc_id"))).as("doc_id"),
        concat(lit("quoted verbatim below . "), col("text"),
          lit(" . with further commentary appended")).as("text"))
    winnowDedupOf(docs.unionByName(planted), threshold)
  }

  /** Repeated-substring census — the ExactSubstr tier of training-data
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): an L-token span whose text occurs more
    * than once ACROSS THE CORPUS is memorizable duplicated text that
    * document-level dedup (exact / minhash / simhash / winnow) cannot
    * see, because the containing documents differ — boilerplate,
    * license blocks, templated paragraphs. Output is one row per
    * document: its span count, how many of its spans are duplicated
    * corpus-wide, the duplicated fraction, and the release flag at
    * `maxDupRatio` (the drop-or-rewrite decision a pipeline applies).
    *
    * Scale shape: the span table is one row per token position (the
    * shingle explode, L× nothing — same volume as the n=3 shingle
    * path), and the census groups on md5(span) — a 128-bit key BOTH
    * engines compute identically, so the shuffle carries 32-byte keys
    * instead of L-word strings and the DuckDB oracle reproduces the
    * exact grouping (an engine-private hash like xxhash64 here would
    * put hash collisions in the result path). Two hash-partitioned
    * shuffles over the span table (census + count-join) plus the
    * per-doc aggregation — the exact-dedup shape at L× the volume,
    * no quadratic term anywhere. */
  def substrDupOf(docs: DataFrame, l: Int = 8, maxDupRatio: Double = 0.2): DataFrame = {
    val sp = spanHashes(docs, l)
    val census = sp.groupBy("span_md5").agg(count(lit(1)).as("cnt"))
    val perDoc = sp.join(census, "span_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_spans"),
        count(when(col("cnt") >= 2, 1)).cast(LongType).as("n_dup_spans"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast(DoubleType) / col("n_spans")))
      .withColumn("is_flagged", when(col("dup_ratio") > maxDupRatio, 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** One md5 per L-token span start position — the same explode-first
    * codegen idiom as `rawShingles` (a higher-order transform lambda
    * would drop to interpreted eval), with md5 instead of xxhash64
    * because the span key participates in oracle-checked counts. */
  private def spanHashes(docs: DataFrame, l: Int): DataFrame =
    positionedSpanHashes(docs, l).select("doc_id", "span_md5")

  /** Span hashes WITH their 0-based start position and the original
    * (case-preserving) token array — the scrub path needs positions to
    * cut and original tokens to rebuild; hashing runs over lowercased
    * copies so the census and the scrub agree on span identity. */
  private def positionedSpanHashes(docs: DataFrame, l: Int): DataFrame = {
    val words = split(TextOps.wsTrim(col("text")), "\\s+")
    docs
      .select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= l)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - l)).as("i"))
      .select(col("doc_id"), col("w"), col("i"),
        md5(lower(concat_ws(" ", slice(col("w"), col("i") + 1, lit(l))))).as("span_md5"))
  }

  /** ExactSubstr REMOVAL — the action half of the census: every
    * duplicated L-token span keeps exactly ONE canonical occurrence
    * corpus-wide (the smallest (doc_id, position), the same
    * min-id-representative convention as the other dedup tiers) and
    * every other occurrence's tokens are cut from their documents,
    * overlapping cut regions unioned per document. Output is one row
    * per document with the rebuilt (case-preserving) text and the
    * number of tokens removed — documents shrink, none disappear.
    *
    * Scale shape: census + rank-per-span + covered-position explode +
    * one anti-join on (doc, position) + per-doc ordered reassembly —
    * all keyed shuffles over token-volume tables; the per-span rank
    * window partitions by span_md5 (occurrence counts, tiny
    * partitions), never by doc or corpus. */
  def substrScrubOf(docs: DataFrame, l: Int = 8): DataFrame = {
    val sp = positionedSpanHashes(docs, l)
    val census = sp.groupBy("span_md5").agg(count(lit(1)).as("cnt"))
    // every non-canonical occurrence of a duplicated span
    val wOcc = org.apache.spark.sql.expressions.Window
      .partitionBy("span_md5").orderBy("doc_id", "i")
    val cut = sp.join(census.filter(col("cnt") >= 2), "span_md5")
      .withColumn("rn", row_number().over(wOcc))
      .filter(col("rn") > 1)
    // union of covered 0-based token positions per document
    val covered = cut
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + l - 1)).as("pos"))
      .distinct()
    // empty/whitespace docs carry NO tokens (split of "" yields a
    // phantom "" element — filtered here so removed counts stay 0)
    val toks = docs
      .filter(length(TextOps.wsTrim(col("text"))) > 0)
      .select(col("doc_id"), split(TextOps.wsTrim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("pt"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("pt"), x => x.getField("tok"))).as("clean_text"),
        col("n_kept"))
    docs.select(col("doc_id"),
        when(length(TextOps.wsTrim(col("text"))) === 0, lit(0))
          .otherwise(size(split(TextOps.wsTrim(col("text")), "\\s+")))
          .cast(LongType).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast(LongType).as("n_tokens_removed"))
      .orderBy("doc_id")
  }

  /** Registered binding — same wrapper-disguised planting as
    * `substrDup`, so the scrub has real work to do: the planted copy
    * keeps its wrapper words and loses its interior (the original,
    * being the canonical occurrence, survives intact). */
  def substrScrub(spark: SparkSession, dir: String, l: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + lit(plantedOffset(docs, "doc_id"))).as("doc_id"),
        concat(lit("prefatory remark . "), col("text"),
          lit(" . closing remark")).as("text"))
    substrScrubOf(docs.unionByName(planted), l)
  }

  /** Registered binding. The test corpus is random text with no true
    * repeated spans, so every 40th document's body is re-issued at a
    * max(id)+1-based id wrapped in fresh prefix/suffix words: the
    * wrapper defeats document-level exact dedup while every interior
    * span repeats — exactly the leak ExactSubstr exists to catch. The
    * oracle reproduces the planting. */
  def substrDup(spark: SparkSession, dir: String, l: Int = 8,
                maxDupRatio: Double = 0.2): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + lit(plantedOffset(docs, "doc_id"))).as("doc_id"),
        concat(lit("prefatory remark . "), col("text"),
          lit(" . closing remark")).as("text"))
    substrDupOf(docs.unionByName(planted), l, maxDupRatio)
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least `minHits` word n-grams with a benchmark/eval set — the
    * standard test-set-leakage scan a training pipeline runs before
    * release (the GPT-3/PaLM-style n-gram overlap check). Output is one
    * row per corpus document with its overlap count, clean docs
    * included (n_bench_shingles = 0).
    *
    * Scale shape: the benchmark side is tiny relative to the corpus
    * (eval suites are MBs against 100 TB), so its distinct shingle set
    * is BROADCAST and the scan is one corpus pass — a broadcast
    * semi-join-shaped aggregation, no corpus shuffle beyond the
    * per-doc count. The same plan serves as the exact fallback for a
    * bloom-filter prefilter at extreme benchmark sizes. */
  def decontaminateOf(corpus: DataFrame, benchmark: DataFrame,
                      n: Int = 3, minHits: Long = 1): DataFrame = {
    val benchShingles = shingles(benchmark, n).select("shingle").distinct()
    flagContamination(shingles(corpus, n), benchShingles,
      corpus.select("doc_id"), minHits)
  }

  /** The shared flagging tail of both decontamination variants — the
    * two are contractually result-identical (one oracle), so the
    * exact join, per-doc count, and minHits flag live in ONE place. */
  private def flagContamination(corpusShingles: DataFrame, benchShingles: DataFrame,
                                corpusIds: DataFrame, minHits: Long): DataFrame = {
    val hits = corpusShingles
      .join(broadcast(benchShingles), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_shingles"))
    corpusIds
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bench_shingles"), lit(0L)).as("n_bench_shingles"))
      .withColumn("is_contaminated",
        when(col("n_bench_shingles") >= minHits, 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** Registered binding: every 20th document plays the benchmark set,
    * the rest are the corpus under scan — deterministic roles, so the
    * DuckDB oracle reproduces them exactly. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsNarrow(spark, dir)
    decontaminateOf(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Bloom-prefiltered decontamination — the shape for benchmark sets
    * too large to broadcast as an exact hash set: a Bloom filter built
    * from the benchmark shingles (fixed size regardless of item count)
    * prunes the corpus shingle stream BEFORE the exact broadcast join,
    * so the join input is hits+false-positives instead of the whole
    * corpus. The exact join then removes the false positives, making
    * the result IDENTICAL to [[decontaminateOf]] (same oracle) — the
    * bloom stage only cuts shuffle/join volume. */
  def decontaminateBloomOf(corpus: DataFrame, benchmark: DataFrame,
                           n: Int = 3, minHits: Long = 1,
                           expectedItems: Long = 1L << 20,
                           fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val benchShingles = shingles(benchmark, n).select("shingle").distinct()
    val bloom = benchShingles.stat.bloomFilter("shingle", expectedItems, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val survivors = shingles(corpus, n).as[(Long, Long)]
      .filter(t => bloomBc.value.mightContainLong(t._2))
      .toDF("doc_id", "shingle")
    flagContamination(survivors, benchShingles, corpus.select("doc_id"), minHits)
  }

  /** Registered binding: same deterministic corpus/benchmark roles as
    * [[decontaminate]], so both variants share one DuckDB oracle. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsNarrow(spark, dir)
    decontaminateBloomOf(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Contamination release report: per-source contaminated-document
    * counts and rate — the dashboard a data owner reads to decide
    * which source to re-crawl or drop when benchmark overlap shows
    * up. One aggregation over the decontamination scan on the
    * (low-cardinality) source key. */
  def contaminationBySourceOf(corpus: DataFrame, benchmark: DataFrame,
                              n: Int = 3, minHits: Long = 1): DataFrame =
    decontaminateOf(corpus, benchmark, n, minHits)
      .join(corpus.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_contaminated")).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast(DoubleType) / col("n_docs"))
      .orderBy("source")

  def contaminationBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminationBySourceOf(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Incremental ingestion dedup, exact tier: flag each NEW document
    * against the existing base corpus by content hash — the base is
    * aggregated to (hash → canonical id) once and joined, never
    * re-deduped. The join key is the 256-bit hash, not the text, so
    * at 100 TB the shuffle carries 32-byte keys instead of documents.
    * Unmatched docs report dup_of = -1 (scalar-only driver
    * contract). */
  def incrementalExactOf(base: DataFrame, batch: DataFrame): DataFrame = {
    val baseHashes = base
      .select(sha2(col("text"), 256).as("content_sha"), col("doc_id"))
      .groupBy("content_sha").agg(min(col("doc_id")).as("dup_of"))
    batch.select(col("doc_id"), sha2(col("text"), 256).as("content_sha"))
      .join(baseHashes, Seq("content_sha"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNotNull, 1).otherwise(0).as("is_exact_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy("doc_id")
  }

  /** Registered binding: every 5th document plays the incoming batch,
    * the rest are the existing corpus — deterministic roles for the
    * DuckDB oracle. */
  def incrementalExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsNarrow(spark, dir)
    incrementalExactOf(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  /** Incremental ingestion dedup, near tier: MinHash band buckets of
    * the NEW batch joined against band buckets of the base — a
    * two-sided LSH join, so candidate volume scales with the batch
    * (small) times bucket collision rate, never base². At 100 TB the
    * base-side shingle/signature subplan is the natural thing to
    * persist between ingests (bucketed by band hash); here it is
    * recomputed per call. Verification is exact Jaccard on candidate
    * pairs only. */
  def incrementalNearOf(base: DataFrame, batch: DataFrame,
                        threshold: Double): DataFrame =
    incrementalNearPrebuilt(base, bandTableOf(base), batch, threshold)
      .orderBy("batch_id", "base_id")

  /** The (doc_id, band, bh) band table of a document set — the
    * PERSISTABLE index row of the incremental near tier: a standing
    * ingest stores this next to the admitted corpus (see
    * `CorpusStream.runNearDedup`), so a new batch probes history
    * without re-signaturing it. */
  def bandTableOf(docs: DataFrame): DataFrame =
    bandHashes(signaturesFromSets(shingleSets(docs)), defaultBands, defaultRowsPerBand)

  /** Incremental near tier against a PREBUILT base band table:
    * candidates come from batch bands ⋈ base bands, and base shingle
    * sets are recomputed only for the CANDIDATE documents (semi-join
    * first) — per-batch work is O(batch + candidates), never O(base),
    * which is what makes a per-trigger streaming call sustainable. */
  def incrementalNearPrebuilt(base: DataFrame, baseBands: DataFrame,
                              batch: DataFrame, threshold: Double): DataFrame = {
    val batchSets = shingleSets(batch)
    incrementalNearPrebuiltBatch(base, baseBands, batchSets,
      bandHashes(signaturesFromSets(batchSets), defaultBands, defaultRowsPerBand),
      threshold)
  }

  /** [[incrementalNearPrebuilt]] with the BATCH side's sets and band
    * rows also prebuilt (the streaming admit path computes them once
    * per trigger and feeds every tier from the checkpoints). */
  private[graft] def incrementalNearPrebuiltBatch(
      base: DataFrame, baseBands: DataFrame,
      batchSets: DataFrame, batchBands: DataFrame,
      threshold: Double): DataFrame = {
    val cand = batchBands.as("x").join(baseBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("base_id"))
      .distinct()
    val baseSets = shingleSets(
      base.join(cand.select(col("base_id").as("doc_id")).distinct(), "doc_id"))
    cand
      .join(batchSets.select(col("doc_id").as("batch_id"),
        col("s").as("s_a"), col("nsh").as("n_a")), "batch_id")
      .join(baseSets.select(col("doc_id").as("base_id"),
        col("s").as("s_b"), col("nsh").as("n_b")), "base_id")
      .withColumn("n_common", size(array_intersect(col("s_a"), col("s_b"))).cast(LongType))
      .filter(col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")) >= threshold)
      .select(col("batch_id"), col("base_id"))
  }

  def incrementalNear(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalNearOf(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), threshold)
  }

  /** 64-bit SimHash per document: majority vote of each bit over the
    * document's word hashes — ONE custom typed-imperative aggregate
    * (`SimHashAgg`) holding the 64 vote counters in a single buffer,
    * instead of 64 separate conditional-sum aggregate columns. */
  def simHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id")
      .agg(graft.functions.native.simhash_agg(xxhash64(col("word"))).as("simhash"))

  /** SimHash near-dup pairs: 4×16-bit band join (a pair within
    * hamming distance 3 must agree on ≥1 band), verified by
    * `bit_count(xor) <= maxHamming`. */
  def simHashDedup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val sh = simHashes(Tables.documents(spark, dir))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bh"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
      .orderBy("id_a", "id_b")
  }
}
