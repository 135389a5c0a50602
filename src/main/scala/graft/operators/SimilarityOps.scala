package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Embedding similarity operators (SURVEY.md §2 #23-25): cosine
  * near-dup pairs, brute-force top-k ANN, and the LSH-bucketed scale
  * path. Vectors are `array<float>`; all math runs through
  * `functions.aggregate`/`zip_with` in whole-stage codegen (double
  * accumulation, sequential order → deterministic).
  *
  * Each operator takes a `(vec_id, embedding)` DataFrame; the
  * `SparkSession, dir` overloads bind to the embeddings table for the
  * driver contract.
  */
object SimilarityOps {

  /** dot(a,b) accumulated left-to-right in double — a native codegen
    * Expression (no intermediate array, unlike zip_with+aggregate);
    * identical accumulation order, so results are bit-equal to the
    * composed form. */
  def dot(a: Column, b: Column): Column = graft.functions.native.dot_f(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))

  /** Cell count for an n-vector corpus: one cell per `targetPerCell`
    * vectors with a floor of 16 and the same 1<<20 cap as
    * `TextOps.packShardsFor`, clamped to n so seed selection
    * (`vec_id < kCells`) always finds a vector. Keeping cell SIZE
    * constant keeps SemDeDup's per-cell quadratic term and IVF's
    * per-probe scan cost flat as the corpus grows — kCells is a dial
    * a 100 TB run must scale with the data, not a constant. */
  def kCellsFor(nVectors: Long, targetPerCell: Long = 4096L): Int =
    math.max(1L, math.min(math.min(nVectors, 1L << 20),
      math.max(16L, (nVectors + targetPerCell - 1) / targetPerCell))).toInt

  /** Near-duplicate pairs above a cosine threshold.
    *
    * Scale note: with `useLsh` candidate generation goes through the
    * banded hyperplane tables (`lshBandBucketsOf`) and only vectors
    * colliding in SOME band are compared — the 100 TB path
    * (approximate: a pair split across buckets in every band is
    * missed; with B bands of P planes a pair at angle θ survives with
    * probability 1−(1−(1−θ/π)^P)^B, ≈1 for near-duplicates). Without
    * it the join is the exact quadratic baseline the oracle
    * reproduces — correct at small SF, a cost cliff at 100×.
    * Norms are computed ONCE per vector before the pair join, so the
    * join itself does a single dot product per pair. Only ids are
    * emitted → float-precision-robust output. */
  // dedup defaults: 8 planes/band (256 buckets) — near-duplicates
  // (the cos>~0.9 regime dedup targets) survive narrow buckets, and
  // candidate volume shrinks ~bucketCount-fold vs the ANN tables;
  // 16 bands put planted-pair recall at ~0.996 at cos=0.9
  def embedDupPairsOf(v0: DataFrame, threshold: Double, useLsh: Boolean,
                      nBands: Int = 16, nPlanes: Int = 8): DataFrame = {
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val pairs =
      if (useLsh) {
        // candidate ids first (distinct), embeddings attached after —
        // the verify join touches each surviving pair once
        val bk = lshBandBucketsOf(v0, nBands, nPlanes)
        val x = bk.select(col("vec_id").as("id_a"), col("band"), col("bucket"))
        val y = bk.select(col("vec_id").as("id_b"), col("band"), col("bucket"))
        x.join(y, Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
          .join(a, "id_a").join(b, "id_b")
      } else a.crossJoin(b).filter(col("id_a") < col("id_b"))
    pairs
      .filter(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) > threshold)
      .select("id_a", "id_b").distinct()
      .orderBy("id_a", "id_b")
  }

  def embedDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                    useLsh: Boolean = false): DataFrame =
    embedDupPairsOf(vecs(spark, dir), threshold, useLsh)

  /** Brute-force cosine top-k: every query vector scored against the
    * full corpus. The corpus side streams through codegen; queries are
    * broadcast (small). This is the exact baseline the LSH path is
    * validated against. */
  def annBruteForceOf(v0: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  def annBruteForce(spark: SparkSession, dir: String, nQueries: Int = 5,
                    k: Int = 10): DataFrame =
    annBruteForceOf(vecs(spark, dir), nQueries, k)

  /** Semantic benchmark decontamination — the embedding-space analog
    * of the n-gram scan (`NearDedup.decontaminateOf`): a corpus
    * document is contaminated when its embedding's cosine to ANY
    * benchmark embedding exceeds the threshold, catching paraphrased
    * test-set leakage that exact n-gram overlap misses.
    *
    * Scale shape: eval suites are tiny next to the corpus, so the
    * benchmark side is packed into ONE broadcast array row and the
    * whole scan is a single projection over the corpus — no join
    * shuffle, no aggregation, clean docs report 0 hits by
    * construction (the same packed-broadcast idiom as the IVF
    * assignment). */
  def semanticDecontaminateOf(corpus: DataFrame, bench: DataFrame,
                              threshold: Double): DataFrame = {
    val packed = bench.withColumn("b_nrm", norm(col("embedding")))
      .agg(collect_list(struct(col("embedding").as("b_emb"),
        col("b_nrm").as("b_nrm"))).as("bs"))
    corpus.withColumn("nrm", norm(col("embedding")))
      .crossJoin(broadcast(packed))
      .withColumn("n_bench_hits",
        size(filter(col("bs"), b =>
          dot(col("embedding"), b.getField("b_emb")) /
            (col("nrm") * b.getField("b_nrm")) > threshold)).cast(LongType))
      .select(col("vec_id"), col("n_bench_hits"),
        when(col("n_bench_hits") >= 1, 1).otherwise(0).as("is_contaminated"))
      .orderBy("vec_id")
  }

  /** Registered binding: every 20th vector plays the benchmark
    * (mirroring d_decontaminate); 0.3 sits at ~p99 of the test
    * corpus's cosine distribution, so the flag is non-degenerate. */
  def semanticDecontaminate(spark: SparkSession, dir: String,
                            threshold: Double = 0.3): DataFrame = {
    val v = vecs(spark, dir)
    semanticDecontaminateOf(v.filter(col("vec_id") % 20 =!= 0),
      v.filter(col("vec_id") % 20 === 0), threshold)
  }

  /** SemDeDup-style semantic dedup (cluster-then-compare, after
    * Abbas et al. 2023): k-means-cluster the embedding space, compare
    * vectors only WITHIN their cluster, and flag each one that
    * duplicates a lower-id cluster-mate above the cosine threshold —
    * the min-id representative is kept, matching the exact-dedup
    * convention.
    *
    * Scale shape: candidate pairs come from a cell equi-join, so the
    * quadratic term is per-cell (corpus²/kCells in expectation), not
    * corpus² — the knob a 100 TB run turns is kCells ∝ corpus size.
    * Assignment reuses the shuffle-free packed-centroid argmax; the
    * only corpus shuffle is the cell-keyed join. */
  def semDedupOf(v0: DataFrame, threshold: Double, kCells: Int = 16,
                 iters: Int = 2): DataFrame = {
    val cents = ivfRefinedCentroidsOf(v0, kCells, iters)
      .withColumn("c_nrm", norm(col("c_emb")))
    val assigned = nearestCell(v0.withColumn("nrm", norm(col("embedding"))), cents)
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val dupOf = a.join(b, "cell")
      .filter(col("id_b") < col("id_a"))
      .filter(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) > threshold)
      .groupBy(col("id_a"))
      .agg(min(col("id_b")).as("dup_of"))
      .select(col("id_a").as("vec_id"), col("dup_of"))
    assigned.select("vec_id", "cell")
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup_of").isNotNull, 1).otherwise(0).as("is_semantic_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy("vec_id")
  }

  /** Registered binding: random test embeddings have no true semantic
    * dups, so every 50th vector is re-issued verbatim at a
    * max(id)+1-based shifted id (disjoint from real ids at any corpus
    * size) — identical vectors land in the same cell by construction
    * (identical argmax), so planted recovery is deterministic
    * (spec-pinned). */
  def semDedup(spark: SparkSession, dir: String,
               threshold: Double = 0.9): DataFrame = {
    val v = vecs(spark, dir)
    val off = NearDedup.plantedOffset(v, "vec_id")
    val planted = v.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
    val all = v.unionByName(planted)
    // cell count scales with the corpus (constant expected cell size)
    semDedupOf(all, threshold, kCells = kCellsFor(all.count()))
  }

  /** Random-hyperplane LSH bucket assignment: sign bits of the dot
    * product with `nPlanes` deterministic pseudo-random hyperplanes
    * (hash-derived, seed-stable across the cluster). */
  def lshBucketsOf(v0: DataFrame, nPlanes: Int): DataFrame =
    v0.withColumn("bucket",
      element_at(graft.functions.native.hyperplane_buckets(col("embedding"), 1, nPlanes), 1))

  /** Banded hyperplane signatures: `nBands` INDEPENDENT hash tables of
    * `nPlanes` sign bits each, one output row per (vec, band). Two
    * vectors are candidates if they share a bucket in ANY band —
    * multi-probe recall without enumerating hamming-adjacent buckets:
    * P(candidate | angle θ) = 1−(1−(1−θ/π)^nPlanes)^nBands. Fewer
    * planes per band trades candidate volume for recall; more bands
    * buy recall at linear cost. Same banding idiom as the MinHash and
    * SimHash paths (NearDedup). All nBands·nPlanes dot products run in
    * one corpus pass. */
  def lshBandBucketsOf(v0: DataFrame, nBands: Int, nPlanes: Int): DataFrame =
    v0.select(col("vec_id"),
        posexplode(graft.functions.native.hyperplane_buckets(col("embedding"), nBands, nPlanes)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))

  /** ANN via banded LSH: candidates are vectors sharing a bucket with
    * the query in any band; only candidates are scored. The
    * (nBands, nPlanes) dial sets the probed corpus fraction — the
    * defaults are sized for weakly-clustered corpora (recall@10 ≈ 0.9
    * on the near-isotropic test embeddings at ~2/3 corpus probed);
    * strongly-clustered real corpora reach the same recall with far
    * fewer/narrower tables. Recall floor vs the brute-force oracle is
    * asserted in OperatorSpec. */
  def annLshOf(v0: DataFrame, nQueries: Int, k: Int,
               nBands: Int = 16, nPlanes: Int = 4): DataFrame = {
    val bk = lshBandBucketsOf(v0, nBands, nPlanes)
    val qb = bk.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
    val cand = bk.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    cand.join(v, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  def annLsh(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10): DataFrame =
    annLshOf(vecs(spark, dir), nQueries, k)

  /** Nearest-centroid assignment WITHOUT a shuffle: the centroid table
    * is packed into a single broadcast array row and the argmax over
    * cells runs per corpus row (struct max — sim first, then negated
    * cell id so ties pick the smallest cell, matching a
    * `orderBy(sim desc, cell)` window). The window formulation this
    * replaces expanded the corpus ×kCells and shuffled the expansion
    * to rank it — a full-corpus shuffle per assignment at 100 TB;
    * this is a pure projection over one corpus pass. */
  private[graft] def nearestCell(v: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      collect_list(struct(col("cell"), col("c_emb"), col("c_nrm"))).as("cs"))
    v.crossJoin(broadcast(packed))
      .withColumn("best", array_max(transform(col("cs"), c =>
        struct(
          (dot(col("embedding"), c.getField("c_emb")) /
            (col("nrm") * c.getField("c_nrm"))).as("sim"),
          (-c.getField("cell")).as("neg_cell")))))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (-col("best.neg_cell")).as("cell"))
  }

  /** Hybrid retrieval: metadata-filtered ANN. The corpus is first
    * restricted to the ids in `keep` (a LEFT-SEMI join — the filter
    * prunes the corpus before any vector math runs), then each query
    * vector is scored against the survivors only. This is the
    * composition a retrieval pipeline runs (language / quality /
    * licence gates ahead of similarity), and the reason text
    * predicates and vector scoring live in one plan language: Catalyst
    * pushes the whole gate below the scoring join. */
  def hybridSearchOf(v0: DataFrame, keep: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val corpus = v.join(keep.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      // ids only (like s_ann_topk): float-representation-robust output
      // that a DuckDB oracle can hash-match
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Registered binding: neighbors must be English AND substantial
    * (≥ minTokens whitespace tokens) — the doc and embedding tables
    * share ids. */
  def hybridSearch(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                   minTokens: Long = 5, lang: String = "en"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keep = TextOps.langIdOf(docs)
      .filter(col("detected_lang") === lang).select("doc_id")
      .join(TextOps.qualityScoreOf(docs)
        .filter(col("n_tokens") >= minTokens).select("doc_id"), "doc_id")
    hybridSearchOf(vecs(spark, dir), keep, nQueries, k)
  }

  /** Spherical k-means refinement of the IVF coarse centroids (Lloyd
    * iterations under cosine): assign every vector to its nearest
    * centroid, replace each centroid with its cell's element-wise
    * mean (direction is what matters — the cosine scoring normalizes,
    * so no explicit re-normalization step). Each iteration is one
    * broadcast-assign pass + one aggregation; centroids stay tiny and
    * broadcast, so refinement cost is `iters` corpus passes — the
    * standard build-time trade for tighter cells (= higher recall at
    * the same nProbe) at query time. Cells that lose every member
    * keep their previous centroid. */
  def ivfRefinedCentroidsOf(v0: DataFrame, kCells: Int, iters: Int): DataFrame = {
    val v = v0.withColumn("nrm", norm(col("embedding")))
    var cents = v.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
    for (_ <- 0 until iters) {
      val cn = cents.withColumn("c_nrm", norm(col("c_emb")))
      val assigned = nearestCell(v, cn).select(col("cell"), col("embedding"))
      // element-wise mean via posexplode → (cell, pos) average →
      // re-assembled in position order; distributed, no vector UDAF
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy("cell", "pos").agg(avg(col("col")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), x => x.getField("m").cast(FloatType)).as("new_emb"))
      cents = cents.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("new_emb"), col("c_emb")).as("c_emb"))
        .localCheckpoint(true) // truncate the per-iteration lineage
    }
    cents
  }

  /** IVF ANN over refined centroids: same probe/search plan as
    * annIvfOf, with build-time k-means cells instead of raw seeds. */
  def annIvfRefinedOf(v0: DataFrame, nQueries: Int, k: Int, kCells: Int,
                      nProbe: Int, iters: Int): DataFrame = {
    val cents = ivfRefinedCentroidsOf(v0, kCells, iters)
      .withColumn("c_nrm", norm(col("c_emb")))
    annIvfWithCentroids(v0, cents, nQueries, k, nProbe)
  }

  /** Registered binding: `kCells = 0` (the default) derives the cell
    * count from the corpus size via [[kCellsFor]]. */
  def annIvfRefined(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                    kCells: Int = 0, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val v = vecs(spark, dir)
    val kc = if (kCells > 0) kCells else kCellsFor(v.count())
    annIvfRefinedOf(v, nQueries, k, kc, nProbe, iters)
  }

  /** ANN via IVF: rank cells per query, search only the `nProbe`
    * closest cells. Probed fraction ≈ nProbe/kCells of the corpus —
    * the standard recall/cost dial. */
  def annIvfOf(v0: DataFrame, nQueries: Int, k: Int, kCells: Int, nProbe: Int): DataFrame = {
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val cents = v.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    annIvfWithCentroids(v0, cents, nQueries, k, nProbe)
  }

  /** Rank the centroid table per query and keep the nProbe closest
    * cells: (query_id, q_emb, q_nrm, cell). Shared by the inline IVF
    * plans and the persisted-index probe path (IvfIndex). */
  private[graft] def probeCells(cents: DataFrame, q: DataFrame,
                                    nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cell"))
    q.crossJoin(broadcast(cents))
      .withColumn("sim", dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"))
  }

  /** Search a cell-assigned corpus with a probe set: score only the
    * probed cells' members, top-k per query. Shared by the inline and
    * persisted-index paths. `excludeSelf` drops the corpus row whose
    * vec_id equals the query_id — correct when queries ARE corpus
    * vectors (the inline plans), wrong when query ids come from an
    * external numbering (a persisted index probed by a separate query
    * table), where an id collision would silently drop a neighbor. */
  private[graft] def searchAssigned(assigned: DataFrame, probes: DataFrame,
                                        k: Int,
                                        excludeSelf: Boolean = true): DataFrame = {
    val wRank = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val scored = assigned.join(broadcast(probes), "cell")
    (if (excludeSelf) scored.filter(col("vec_id") =!= col("query_id")) else scored)
      .withColumn("cos", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** The IVF probe/search plan for a given (cell, c_emb, c_nrm)
    * centroid table — shared by the seed and k-means-refined builds. */
  private def annIvfWithCentroids(v0: DataFrame, cents: DataFrame, nQueries: Int,
                                  k: Int, nProbe: Int): DataFrame = {
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val assigned = nearestCell(v, cents)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    searchAssigned(assigned, probeCells(cents, q, nProbe), k)
  }

  /** Registered binding: `kCells = 0` (the default) derives the cell
    * count from the corpus size via [[kCellsFor]]. */
  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
             kCells: Int = 0, nProbe: Int = 4): DataFrame = {
    val v = vecs(spark, dir)
    val kc = if (kCells > 0) kCells else kCellsFor(v.count())
    annIvfOf(v, nQueries, k, kc, nProbe)
  }

  // — Product quantization (Jégou, Douze & Schmid, TPAMI 2011) ——————————

  /** PQ is the MEMORY scale path of the ANN family: IVF/LSH bound how
    * much of the corpus a query touches, PQ bounds how many BYTES each
    * touched vector costs — m one-byte codes instead of 4·d float
    * bytes (32× at d=64, m=8), which is what lets a trillion-vector
    * index hold its scan set in executor memory. Vectors are
    * unit-normalized and split into m contiguous subspaces; each
    * subspace gets its own kSub-centroid codebook (Lloyd under L2 on
    * the subvectors — the per-(sub, cell, pos) mean aggregation, same
    * distributed idiom as the IVF refinement); a vector's code word is
    * its per-subspace nearest-centroid indices. */

  /** (vec_id, sub, semb): unit-normalized embeddings split into `m`
    * contiguous subspaces. The dimension must divide by m (the
    * registered binding uses 64/8); zero vectors are dropped (no
    * direction to quantize). */
  private[graft] def pqSubvectorsOf(v0: DataFrame, m: Int): DataFrame =
    v0.withColumn("nrm", norm(col("embedding")))
      .filter(col("nrm") > 0)
      .withColumn("emb", transform(col("embedding"),
        x => (x / col("nrm")).cast(FloatType)))
      .select(col("vec_id"), col("emb"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("dsub", (size(col("emb")) / m).cast(IntegerType))
      .select(col("vec_id"), col("sub"),
        slice(col("emb"), col("sub") * col("dsub") + 1, col("dsub")).as("semb"))

  /** Nearest codebook cell per (vector, subspace) — argmin L2², taken
    * as argmax of 2⟨x,c⟩ − |c|² (|x|² is constant per row); ties
    * break to the smaller cell. The m codebooks pack into one
    * broadcast row each, so assignment is a projection. */
  private def pqAssign(sv: DataFrame, books: DataFrame): DataFrame = {
    val packed = books.groupBy("sub")
      .agg(collect_list(struct(col("cell"), col("c_emb"))).as("cs"))
    sv.join(broadcast(packed), "sub")
      .withColumn("best", array_max(transform(col("cs"), c =>
        struct(
          (lit(2.0) * dot(col("semb"), c.getField("c_emb")) -
            dot(c.getField("c_emb"), c.getField("c_emb"))).as("score"),
          (-c.getField("cell")).as("neg_cell")))))
      .select(col("vec_id"), col("sub"), col("semb"),
        (-col("best.neg_cell")).as("cell"))
  }

  /** Train the m per-subspace codebooks: seeds are the first kSub
    * vectors' subvectors, refined by `iters` Lloyd rounds (each one
    * broadcast-assign pass + one per-(sub, cell, pos) mean — cost is
    * iters corpus passes at build time, amortized over every query).
    * Cells that lose all members keep their previous centroid. */
  def pqCodebooksOf(v0: DataFrame, m: Int, kSub: Int, iters: Int): DataFrame = {
    val sv = pqSubvectorsOf(v0, m)
    var books = sv.filter(col("vec_id") < kSub)
      .select(col("sub"), col("vec_id").cast(IntegerType).as("cell"),
        col("semb").as("c_emb"))
    for (_ <- 0 until iters) {
      val means = pqAssign(sv, books)
        .select(col("sub"), col("cell"), posexplode(col("semb")))
        .groupBy("sub", "cell", "pos").agg(avg(col("col")).as("m"))
        .groupBy("sub", "cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("cell"),
          transform(col("pm"), x => x.getField("m").cast(FloatType)).as("new_emb"))
      books = books.join(means, Seq("sub", "cell"), "left")
        .select(col("sub"), col("cell"),
          coalesce(col("new_emb"), col("c_emb")).as("c_emb"))
        .localCheckpoint(true) // truncate the per-iteration lineage
    }
    books
  }

  /** Encode the corpus: (vec_id, codes) with codes(j) = the j-th
    * subspace's nearest cell — the m-byte compressed representation. */
  def pqEncodeOf(v0: DataFrame, books: DataFrame, m: Int): DataFrame =
    pqAssign(pqSubvectorsOf(v0, m), books)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("cell")))).as("sc"))
      .select(col("vec_id"), transform(col("sc"), x => x.getField("cell")).as("codes"))

  /** PQ ANN with asymmetric distance computation (ADC) and exact
    * re-ranking: each query precomputes one m×kSub table of
    * subspace inner products against the codebooks (queries stay
    * uncompressed — the "asymmetric" half, quantization error on one
    * side only); a corpus vector's approximate score is then m table
    * LOOKUPS (`zip_with` codes → table column, folded by
    * `aggregate`) — no d-dimensional math touches the scan. The top
    * `reRank` ADC candidates per query are re-scored against their
    * exact embeddings (the standard two-stage shape: compressed scan
    * for candidates, exact math on a candidate-sized set), final
    * top-k by true cosine. */
  def annPqOf(v0: DataFrame, nQueries: Int, k: Int, m: Int = 8, kSub: Int = 16,
              iters: Int = 2, reRank: Int = 0): DataFrame = {
    val rr = if (reRank > 0) reRank else 8 * k
    val books = pqCodebooksOf(v0, m, kSub, iters)
    val packed = books.groupBy("sub")
      .agg(array_sort(collect_list(struct(col("cell"), col("c_emb")))).as("cs"))
    // per-query ADC tables, cell-index-ordered so code j+1 lands at
    // element_at(tab, code+1)
    val qtab = pqSubvectorsOf(v0.filter(col("vec_id") < nQueries), m)
      .join(broadcast(packed), "sub")
      .select(col("vec_id").as("query_id"), col("sub"),
        transform(col("cs"), c => dot(col("semb"), c.getField("c_emb"))).as("tab"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("tab")))).as("st"))
      .select(col("query_id"), transform(col("st"), x => x.getField("tab")).as("qtab"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val cand = pqEncodeOf(v0, books, m)
      .crossJoin(broadcast(qtab))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), col("qtab"), (c, tab) => element_at(tab, c + 1)),
        lit(0.0d), (acc, x) => acc + x))
      .withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= rr)
      .select("query_id", "vec_id")
    // exact re-rank of the candidate-sized set
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wFin = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    cand.join(v, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(wFin).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Registered `s_ann_pq`: 64-dim corpus → 8 subspaces × 16 cells
    * (8-byte codes, 32× compression), 2 Lloyd rounds, 8k-candidate
    * exact re-rank; recall floor vs brute force spec-pinned. */
  def annPq(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10): DataFrame =
    annPqOf(vecs(spark, dir), nQueries, k)

  /** IVFADC — the full Jégou et al. index shape, composing the two
    * scale dials: IVF bounds how MUCH of the corpus a query touches
    * (nProbe/kCells of the cells), PQ bounds what each touched vector
    * COSTS (m code bytes + table lookups). The scan side therefore
    * reads (nProbe/kCells)·n·m bytes — the shape that serves
    * billion-vector workloads from memory. Corpus vectors carry
    * (cell, codes); probed cells' codes are ADC-scored against the
    * broadcast per-query tables, and the top `reRank` candidates
    * re-rank exactly. Codebooks quantize the raw vectors (the
    * residual-free IVF-PQ variant — residual encoding would couple
    * the codebooks to the cells; the exact re-rank stage recovers the
    * ordering either way). */
  def annIvfPqOf(v0: DataFrame, nQueries: Int, k: Int, kCells: Int,
                 nProbe: Int = 4, m: Int = 8, kSub: Int = 16,
                 iters: Int = 2, reRank: Int = 0): DataFrame = {
    val rr = if (reRank > 0) reRank else 8 * k
    val v = v0.withColumn("nrm", norm(col("embedding")))
    val cents = v.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val assigned = nearestCell(v, cents).select("vec_id", "cell")
    val books = pqCodebooksOf(v0, m, kSub, iters)
    val packed = books.groupBy("sub")
      .agg(array_sort(collect_list(struct(col("cell"), col("c_emb")))).as("cs"))
    val coded = pqEncodeOf(v0, books, m).join(assigned, "vec_id")
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val qtab = pqSubvectorsOf(v0.filter(col("vec_id") < nQueries), m)
      .join(broadcast(packed), "sub")
      .select(col("vec_id").as("query_id"), col("sub"),
        transform(col("cs"), c => dot(col("semb"), c.getField("c_emb"))).as("tab"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("tab")))).as("st"))
      .select(col("query_id"), transform(col("st"), x => x.getField("tab")).as("qtab"))
    // (query, probed cell, ADC table): the broadcast probe set
    val probes = probeCells(cents, q, nProbe)
      .select("query_id", "cell").join(qtab, "query_id")
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val cand = coded.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), col("qtab"), (c, tab) => element_at(tab, c + 1)),
        lit(0.0d), (acc, x) => acc + x))
      .withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= rr)
      .select("query_id", "vec_id")
    val wFin = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    cand.join(v, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(wFin).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Registered `s_ann_ivf_pq`: corpus-derived cell count, 4-probe,
    * 8×16 codebooks, exact re-rank; recall floor spec-pinned. */
  def annIvfPq(spark: SparkSession, dir: String, nQueries: Int = 5,
               k: Int = 10, nProbe: Int = 4): DataFrame = {
    val v = vecs(spark, dir)
    annIvfPqOf(v, nQueries, k, kCellsFor(v.count()), nProbe)
  }
}
