package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** End-to-end training-corpus export: the one-call composition of the
  * LLM-pipeline operators, producing the manifest a trainer consumes.
  *
  * Stages (each individually registered and oracle/spec-checked):
  *   1. quality filter + near-dup canonicalization ([[NearDedup.cleanCorpus]])
  *   2. benchmark decontamination — contaminated docs DROPPED
  *      ([[NearDedup.decontaminateOf]], broadcast benchmark shingles)
  *   3. stratified per-language downsampling ([[TextOps.stratifiedSampleOf]])
  *   4. leakage-safe content-hash train/val/test split ([[TextOps.splitAssignOf]])
  *   5. per-(shard, split) sequence packing ([[TextOps.packSequencesOf]]) —
  *      the split label joins BEFORE packing and partitions the packing
  *      window, so no packed sequence ever interleaves train/val/test
  *      documents (a loader that consumes sequences stays leakage-safe)
  *
  * Scale shape: every stage is the already-audited plan; the
  * composition adds only doc_id semi-joins between stages (uniform
  * key, AQE-sized). Nothing is collected on the driver.
  */
object CorpusExport {

  /** @param persistDir when set, every stage boundary of the export
    *   (the cleaned corpus and the `surviving`/`kept` tail) is
    *   materialized as parquet under this path — durable boundaries
    *   for a real cluster, where an executor loss must not kill the
    *   export. When None, `localCheckpoint` materializes on
    *   executor-local storage: cheaper, single-process only (the
    *   sandbox binding).
    * @param exactPairs forwarded to [[NearDedup.cleanCorpus]]: PPJoin
    *   exact-Jaccard pair generation instead of MinHash — same scale
    *   shape, deterministic, which is what lets the registered
    *   `d_corpus_export` hash-match a DuckDB oracle end-to-end. */
  def exportCorpusOf(docs: DataFrame, benchmark: DataFrame,
                     rates: Map[String, Int],
                     persistDir: Option[String] = None,
                     exactPairs: Boolean = false): DataFrame = {
    def boundary(df: DataFrame, name: String): DataFrame = persistDir match {
      case Some(dir) =>
        val p = s"$dir/$name.parquet"
        df.write.mode(SaveMode.Overwrite).parquet(p)
        docs.sparkSession.read.parquet(p)
      case None => df.localCheckpoint()
    }
    // the cleaned corpus feeds three downstream subplans (shingling,
    // the doc_id semi-joins, packing); materialize it ONCE instead of
    // re-running the iterative cluster resolution per reference
    val clean = boundary(NearDedup.cleanCorpus(docs, exactPairs = exactPairs), "clean_corpus")
    val uncontaminated = NearDedup.decontaminateOf(clean, benchmark)
      .filter(col("is_contaminated") === 0)
      .select("doc_id")
    // surviving and kept are each REPEATED subtrees of the one final
    // action (sampled derives from surviving, split and the packer
    // both consume kept), and every re-evaluation re-runs the
    // decontaminate shingle aggregation — materialize each boundary
    // once (guide §1.2; A/B'd in Profile `export2`: ~7% wall, unlike
    // the incremental-split case where the duplicated subtrees ran
    // concurrently and a checkpoint serialized them)
    val surviving = boundary(clean.join(uncontaminated, "doc_id"), "surviving")
    val sampled = TextOps.stratifiedSampleOf(surviving, rates).select("doc_id")
    val kept = boundary(surviving.join(sampled, "doc_id"), "kept")
    val split = TextOps.splitAssignOf(kept).select("doc_id", "split")
    // shard count scales with the corpus (packShardsFor on the input
    // count — an upper bound of the kept set, one cheap column scan),
    // not a constant 8 at 100 TB; the oracle computes the same formula
    TextOps.packSequencesOf(kept.join(split, "doc_id"),
        nShards = TextOps.packShardsFor(docs.count()), groupCols = Seq("split"))
      .orderBy("doc_id")
  }

  /** Registered binding: every 20th document plays the benchmark set
    * (as in d_decontaminate); the rest flow through the full export —
    * with exact pair generation, so the whole five-stage composition
    * hash-checks against one DuckDB oracle. */
  def exportCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    exportCorpusOf(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      TextOps.sampleRates,
      exactPairs = true)
  }

  /** Registered `d_corpus_export_web` — the WEB front door: every
    * CORPUS document arrives as crawled HTML with an encoding-damaged
    * body (`Markup.webWrap`), runs markup extraction + Unicode
    * normalization (`Markup.webClean`), and only then enters the same
    * five-stage export. The benchmark side stays RAW text — which is
    * the real shape (eval sets are clean) AND a lesson this fixture
    * teaches: wrapping the benchmark too made every document
    * "contaminated" through the shared HTML boilerplate shingles and
    * emptied the export — boilerplate removal must run before
    * decontamination, never after. One oracle body serves both
    * registrations (the web one reads the generated markup-clean
    * subquery), so the raw-HTML → training-manifest pipeline
    * hash-checks end-to-end. The hygiene pass adds no shuffle, but it
    * IS an expensive projection (a deep regex chain + NFC per
    * document), and the export reads its corpus from several subplans
    * — so it materializes ONCE (localCheckpoint; a cluster deployment
    * would use the durable persistDir boundary) instead of being
    * re-evaluated per downstream stage: 20.2s → ~9s at sf0.1,
    * matching the raw-text sibling. */
  def exportCorpusWeb(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val web = docs
      .select(col("doc_id"),
        Markup.webClean(Markup.webWrap(col("doc_id"), col("text"))).as("text"),
        col("lang"))
      .localCheckpoint()
    exportCorpusOf(
      web.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      TextOps.sampleRates,
      exactPairs = true)
  }

  /** Registered `d_corpus_export_curated` — the FULL crawl-curation
    * chain in front of the export: each document arrives as crawled
    * HTML (damaged body, row 101's shell) under a crawl-variant URL
    * (each story fetched TWICE with scheme/www/port/tracking noise —
    * `WebOps.plantCrawlUrl`), then
    *
    *   hygiene (extract + normalize) → URL-level dedup (one fetch per
    *   canonical URL survives) → corpus-frequency boilerplate removal
    *   → the five-stage export.
    *
    * The boilerplate stage earns its place in the plan: it removes
    * the shared footer line the HTML shell leaves in EVERY extracted
    * document — the same shingle-poisoning failure the web fixture
    * demonstrated against decontamination (row 101's lesson, now
    * fixed by the pipeline itself instead of by fixture design).
    * Curation runs over the FULL crawl (a re-fetch dedups against the
    * benchmark-side twin too, as a real crawl store would) before the
    * corpus/benchmark split; one generated source subquery
    * (`WebOps.curatedSourceSql`) plugs into the SAME parameterized
    * oracle body, so crawl-to-manifest hash-checks end-to-end. */
  def exportCorpusCurated(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val crawled = docs.select(col("doc_id"),
      Markup.webClean(Markup.webWrap(col("doc_id"), col("text"))).as("text"),
      col("lang"),
      WebOps.plantCrawlUrl(col("doc_id")).as("url"))
    val curated = WebOps.curateWebCrawl(crawled).localCheckpoint()
    exportCorpusOf(
      curated.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      TextOps.sampleRates,
      exactPairs = true)
  }
}
