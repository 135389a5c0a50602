package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Text-analysis + exact-dedup operators for the LLM-data-pipeline
  * surface (SURVEY.md §2 #18-19, #26-28). Everything is pure
  * `functions._` column algebra — whole-stage-codegen friendly, no
  * UDFs — so the same plan runs unchanged over 100 TB of documents.
  */
object TextOps {

  /** Exact dedup by content hash: canonical doc per text + copy count.
    * groupBy on sha256(text) — hash-partitioned, no skew (hashes are
    * uniform), map-side combine. */
  def dedupExactOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_sha"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExactOf(Tables.documentsNarrow(spark, dir))

  /** Per-document fingerprint + first-occurrence flag — the file-level
    * sha-dedup decision of the reference's data-decision service
    * applied per record. */
  def dedupHashOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("content_sha").orderBy("doc_id")
    docs
      .select(col("doc_id"), sha2(col("text"), 256).as("content_sha"))
      .withColumn("is_first", when(row_number().over(w) === 1, 1).otherwise(0))
      .orderBy("doc_id")
  }

  def dedupHash(spark: SparkSession, dir: String): DataFrame =
    dedupHashOf(Tables.documentsNarrow(spark, dir))

  /** Whitespace tokens of the trimmed text (empty → 0 tokens).
    * Regex trim, not `trim()`: SQL trim strips only 0x20, so a
    * tab-only document would otherwise count phantom tokens. Shared
    * with the shingling path (NearDedup). */
  private[operators] def wsTrim(text: Column): Column =
    regexp_replace(text, "^\\s+|\\s+$", "")

  private def wsTokenCount(text: Column): Column =
    when(length(wsTrim(text)) === 0, 0)
      .otherwise(size(split(wsTrim(text), "\\s+")))

  /** READABILITY scoring — Flesch-Kincaid grade level from integer
    * text censuses: words (the shared whitespace tokenizer),
    * sentences (terminal-punctuation runs, row 100's boundary signal
    * reduced to a count), syllables (vowel-group runs — the standard
    * cheap estimator). The grade is one fixed double expression over
    * three exact integers, so it is engine- and partitioning-proof;
    * docs with no words score null (not a fake grade), an
    * unterminated trailing fragment ("Hello. World") counts as its
    * own sentence, and all-empty docs take the floor of 1. One
    * codegen projection, no shuffle. */
  def readabilityOf(docs: DataFrame): DataFrame = {
    val words = wsTokenCount(col("text")).cast(LongType)
    val trimmed = wsTrim(col("text"))
    val sentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast(LongType)
        + when(length(trimmed) > 0 && !trimmed.rlike("[.!?]$"), lit(1L))
            .otherwise(lit(0L)),
      lit(1L))
    val syllables =
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast(LongType)
    docs.select(col("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .withColumn("fk_grade",
        when(col("n_words") > 0,
          lit(0.39) * (col("n_words").cast(DoubleType) /
            col("n_sentences").cast(DoubleType)) +
          lit(11.8) * (col("n_syllables").cast(DoubleType) /
            col("n_words").cast(DoubleType)) - lit(15.59)))
      .orderBy("doc_id")
  }

  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOf(Tables.documents(spark, dir))

  /** Token counting: whitespace tokens + BPE-ish subword pieces
    * (letter runs / digits / single punctuation, the shape of a GPT-2
    * pre-tokenizer). */
  def tokenCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        wsTokenCount(col("text")).cast(LongType).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
          .cast(LongType).as("n_bpe_pieces"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy("doc_id")

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCountsOf(Tables.documents(spark, dir))

  /** Quality scoring: length, alpha/punct/whitespace ratios, stopword
    * ratio — the standard cheap pre-filters of a training-data
    * pipeline. All single IEEE divisions → deterministic. */
  /** Quality stopword list, scored via the shared one-pass tokenizer. */
  private val qualityStopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** The (n_tokens, alpha_ratio) quality gate as ONE inline predicate
    * — exactly [[qualityScoreOf]]'s `n_tokens >= minTokens &&
    * alpha_ratio >= minAlphaRatio` columns, composed so a consumer
    * can FILTER the corpus in its own scan instead of joining the
    * corpus against a quality projection of itself (the join shape
    * cost a second corpus scan + an exchange in cleanCorpus; guide
    * §2.4 remove shuffles outright). */
  private[graft] def qualityPass(minTokens: Long, minAlphaRatio: Double)
      : Column = {
    val cc = graft.functions.native.char_class_counts(col("text"))
    val nChars = cc.getItem(0).cast(DoubleType)
    val nAlpha = cc.getItem(1).cast(DoubleType)
    val alphaRatio = when(nChars > 0, nAlpha / nChars).otherwise(0.0)
    wsTokenCount(col("text")).cast(LongType) >= minTokens &&
      alphaRatio >= minAlphaRatio
  }

  def qualityScoreOf(docs: DataFrame): DataFrame = {
    // one char-class census + one tokenization pass per document,
    // replacing two regexp_replace scans and a regexp_extract_all —
    // counts identical to the regex formulation (spec + oracle pinned)
    val cc = graft.functions.native.char_class_counts(col("text"))
    val stop = graft.functions.native
      .word_set_scores(lower(col("text")), Seq(qualityStopwords)).getItem(0)
    val scored = docs.withColumn("__cc", cc)
    val nChars = col("__cc").getItem(0).cast(DoubleType)
    val nAlpha = col("__cc").getItem(1).cast(DoubleType)
    val nPunct = col("__cc").getItem(2).cast(DoubleType)
    val nTok = wsTokenCount(col("text")).cast(DoubleType)
    scored
      .select(col("doc_id"),
        col("__cc").getItem(0).as("n_chars"),
        wsTokenCount(col("text")).cast(LongType).as("n_tokens"),
        when(nChars > 0, nAlpha / nChars).otherwise(0.0).as("alpha_ratio"),
        when(nChars > 0, nPunct / nChars).otherwise(0.0).as("punct_ratio"),
        when(nTok > 0, stop.cast(DoubleType) / nTok).otherwise(0.0).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOf(Tables.documents(spark, dir))

  /** Document fingerprinting (SURVEY.md §2 #29): 64-bit polynomial
    * content hash (codegen'd native Expression) + winnowed k-gram
    * fingerprint set (Schleimer et al. SIGMOD'03) for robust partial-
    * overlap detection. Rows-only oracle; value semantics covered by
    * ExpressionSpec. */
  def fingerprintsOf(docs: DataFrame): DataFrame = {
    import graft.functions.native._
    docs
      .select(col("doc_id"),
        poly_hash64(col("text")).as("content_hash64"),
        winnow_fingerprint(col("text")).as("winnow_fps"))
      .withColumn("n_fps", size(col("winnow_fps")).cast(LongType))
      .orderBy("doc_id")
  }

  /** Driver-contract view of the fingerprints: scalar columns only —
    * the winnow set is folded to one XOR value so downstream tabular
    * consumers (parquet→pandas compare) never see a raw array cell.
    * XOR (not xxhash64, the pre-r12 fold) because DuckDB can compute
    * the SAME fold: the corpus is ASCII, so both the 31-polynomial
    * content hash and the 257-polynomial winnow grams are expressible
    * as mod-2^64 list folds over code points — giving this query a
    * REAL cross-engine oracle instead of a rows-only check. Library
    * users wanting the set itself use fingerprintsOf. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    fingerprintsOf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("content_hash64"), col("n_fps"),
        expr("aggregate(winnow_fps, CAST(0 AS BIGINT), (a, x) -> a ^ x)")
          .as("fps_xor"))
      .orderBy("doc_id")

  /** The stopword dictionaries used for language scoring — one regex
    * alternation each in the DuckDB oracle, one shared tokenization
    * pass (`WordSetScores`) here. */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "que", "por", "con", "del"))

  /** Language-ID heuristic: stopword-hit scoring per candidate
    * language, CJK-character presence for zh; argmax with a fixed
    * tie order. All four dictionaries are scored in a single
    * tokenization pass (native WordSetScores expression — count
    * semantics identical to the \b-regex formulation, pinned by
    * spec). */
  def langIdOf(docs: DataFrame): DataFrame =
    langScoredOf(docs).orderBy("doc_id")

  /** [[langIdOf]] without the presentation sort — the form other
    * operators compose (per-SENTENCE labeling in the code-switch
    * detector must not pay a global sort mid-pipeline). */
  def langScoredOf(docs: DataFrame): DataFrame = {
    val scores = graft.functions.native.word_set_scores(
      lower(col("text")), langDicts.map(_._2))
    val zh = length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")).cast(LongType)
    val scored = docs.withColumn("__sc", scores)
    val en = col("__sc").getItem(0)
    val de = col("__sc").getItem(1)
    val fr = col("__sc").getItem(2)
    val es = col("__sc").getItem(3)
    val best = greatest(en, de, fr, es)
    scored
      .select(col("doc_id"),
        en.as("score_en"), de.as("score_de"), fr.as("score_fr"),
        es.as("score_es"), zh.as("score_zh"),
        when(zh > 0, "zh")
          .when(best === 0, "unknown")
          .when(en === best, "en").when(de === best, "de")
          .when(fr === best, "fr").otherwise("es").as("detected_lang"))
  }

  /** Corpus vocabulary statistics: top terms by collection frequency
    * with document frequency — the tokenizer-design / stop-list
    * diagnostic a training-data pipeline runs before building a
    * vocabulary. One explode + one aggregation (map-side combine on
    * uniform token keys); the top-k cut happens after the aggregate,
    * whose cardinality is the vocabulary, not the corpus. */
  def vocabStatsOf(docs: DataFrame, topK: Int = 100): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(wsTrim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("token"))
      .limit(topK)

  def vocabStats(spark: SparkSession, dir: String): DataFrame =
    vocabStatsOf(Tables.documents(spark, dir))

  /** Sketch tier of [[vocabStatsOf]] (the HLL / approx-percentile
    * pattern applied to heavy hitters): a mergeable Misra–Gries
    * summary (native `MisraGriesTopK` TypedImperativeAggregate) keeps
    * ≤ `capacity` counters per partition and merges capacity-sized
    * buffers — one map pass over the token stream, NO token shuffle
    * at all (the exact census shuffles every token to its reducer,
    * which at 100 TB is the dominant cost of `t_vocab`). Estimates
    * undercount by ≤ n/(capacity+1); when the true vocabulary fits
    * the capacity the counts are exact (both ExpressionSpec-pinned,
    * and the registered corpus vocabulary does fit — the sketch
    * reproduces the exact census's cf column). */
  def vocabSketchOf(docs: DataFrame, capacity: Int = 2048, topK: Int = 100): DataFrame =
    docs
      .filter(length(wsTrim(col("text"))) > 0)
      .select(explode(split(wsTrim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .agg(graft.functions.native.misra_gries_topk(col("token"), capacity).as("summary"))
      .select(posexplode(col("summary")))
      .filter(col("pos") < topK)
      .select(col("col.token").as("token"),
        col("col.est_count").as("est_count"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("rank")

  def vocabSketch(spark: SparkSession, dir: String): DataFrame =
    vocabSketchOf(Tables.documents(spark, dir))

  /** Per-source heavy hitters in ONE pass: the same mergeable
    * Misra–Gries aggregate run group-wise — the shuffle moves
    * capacity-sized sketch buffers keyed on source, never the token
    * stream (the exact equivalent shuffles every (source, token)
    * pair). The dashboard complement of [[sourceStatsOf]]: what
    * vocabulary dominates each feed. */
  def sourceTopTokensOf(docs: DataFrame, capacity: Int = 1024, topK: Int = 10): DataFrame =
    docs
      .filter(length(wsTrim(col("text"))) > 0)
      .select(col("source"),
        explode(split(wsTrim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("source")
      .agg(graft.functions.native.misra_gries_topk(col("token"), capacity).as("summary"))
      .select(col("source"), posexplode(col("summary")))
      .filter(col("pos") < topK)
      .select(col("source"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.token").as("token"), col("col.est_count").as("est_count"))
      .orderBy("source", "rank")

  def sourceTopTokens(spark: SparkSession, dir: String): DataFrame =
    sourceTopTokensOf(Tables.documents(spark, dir))

  /** Exact-k uniform stratified sample (reservoir semantics made
    * deterministic): rank each stratum's documents by the md5 of a
    * salted id — a uniform random permutation both engines compute
    * identically — and keep the first `k`. The exact-SIZE complement
    * of rate-based [[stratifiedSampleOf]] (eval-set construction
    * wants "exactly k per source", not a Bernoulli rate); the rank
    * window collapses to WindowGroupLimit, so each stratum prunes to
    * k rows before the shuffle. */
  def reservoirSampleOf(docs: DataFrame, k: Int = 10,
                        strataCol: String = "source",
                        salt: String = "resv"): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(concat(col("doc_id").cast(StringType), lit(salt))), col("doc_id"))
    docs.select(col("doc_id"), col(strataCol))
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
      .filter(col("sample_rank") <= k)
      .orderBy(strataCol, "sample_rank")
  }

  def reservoirSample(spark: SparkSession, dir: String): DataFrame =
    reservoirSampleOf(Tables.documentsNarrow(spark, dir))

  /** Adjacent token-pair census — the merge-candidate scan at the
    * heart of BPE tokenizer training, run at word granularity: global
    * collection frequency + document frequency of every adjacent
    * token pair, top-K by cf. This is the table a tokenizer-training
    * pass consults before choosing its first merge, and the bigram
    * complement of [[vocabStatsOf]].
    *
    * One explode + one aggregation with map-side combine; pair-key
    * cardinality is vocabulary²-bounded (not corpus-bounded), and the
    * top-K cut happens after the aggregate — same scale shape as
    * t_vocab. */
  def pairCountsOf(docs: DataFrame, topK: Int = 100): DataFrame = {
    val toks = split(wsTrim(lower(col("text"))), "\\s+")
    val pairs = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (x, y) => concat_ws(" ", x, y))
    docs
      .filter(length(wsTrim(col("text"))) > 0)
      .select(col("doc_id"), explode(pairs).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("pair"))
      .limit(topK)
  }

  def pairCounts(spark: SparkSession, dir: String): DataFrame =
    pairCountsOf(Tables.documents(spark, dir))

  /** PMI COLLOCATION mining — the statistical upgrade of the raw
    * bigram census ([[pairCountsOf]]): pointwise mutual information
    * `ln( P(a,b) / (P(a)·P(b)) )` separates true collocations
    * ("machine learning") from pairs that co-occur only because both
    * words are frequent ("of the") — the standard signal for
    * tokenizer-vocabulary design and phrase-aware dedup keys.
    * Computed as `ln cf − ln B − ln ca − ln cb + 2·ln N` (cf bigram
    * count, ca/cb unigram counts, B/N the bigram/token totals) from
    * one tokenization pass: unigram and bigram aggregations both
    * shuffle vocabulary-sized tables, the totals ride along as
    * single-row broadcasts, and the two unigram joins key the
    * bigram table by its endpoint tokens — no corpus-sized shuffle
    * beyond the census [[pairCountsOf]] already pays. The score
    * surface is the FLOAT cast (the s_search_bm25 discipline: ≤5
    * summed ln ulps vanish in 29 discarded mantissa bits); row
    * identity stays on the integer (cf, pair) ordering so float
    * never decides membership. */
  def collocationsOf(docs: DataFrame, topK: Int = 100): DataFrame = {
    val nonEmpty = docs.filter(length(wsTrim(col("text"))) > 0)
    val toks = split(lower(wsTrim(col("text"))), "\\s+")
    val uni = nonEmpty.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c1"))
    val nTotal = uni.agg(sum("c1").as("n_tokens"))
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (x, y) => concat_ws(" ", x, y))
    val bi = nonEmpty.select(explode(bigrams).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cf"))
      .withColumn("t1", substring_index(col("pair"), " ", 1))
      .withColumn("t2", substring_index(col("pair"), " ", -1))
    val bTotal = bi.agg(sum("cf").as("n_bigrams"))
    bi
      .join(uni.select(col("token").as("t1"), col("c1").as("ca")), "t1")
      .join(uni.select(col("token").as("t2"), col("c1").as("cb")), "t2")
      .crossJoin(broadcast(nTotal))
      .crossJoin(broadcast(bTotal))
      .select(col("pair"), col("cf"), col("ca"), col("cb"),
        (log(col("cf").cast(DoubleType)) - log(col("n_bigrams").cast(DoubleType))
          - log(col("ca").cast(DoubleType)) - log(col("cb").cast(DoubleType))
          + lit(2.0) * log(col("n_tokens").cast(DoubleType)))
          .cast("float").as("pmi"))
      .orderBy(col("cf").desc, col("pair"))
      .limit(topK)
  }

  /** Registered `t_collocations`: top-100-by-frequency bigrams with
    * their PMI, hash-matched against a DuckDB twin computing the same
    * log-sum on the same census. */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsOf(Tables.documents(spark, dir))

  /** Deterministic content-hash train/val/test split (80/10/10): keyed
    * on the text itself (first 16 md5 bits), so the assignment
    * survives re-ids, re-partitioning, and incremental corpus growth —
    * the leakage-safe split for training corpora. Exact duplicates
    * land in the SAME split by construction; only near-dups can leak,
    * which the dedup operators remove first. Pure projection — no
    * shuffle at any scale. */
  def splitAssignOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        (conv(substring(md5(col("text")), 1, 4), 16, 10).cast(LongType) % 100).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssignOf(Tables.documentsNarrow(spark, dir))

  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOf(Tables.documents(spark, dir))

  /** Per-language keep-rates (percent) for the registered stratified
    * sample: downsample the over-represented languages toward balance,
    * keep the scarce ones whole — the standard re-balancing move of a
    * multilingual training mix. */
  val sampleRates: Map[String, Int] =
    Map("en" -> 40, "de" -> 100, "fr" -> 100, "es" -> 100, "zh" -> 60)

  /** Stratified deterministic downsampling: keep a document iff its
    * content-hash bucket falls below its stratum's keep-rate.
    * Content-keyed, so the decision is reproducible across runs,
    * re-ids and re-partitioning, and exact duplicates are kept or
    * dropped TOGETHER. The hash is SALTED ('sample') so the bucket is
    * independent of the train/val/test split bucket — without the
    * salt, a stratum sampled at rate r < 80 could never reach the
    * val/test splits (both would read the same bucket). Pure
    * projection + filter — no shuffle, no sampling state, works
    * identically on 1000 executors. */
  def stratifiedSampleOf(docs: DataFrame, rates: Map[String, Int],
                         defaultRate: Int = 100): DataFrame = {
    val bucket =
      conv(substring(md5(concat(col("text"), lit("sample"))), 1, 4), 16, 10)
        .cast(LongType) % 100
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("keep_rate"))
      .filter(col("bucket") < col("keep_rate"))
      .orderBy("doc_id")
  }

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleOf(Tables.documentsNarrow(spark, dir), sampleRates)

  /** Deterministic WEIGHTED sample without replacement (Efraimidis-
    * Spirakis A-ES): each doc draws a reproducible uniform u ∈ (0,1]
    * from md5(doc_id, seed) and keeps key u^(1/w); the global top-k
    * by key is a weighted sample without replacement — inclusion
    * probability rises with w, no doc twice, and the whole draw is a
    * pure function of (corpus, seed), so reruns and audits reproduce
    * it bit-for-bit (the property `sample(fraction)` can't give you
    * across cluster re-partitions). Plan: one projection + TopK
    * (TakeOrderedAndProject) — no shuffle beyond the top-k merge. No
    * DuckDB oracle by design: pow's last-ulp behavior is libm-
    * specific, so a borderline rank could legitimately differ —
    * rows-only with the enrichment/determinism spec. */
  def weightedSampleOf(docs: DataFrame, weight: Column, k: Int,
                       seed: String = "wsample"): DataFrame = {
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit(seed))),
      1, 13), 16, 10).cast(DoubleType) + lit(1.0)) / lit(math.pow(16.0, 13))
    docs
      .withColumn("weight", weight.cast(DoubleType))
      // A-ES is defined only for w > 0: w = 0 degenerates to
      // u^Infinity (0, or NaN at u == 1) and w < 0 inverts the
      // ranking — exclude such rows rather than silently misrank them
      .filter(col("weight") > 0)
      .withColumn("es_key", pow(u, lit(1.0) / col("weight")))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  /** Registered binding: token-count-weighted draw of 200 docs (long
    * documents proportionally likelier — the "sample by content
    * volume, not by row" regime a token-budgeted mix wants). The
    * registered surface is the RANK, not the raw es_key: pow differs
    * from libm by 1 ulp on ~1% of rows, but adjacent keys sit ~1e-8
    * apart (measured), so the salted-permutation ORDER is engine-
    * proof and hash-matches a DuckDB oracle — the t_reservoir idiom.
    * The window ranks only the k already-selected rows. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("es_key").desc, col("doc_id"))
    weightedSampleOf(
      Tables.documents(spark, dir)
        .withColumn("n_tokens", wsTokenCount(col("text")).cast(LongType)),
      weight = col("n_tokens") + lit(1L), k = 200)
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
      .select("doc_id", "lang", "source", "n_tokens", "sample_rank")
      .orderBy("sample_rank")
  }

  /** Per-source document cap — the per-domain limit web-corpus
    * pipelines apply so one mega-domain cannot dominate the training
    * mix (the FineWeb/Gopher per-domain cap, the count-based
    * complement of `stratifiedSample`'s rate-based thinning). Keeps
    * the `maxDocs` smallest doc_ids per source (crawl order = arrival
    * order — deterministic) with each survivor's rank.
    *
    * Scale shape: one window partitioned by source ordered by doc_id
    * with a rank ≤ N filter — Spark's WindowGroupLimit prunes every
    * partition to N rows BEFORE the rank shuffle (plan-pinned), so the
    * shuffle moves sources × N rows, not the corpus. */
  def domainCapOf(docs: DataFrame, maxDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs.select(col("doc_id"), col("source"))
      .withColumn("rank_in_source", row_number().over(w).cast(LongType))
      .filter(col("rank_in_source") <= maxDocs)
      .orderBy("doc_id")
  }

  def domainCap(spark: SparkSession, dir: String, maxDocs: Int = 15): DataFrame =
    domainCapOf(Tables.documentsNarrow(spark, dir), maxDocs)

  /** Sliding context-window chunking: each document's tokens cut into
    * windows of `chunkTokens` advancing by `stride` (< chunkTokens ⇒
    * overlapping context, the shape embedding models and packed
    * training loaders consume). Chunk starts are 0, stride, 2·stride …
    * while < n; the final chunk may be short (no padding — the loader
    * pads). One explode over ceil(n/stride) starts per doc, then pure
    * array slicing — no shuffle beyond the output sort at any scale. */
  def chunkOf(docs: DataFrame, chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      "need 1 <= stride <= chunkTokens (gaps would drop tokens)")
    val toks = split(wsTrim(col("text")), "\\s+")
    docs
      .filter(length(wsTrim(col("text"))) > 0)
      .select(col("doc_id"), toks.as("w"), size(toks).as("n"))
      // number of chunk starts = ceil(n / stride), in exact integer math
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L),
          expr(s"(n + ${stride - 1}) div $stride") - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("w"), (col("chunk_idx") * stride + 1).cast(IntegerType),
            lit(chunkTokens))).as("chunk_text"),
        size(slice(col("w"), (col("chunk_idx") * stride + 1).cast(IntegerType),
          lit(chunkTokens))).cast(LongType).as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  def chunk(spark: SparkSession, dir: String): DataFrame =
    chunkOf(Tables.documents(spark, dir))

  /** Repetition signals (the Gopher/MassiveText repetition rules,
    * Rae et al. 2021 §A1.1, adapted to token granularity): fraction of
    * distinct tokens, and the share of the document's bigrams taken by
    * its single most frequent bigram. High-repetition documents
    * (boilerplate, keyword stuffing, degenerate generations) score low
    * distinct_ratio / high top_bigram_ratio and get filtered.
    *
    * One native census pass per row (`RepetitionStats`:
    * [n_tokens, n_distinct, top_bigram_n]) — the whole operator is a
    * projection: no explode, no groupBy, no shuffle at any scale. The
    * composed array-algebra form below is kept as the semantic
    * reference; DataMixSpec pins the two bit-equal. */
  def repetitionScoreOf(docs: DataFrame): DataFrame = {
    val st = graft.functions.native.repetition_stats(col("text"))
    val scored = docs.withColumn("__st", st)
    val nTok = col("__st").getItem(0)
    val nDist = col("__st").getItem(1)
    val topBg = col("__st").getItem(2)
    val nBigrams = when(nTok >= 2, nTok - 1).otherwise(0L)
    scored
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        nDist.as("n_distinct"),
        when(nTok === 0, 0.0)
          .otherwise(nDist.cast(DoubleType) / nTok).as("distinct_ratio"),
        topBg.as("top_bigram_n"),
        when(nBigrams === 0, 0.0)
          .otherwise(topBg.cast(DoubleType) / nBigrams).as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** The composed-builtins reference formulation of repetitionScoreOf
    * (sorted-bigram longest run via an `aggregate` fold) — slower
    * (interpreted higher-order lambdas) but independently derived;
    * kept for the equality spec. */
  private[graft] def repetitionScoreComposedOf(docs: DataFrame): DataFrame = {
    val toks = split(wsTrim(lower(col("text"))), "\\s+")
    val nTok = when(length(wsTrim(col("text"))) === 0, 0).otherwise(size(toks))
    val bigrams = array_sort(zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b)))
    // longest run in the sorted array = max multiplicity
    val runState = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"))
    val topBigram = aggregate(
      bigrams, runState,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(1)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs
      .withColumn("__n", nTok.cast(LongType))
      .withColumn("__nb", when(col("__n") >= 2, col("__n") - 1).otherwise(0L))
      .select(col("doc_id"),
        col("__n").as("n_tokens"),
        when(col("__n") === 0, 0L)
          .otherwise(size(array_distinct(toks)).cast(LongType)).as("n_distinct"),
        when(col("__n") === 0, 0.0)
          .otherwise(size(array_distinct(toks)).cast(DoubleType) / col("__n"))
          .as("distinct_ratio"),
        when(col("__nb") === 0, 0L).otherwise(topBigram.cast(LongType)).as("top_bigram_n"),
        when(col("__nb") === 0, 0.0)
          .otherwise(topBigram.cast(DoubleType) / col("__nb")).as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    repetitionScoreOf(Tables.documents(spark, dir))

  /** Sequence packing (concat-and-chunk, the GPT training layout):
    * documents are laid end-to-end in doc_id order within a shard and
    * cut into fixed `budget`-token sequences; each document reports the
    * sequence it STARTS in and its offset there. Sharding bounds the
    * running-sum window — each shard packs independently (exactly how
    * per-worker packing runs in production), so the window partitions
    * by shard and no global sort exists at any scale. */
  def packSequencesOf(docs: DataFrame, budget: Int = 256, nShards: Int = 8,
                      groupCols: Seq[String] = Nil): DataFrame = {
    val toks = when(length(wsTrim(col("text"))) === 0, 0)
      .otherwise(size(split(wsTrim(col("text")), "\\s+")))
    // extra group columns (e.g. the train/val/test split) partition the
    // packing alongside the shard, so a packed sequence never straddles
    // a group boundary — a val doc must not share a seq_id with train
    val parts = (col("shard") +: groupCols.map(col)): Seq[Column]
    val w = Window.partitionBy(parts: _*).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id") +: (col("doc_id") % nShards).as("shard") +:
        toks.cast(LongType).as("n_tokens") +: groupCols.map(col): _*)
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id") +: col("shard") +: col("n_tokens") +:
        // integral div, NOT `/`: long/int promotes to double, which
        // rounds above 2^53 cumulative tokens — seq_id would drift
        // from the exact seq_offset (the oracle uses integer `//`)
        expr(s"tokens_before div $budget").as("seq_id") +:
        (col("tokens_before") % budget).as("seq_offset") +:
        groupCols.map(col): _*)
      .orderBy("doc_id")
  }

  /** Shard count for an n-document corpus: one shard per
    * `targetDocsPerShard` documents with a floor of 8, so packing
    * parallelism grows with the data instead of pinning at the
    * default — at 100 TB the shard count is the corpus size over the
    * target, not a constant. The DuckDB oracle computes the same
    * formula from COUNT(*). */
  def packShardsFor(nDocs: Long, targetDocsPerShard: Long = 4096L): Int =
    math.min(math.max(8L, (nDocs + targetDocsPerShard - 1) / targetDocsPerShard),
      1L << 20).toInt

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    packSequencesOf(docs, nShards = packShardsFor(docs.count()))
  }

  /** PII patterns (email / NANP phone / IPv4) shared by detection and
    * redaction. Only RE2-compatible constructs (no lookaround, no
    * backreferences) so the DuckDB oracle's regexp functions behave
    * identically to Spark's Java regex. Order matters: a phone or IP
    * embedded inside an email (`555-123-4567@x.com`) belongs to the
    * email category, which redacts first and thereby consumes it. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phones", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ips", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** PII detection + redaction: each category is counted on the text
    * AFTER the previous categories were substituted, so `n_<cat>`
    * always equals the number of `<CAT>` placeholders in `clean_text`
    * — a phone hiding inside an email local-part is an email, not an
    * email AND a phone. Pure projection (the regex scans run per row),
    * no shuffle at any scale. */
  def piiScrubOf(docs: DataFrame): DataFrame = {
    val (counts, clean) = piiPatterns
      .foldLeft((Seq.empty[Column], col("text"))) {
        case ((cs, acc), (name, pat, tag)) =>
          val n = size(regexp_extract_all(acc, lit(pat), lit(0)))
            .cast(LongType).as(s"n_$name")
          (cs :+ n, regexp_replace(acc, pat, tag))
      }
    docs.select(col("doc_id") +: counts :+ clean.as("clean_text"): _*)
      .orderBy("doc_id")
  }

  /** Registered binding: PII is planted deterministically (doc_id-keyed
    * email / IP / phone suffixes) before scrubbing, so the redaction
    * path is actually exercised and the DuckDB oracle reproduces the
    * planting exactly. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val planted = docs.withColumn("text",
      when(col("doc_id") % 10 === 3,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast(StringType), lit("@example.com")))
      .when(col("doc_id") % 10 === 5,
        concat(col("text"), lit(" from host "),
          (col("doc_id") % 256).cast(StringType), lit(".0.0."),
          (col("doc_id") % 100).cast(StringType)))
      .when(col("doc_id") % 10 === 7,
        concat(col("text"), lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
      .otherwise(col("text")))
    piiScrubOf(planted)
  }

  /** Per-source corpus dashboard: document/language counts, char and
    * token volume per source — the domain-level view used to decide
    * which sources to keep, reweight, or drop. One hash-partitioned
    * aggregation on the (low-cardinality) source key with map-side
    * combine. */
  def sourceStatsOf(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        avg(col("n_chars")).as("avg_chars"),
        sum(wsTokenCount(col("text")).cast(LongType)).as("total_tokens"))
      .orderBy("source")

  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    sourceStatsOf(Tables.documents(spark, dir))

  /** Token-budget mix selection: take documents per source, in
    * deterministic doc_id order, until each source's token budget is
    * exhausted (greedy prefix, the "cap every domain at N tokens"
    * move when assembling a fixed-size training mix).
    *
    * The running sum is HIERARCHICAL: a plain
    * `Window.partitionBy(source)` would hand every document of a huge
    * source to one reducer (source cardinality bounds parallelism —
    * maybe hundreds of values against 100 TB). Instead doc_ids are cut
    * into contiguous `shardWidth` ranges; shard-local prefix sums run
    * at (source × shard) parallelism over the corpus, and the only
    * source-partitioned window runs over the per-shard TOTALS — one
    * row per shard, not per document. Because `doc_id div shardWidth`
    * is monotone in doc_id, shard-offset + shard-local sum equals the
    * single-window running sum exactly (same oracle). */
  def tokenBudgetOf(docs: DataFrame, budgetPerSource: Long,
                    shardWidth: Long = 1L << 16): DataFrame = {
    val t = docs
      .select(col("doc_id"), col("source"),
        wsTokenCount(col("text")).cast(LongType).as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $shardWidth"))
    val wIn = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inShard = t.withColumn("cum_in_shard", sum(col("n_tokens")).over(wIn))
    // per-(source, shard) totals: |sources|·|shards| rows — tiny next
    // to the corpus, so the source-ordered exclusive prefix sum below
    // is over the offset TABLE, not the data
    val wOff = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("source", "shard")
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("shard_offset",
        coalesce(sum(col("shard_tokens")).over(wOff), lit(0L)))
      .select(col("source"), col("shard"), col("shard_offset"))
    inShard.join(offsets, Seq("source", "shard"))
      .withColumn("cum_tokens", col("shard_offset") + col("cum_in_shard"))
      .filter(col("cum_tokens") <= budgetPerSource)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** The single-window reference formulation of tokenBudgetOf — kept
    * for the equality spec that pins the hierarchical decomposition. */
  private[graft] def tokenBudgetSingleWindowOf(docs: DataFrame,
                                               budgetPerSource: Long): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        wsTokenCount(col("text")).cast(LongType).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetPerSource)
      .orderBy("doc_id")
  }

  // shardWidth 64 at the test scale (500-doc corpus → ~8 shards per
  // source) so the hierarchical path is actually exercised; production
  // callers size shardWidth so a shard's documents fit one task
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOf(Tables.documentsNarrow(spark, dir), budgetPerSource = 500L,
      shardWidth = 64L)

  /** Model-based quality filtering: a fixed linear scoring model over
    * the census features (the shape of a fastText/logreg quality
    * classifier applied as column algebra — the weights would come
    * from training, here they are library constants). All three
    * censuses are native one-pass expressions, so the whole model is
    * a single whole-stage-codegen projection: no UDF, no model-server
    * round trip, no shuffle. The score avoids transcendental
    * functions (no sigmoid) so Spark and the DuckDB oracle compute
    * bit-identical doubles: a monotone transform wouldn't change the
    * ranking or the keep decision anyway. */
  def qualityModelOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val cc = graft.functions.native.char_class_counts(col("text"))
    val stop = graft.functions.native
      .word_set_scores(lower(col("text")), Seq(qualityStopwords)).getItem(0)
    val rs = graft.functions.native.repetition_stats(col("text"))
    val scored = docs.withColumn("__cc", cc).withColumn("__st", rs)
      .withColumn("__stop", stop)
    val nChars = col("__cc").getItem(0).cast(DoubleType)
    val nAlpha = col("__cc").getItem(1).cast(DoubleType)
    val nPunct = col("__cc").getItem(2).cast(DoubleType)
    val nTok = col("__st").getItem(0)
    val nDist = col("__st").getItem(1)
    val topBg = col("__st").getItem(2)
    val nBigrams = when(nTok >= 2, nTok - 1).otherwise(0L)
    val alphaRatio = when(nChars > 0, nAlpha / nChars).otherwise(0.0)
    val punctRatio = when(nChars > 0, nPunct / nChars).otherwise(0.0)
    val stopRatio = when(nTok > 0, col("__stop").cast(DoubleType) / nTok).otherwise(0.0)
    val distinctRatio = when(nTok === 0, 0.0).otherwise(nDist.cast(DoubleType) / nTok)
    val topBigramRatio = when(nBigrams === 0, 0.0)
      .otherwise(topBg.cast(DoubleType) / nBigrams)
    // weights sum left-to-right; the DuckDB oracle uses the same
    // association order so the doubles are bit-identical
    val score = lit(0.4) * alphaRatio + lit(0.3) * stopRatio +
      lit(0.2) * distinctRatio +
      lit(0.3) * least(nTok.cast(DoubleType) / lit(100.0), lit(1.0)) -
      lit(0.5) * punctRatio - lit(0.4) * topBigramRatio
    scored
      .select(col("doc_id"), score.as("quality_score"))
      .withColumn("keep", when(col("quality_score") >= threshold, 1).otherwise(0))
      .orderBy("doc_id")
  }

  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityModelOf(Tables.documents(spark, dir))

  /** Epoch counts per language for the registered upsampling query:
    * scarce languages are repeated, abundant ones seen once — the
    * other half of mix re-balancing (stratifiedSample downsamples,
    * this upsamples). */
  val epochRates: Map[String, Int] = Map("de" -> 2, "fr" -> 2, "es" -> 2, "zh" -> 3)

  /** Deterministic upsampling: emit each document `epochs(lang)` times
    * with an epoch index — the repeated-epochs view a trainer iterates
    * when a stratum must be over-represented. Pure explode of a
    * bounded per-row sequence: output size is Σ epochs, no shuffle,
    * no RNG. */
  def upsampleEpochsOf(docs: DataFrame, epochs: Map[String, Int],
                       defaultEpochs: Int = 1): DataFrame = {
    val n = epochs.foldLeft(lit(defaultEpochs)) { case (acc, (lang, e)) =>
      when(col("lang") === lang, e).otherwise(acc)
    }
    // epochs = 0 must DROP the stratum: a bare sequence(0, -1) would
    // count DOWN ([0, -1]) and duplicate the doc instead
    val idxs = when(n >= 1, sequence(lit(0), n - 1))
      .otherwise(array().cast(ArrayType(IntegerType)))
    docs
      .select(col("doc_id"), col("lang"), explode(idxs).as("epoch_idx"))
      .select(col("doc_id"), col("lang"),
        col("epoch_idx").cast(LongType).as("epoch_idx"))
      .orderBy("doc_id", "epoch_idx")
  }

  def upsampleEpochs(spark: SparkSession, dir: String): DataFrame =
    upsampleEpochsOf(Tables.documentsNarrow(spark, dir), epochRates)

  /** Priority-aware exact dedup: among identical documents, keep the
    * copy from the most trusted source (then min doc_id) — the usual
    * rule when the same page arrives via multiple crawls of different
    * quality. One window over the content-hash partitioning. */
  def dedupPriorityOf(docs: DataFrame, priorities: Map[String, Int],
                      defaultPriority: Int = 100): DataFrame = {
    val pr = priorities.foldLeft(lit(defaultPriority)) { case (acc, (s, p)) =>
      when(col("source") === s, p).otherwise(acc)
    }
    val bySha = Window.partitionBy("content_sha")
    val w = bySha.orderBy("prio", "doc_id")
    docs
      .select(col("doc_id"), col("source"),
        sha2(col("text"), 256).as("content_sha"), pr.as("prio"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(bySha))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("canonical_id"), col("source"),
        col("prio"), col("n_copies"))
      .orderBy("canonical_id")
  }

  /** Registered binding: even-numbered sources outrank odd ones —
    * deterministic priorities the oracle reproduces. */
  def dedupPriority(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsNarrow(spark, dir)
    val priorities = (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 1 else 2)).toMap
    dedupPriorityOf(docs, priorities)
  }

  /** The Gopher stop set (Rae et al. 2021 §A1.1 rule 7). */
  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher/MassiveText document-quality rule set (Rae et al.
    * 2021 §A1.1) — the canonical pre-training heuristic filter, of
    * which [[repetitionScoreOf]] covers the repetition half. Every
    * rule here is a per-row projection (no shuffle at any scale), and
    * every ratio threshold is evaluated by INTEGER cross-
    * multiplication (`10·sym ≤ n` instead of `sym/n ≤ 0.1`), so the
    * verdicts and every underlying count hash-match a DuckDB oracle
    * exactly — no float division anywhere.
    *
    * Rules: word count within [minWords, maxWords]; mean word length
    * within [3, 10]; symbol-to-word ratio (`#`/`…`) ≤ 0.1; ≥ 80% of
    * words contain an alphabetic character; ≤ 90% of lines start with
    * a bullet; ≤ 30% of lines end with an ellipsis; ≥ 2 stop words
    * present. `keep` is the conjunction. */
  def gopherRulesOf(docs: DataFrame, minWords: Long = 30,
                    maxWords: Long = 100000): DataFrame = {
    val toks = split(wsTrim(col("text")), "\\s+")
    val lines = split(col("text"), "\n", -1)
    val nW = wsTokenCount(col("text")).cast(LongType)
    // Σ word lengths = every non-whitespace char, one regexp strip
    val sumLen = length(regexp_replace(col("text"), "\\s", "")).cast(LongType)
    val nSym = size(regexp_extract_all(col("text"), lit("[#…]"), lit(0))).cast(LongType)
    val nAlphaW = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast(LongType)
    val nLines = size(lines).cast(LongType)
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast(LongType)
    val nEllip = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast(LongType)
    val nStop = graft.functions.native
      .word_set_scores(lower(col("text")), Seq(gopherStopwords)).getItem(0)
      .cast(LongType)
    val asBit = (c: Column) => when(c, 1L).otherwise(0L)
    docs
      .select(col("doc_id"), nW.as("n_words"), sumLen.as("n_word_chars"),
        nSym.as("n_symbols"), nAlphaW.as("n_alpha_words"),
        nLines.as("n_lines"), nBullet.as("n_bullet_lines"),
        nEllip.as("n_ellipsis_lines"), nStop.as("n_stopwords"))
      .withColumn("ok_word_count",
        asBit(col("n_words") >= minWords && col("n_words") <= maxWords))
      .withColumn("ok_mean_word_len",
        asBit(col("n_words") > 0 &&
          col("n_word_chars") >= col("n_words") * 3L &&
          col("n_word_chars") <= col("n_words") * 10L))
      .withColumn("ok_symbol_ratio", asBit(col("n_symbols") * 10L <= col("n_words")))
      .withColumn("ok_alpha_ratio", asBit(col("n_alpha_words") * 5L >= col("n_words") * 4L))
      .withColumn("ok_bullet", asBit(col("n_bullet_lines") * 10L <= col("n_lines") * 9L))
      .withColumn("ok_ellipsis", asBit(col("n_ellipsis_lines") * 10L <= col("n_lines") * 3L))
      .withColumn("ok_stopwords", asBit(col("n_stopwords") >= 2L))
      .withColumn("keep", col("ok_word_count") * col("ok_mean_word_len") *
        col("ok_symbol_ratio") * col("ok_alpha_ratio") * col("ok_bullet") *
        col("ok_ellipsis") * col("ok_stopwords"))
      .orderBy("doc_id")
  }

  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Tables.documents(spark, dir))

  /** Distinctive terms per document: rank a document's terms by
    * (tf DESC, df ASC, term ASC) and keep the top `k` — the
    * integer-only core of tf-idf term extraction (df replaces the
    * idf logarithm as the tiebreak, preserving the tf-idf order for
    * equal tf without introducing a transcendental the oracle can't
    * reproduce bit-for-bit). tf and df come from ONE tokenize+groupBy
    * pass (df is a re-aggregation of the distinct (doc, term) pairs,
    * not a second scan); the per-document top-k is a row_number
    * window that the optimizer collapses to WindowGroupLimit, so
    * each document prunes to k rows BEFORE the final sort. All
    * shuffles are keyed on (doc_id, term) / term / doc_id — no
    * all-pairs term anywhere at 100 TB. */
  def topTermsOf(docs: DataFrame, k: Int = 5): DataFrame = {
    val tf = docs
      .filter(length(wsTrim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(split(lower(wsTrim(col("text"))), "\\s+")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, "term")
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  def topTerms(spark: SparkSession, dir: String): DataFrame =
    topTermsOf(Tables.documents(spark, dir))

  /** CCNet-style language-model quality proxy (Wenzek et al. 2020):
    * score every document by how much of it the reference corpus has
    * seen before — here the fraction of its word TRIGRAMS that occur
    * in the reference half. CCNet ranks by KenLM perplexity; the
    * n-gram COVERAGE fraction is the same fluency signal with integer
    * arithmetic only (a perplexity needs log-probs, a transcendental
    * no cross-engine bit-exact oracle can reproduce), thresholded by
    * cross-multiplication like [[gopherRulesOf]].
    *
    * Plan shape at 100 TB: trigram explode is shuffle-free, the
    * reference vocabulary is a distinct on the trigram key, the
    * membership join and the per-doc count are both keyed shuffles —
    * no broadcast of the (corpus-sized) reference, no all-pairs term.
    * Documents shorter than 3 tokens carry no evidence and pass
    * (0 ≥ 0 — length policing is [[gopherRulesOf]]'s job). */
  def lmCoverageOf(docs: DataFrame, refDocs: DataFrame,
                   minCoveredPct: Int = 80): DataFrame = {
    require(minCoveredPct >= 0 && minCoveredPct <= 100, "percentage out of range")
    def trigrams(d: DataFrame): DataFrame = {
      val w = split(lower(wsTrim(col("text"))), "\\s+")
      d.select(col("doc_id"), w.as("w"), size(w).as("n"))
        .filter(length(wsTrim(col("text"))) > 0 && col("n") >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), col("n") - 2), i =>
            concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1),
              element_at(col("w"), i + 2)))).as("tri"))
    }
    val ref = trigrams(refDocs).select("tri").distinct().withColumn("__hit", lit(1))
    val scored = trigrams(docs)
      .join(ref, Seq("tri"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), count(col("__hit")).as("n_covered"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("is_fluent",
        when(col("n_covered") * 100L >= col("n_trigrams") * minCoveredPct, 1L)
          .otherwise(0L))
      .orderBy("doc_id")
  }

  /** Registered binding: the even-doc_id half is the "reference" the
    * model trained on — a deterministic split both engines compute,
    * standing in for CCNet's clean Wikipedia LM corpus. */
  /** Vocabulary-indexed tokenization — the step that turns a cleaned
    * corpus into model input: build the top-`vocabSize` vocabulary by
    * collection frequency (ties broken by token asc, ids 1..V in rank
    * order, 0 reserved for OOV/unk), then map every positioned token
    * of every document to its id. The analogue of the reference's
    * typed-normalization stage applied to text: raw strings in,
    * integer ids out (`lib_dataframe.py:1-17` normalizes CSV fields
    * the same way — parse once, store typed).
    *
    * Scale shape: the vocabulary aggregate is one token-keyed shuffle
    * with map-side combine whose OUTPUT is vocabulary-sized, so the
    * id map is tiny and the mapping join is a broadcast — the corpus
    * itself is touched by two map-only passes (explode+count,
    * explode+lookup) and never shuffles on the mapping side. The
    * unpartitioned rank window runs over the post-`limit` table, so
    * its single partition holds exactly `vocabSize` rows — a
    * CONSTANT bound (32-100k ids in practice), independent of corpus
    * size, unlike a dimension-sized global window (those use the
    * hierarchical bucket rank, see ReferenceOps.rankedBySpendDesc).
    * Emitted exploded (doc_id, pos, token, token_id) rather
    * than as an array column so the result is plain-SQL comparable;
    * a real export would `collect_list` over the same frame. */
  def tokenizeIdsOf(docs: DataFrame, vocabSize: Int = 64): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(wsTrim(lower(col("text"))), "\\s+")))
      .filter(length(col("col")) > 0)
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("token"))
    val vocab = toks
      .groupBy("token").agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"), col("cf"),
        row_number().over(Window.orderBy(col("cf").desc, col("token")))
          .cast(LongType).as("token_id"))
    toks
      .join(broadcast(vocab.select("token", "token_id")), Seq("token"), "left")
      .select(col("doc_id"), col("pos"), col("token"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
      .orderBy("doc_id", "pos")
  }

  def tokenizeIds(spark: SparkSession, dir: String): DataFrame =
    tokenizeIdsOf(Tables.documents(spark, dir))

  /** Deterministic corpus shuffle + sharding — the export-side global
    * shuffle every training run needs: each document gets a salted
    * content-independent pseudo-random sort key (md5 of seed+id, the
    * same cross-engine hash trick as [[stratifiedSampleOf]]), its
    * shard is the key's top 16 bits mod `nShards`, and its position
    * within the shard is its key rank there. Reproducible across
    * runs, cluster sizes and input orderings — re-running the export
    * yields byte-identical shards, and a resumed job can rebuild
    * shard k alone.
    *
    * Scale shape: ONE hash-shuffle by shard + a per-shard local sort
    * (the window partitions by shard — no global ordering, no
    * single-partition window). Shards are corpus/nShards sized; at
    * 100 TB pick nShards ≥ cluster parallelism and each shard sorts
    * independently — this is exactly Spark's repartition+sortWithin
    * Partitions shape expressed as an auditable query. */
  def shuffleShardOf(docs: DataFrame, nShards: Int = 16,
                     seed: String = "shard"): DataFrame = {
    val skey = md5(concat(lit(seed + "|"), col("doc_id").cast(StringType)))
    val shard = (conv(substring(col("sort_key"), 1, 4), 16, 10)
      .cast(LongType) % nShards).as("shard")
    val w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    docs
      .select(col("doc_id"), skey.as("sort_key"))
      .select(col("doc_id"), col("sort_key"), shard)
      .withColumn("pos_in_shard", row_number().over(w).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
      .orderBy("shard", "pos_in_shard")
  }

  def shuffleShard(spark: SparkSession, dir: String): DataFrame =
    shuffleShardOf(Tables.documents(spark, dir))

  /** Compression-ratio quality signal (the RedPajama/Dolma heuristic):
    * deflate the UTF-8 text and compare compressed to raw size.
    * Machine-generated repetition compresses far below natural prose
    * (flagged `is_repetitive`), while binary-ish/near-random content
    * barely compresses at all (flagged `is_random`); `keep` is the
    * band between. Thresholds are integer-cross-multiplied percents —
    * no float division, so the flags are exactly reproducible.
    * One map-only scan (the native codegen [[graft.functions.native
    * .deflate_size]] keeps the deflate inside the whole-stage span) —
    * no shuffle at any scale. Rows-only oracle: no SQL engine exposes
    * a deflate, so the signal is ExpressionSpec-pinned instead. */
  def compressionScoreOf(docs: DataFrame, minPct: Int = 20,
                         maxPct: Int = 90): DataFrame =
    docs
      .select(col("doc_id"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        graft.functions.native.deflate_size(col("text"))
          .cast(LongType).as("deflate_bytes"))
      .withColumn("is_repetitive",
        (col("n_bytes") > 0 &&
          col("deflate_bytes") * 100 < col("n_bytes") * minPct).cast(IntegerType))
      .withColumn("is_random",
        (col("n_bytes") > 0 &&
          col("deflate_bytes") * 100 > col("n_bytes") * maxPct).cast(IntegerType))
      .withColumn("keep",
        (col("n_bytes") > 0 && col("is_repetitive") === 0 &&
          col("is_random") === 0).cast(IntegerType))
      .orderBy("doc_id")

  def compressionScore(spark: SparkSession, dir: String): DataFrame =
    compressionScoreOf(Tables.documents(spark, dir))

  /** Count-Min point-frequency estimates for the vocabulary census —
    * the third member of the mergeable-summary family (HLL distinct,
    * Misra-Gries heavy hitters, CMS point queries): ONE map pass
    * builds a depth×width counter sketch (the shuffle moves
    * fixed-size counter arrays, never the token stream — `t_vocab`'s
    * exact census shuffles every token), then the exact top-`topK`
    * tokens are estimated against the single broadcast sketch row
    * (the packed-broadcast idiom). `overcount = est − cf` is ≥ 0 by
    * construction (CMS never undercounts) and ≤ N/width per row whp —
    * both spec-pinned, alongside a bit-exact plain-Scala reference
    * replay. Rows-only: the sketch rides the native hash. */
  def vocabCmsOf(docs: DataFrame, depth: Int = 4, width: Int = 2048,
                 topK: Int = 100): DataFrame = {
    val toks = docs
      .select(explode(split(wsTrim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    val sketch = toks.agg(
      graft.functions.native.count_min_sketch_agg(col("token"), depth, width).as("sk"))
    val census = toks.groupBy("token").agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("token"))
      .limit(topK)
    census.join(broadcast(sketch))
      .select(col("token"), col("cf"),
        graft.functions.native.cms_estimate(col("sk"), col("token"), depth, width)
          .as("est"))
      .withColumn("overcount", col("est") - col("cf"))
      .orderBy(col("cf").desc, col("token"))
  }

  def vocabCms(spark: SparkSession, dir: String): DataFrame =
    vocabCmsOf(Tables.documents(spark, dir))

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) — the step after
    * [[pairCountsOf]]'s merge-candidate census: iteratively merge the
    * globally most frequent adjacent symbol pair, `nMerges` times,
    * returning the ordered merge table a tokenizer ships with.
    *
    * Scale shape — the textbook algorithm IS the scalable one: the
    * corpus is touched exactly ONCE (the word-count aggregate, one
    * token-keyed shuffle with map-side combine); every merge round
    * then runs over the WORD table — vocabulary-sized, millions of
    * rows at 100 TB, not corpus-sized — as one pair-explode +
    * aggregate + a top-1 `collect` (driver gets one row per round,
    * like the `limit(1)` fixed-point probe of
    * [[graft.operators.NearDedup.duplicateClusters]]' contraction
    * rounds) + a native codegen
    * [[graft.functions.native.merge_pair]] rewrite of the symbol
    * arrays. `localCheckpoint` truncates the per-round lineage.
    * Ties break by (pair freq desc, left, right) so training is
    * deterministic at any partitioning; merges stop early when no
    * pair reaches `minFreq`. */
  def bpeTrainOf(docs: DataFrame, nMerges: Int = 16, minFreq: Long = 2): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    val words = docs
      .select(explode(split(wsTrim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    var table = words
      .withColumn("syms", filter(split(col("word"), ""), s => length(s) > 0))
      .select(col("wc"), col("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      val pairs = table
        .select(col("wc"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), (s, i) -> struct(s AS l, syms[i + 1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("freq"))
        .filter(col("freq") >= minFreq)
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      pairs.headOption match {
        case Some(Row(l: String, r: String, f: Long)) =>
          merges += ((round, l, r, f))
          table = table
            .withColumn("syms",
              graft.functions.native.merge_pair(col("syms"), lit(l), lit(r)))
            .localCheckpoint(true)
          round += 1
        case _ => done = true
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "freq")
      .select(col("rank").cast(LongType).as("rank"), col("left"), col("right"),
        col("freq"))
      .orderBy("rank")
  }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainOf(Tables.documents(spark, dir))

  /** BPE tokenization with a TRAINED merge table — the apply side of
    * [[bpeTrainOf]]: every word re-derives its pieces by replaying
    * the merges in rank order (exactly how a shipped BPE tokenizer
    * encodes). The merge table is collected driver-side (it is
    * vocabulary-bounded and rank-ordered — 16..64k rows, never
    * corpus-sized) and unrolled into a CHAIN of native `merge_pair`
    * calls, so the whole encode is one codegen projection over the
    * corpus: no join, no shuffle beyond the output explode, applies
    * unchanged at 100 TB. Emitted exploded (doc_id, word_pos,
    * piece_pos, piece) for plain comparability. */
  def bpeApplyOf(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val pieces = merges.foldLeft(
        filter(split(col("word"), ""), s => length(s) > 0): Column) {
      case (acc, (l, r)) => graft.functions.native.merge_pair(acc, lit(l), lit(r))
    }
    docs
      .select(col("doc_id"),
        posexplode(split(wsTrim(lower(col("text"))), "\\s+")))
      .filter(length(col("col")) > 0)
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("word_pos"),
        col("col").as("word"))
      .select(col("doc_id"), col("word_pos"), posexplode(pieces))
      .select(col("doc_id"), col("word_pos"),
        (col("pos") + 1).cast(LongType).as("piece_pos"), col("col").as("piece"))
      .orderBy("doc_id", "word_pos", "piece_pos")
  }

  /** One trained merge table per source dir per JVM: training is
    * `t_bpe`'s own claimed (and timed) work; the encode query times
    * encoding, exactly as a production pipeline loads a shipped merge
    * table rather than retraining per batch. */
  private val bpeMerges =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  /** Registered binding: train on the corpus (once per JVM), then
    * encode the corpus with its own merge table (the round-trip a
    * tokenizer pipeline runs end-to-end). */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMerges.computeIfAbsent(dir, _ =>
      bpeTrainOf(docs).collect().map(r => (r.getString(1), r.getString(2))).toSeq)
    bpeApplyOf(docs, merges)
  }

  def lmCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    lmCoverageOf(docs, docs.filter(col("doc_id") % 2 === 0))
  }
}
