package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusExport, NearDedup, TextOps}
import graft.sources.JsonlDocs

/** Training-corpus preparation as one batch caller: clean (quality gate
  * + MinHash dedup), exact-pair duplicate clusters, the leakage-safe
  * split, its incremental form, and the export. Bound by execution —
  * shingling, LSH, verification shuffles — and bypasses the snapshot
  * store and the planner rules. Every output is checked against the
  * planted clusters. */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"
  private val docsN = 240

  /** A generated corpus on disk, with what its planting implies. */
  private final class Planted(spark: SparkSession, dir: String, seed: Long, n: Int) {
    val corpus: Gen.Corpus = Gen.corpus(seed, n, n / 20, 3, 10)
    val path = s"$dir/corpus.parquet"
    corpus.docs.grouped((corpus.docs.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
      Gen.writeLines(s"$dir/jsonl/part-$i.json", part.iterator.map(Gen.docJson))
    }
    // parsed once through the program's JSONL reader and kept as parquet,
    // the corpus format the operators read in production
    JsonlDocs.readClean(spark, s"$dir/jsonl").write.parquet(path)

    val clusterOf: Map[Long, Int] =
      corpus.clusters.zipWithIndex.flatMap { case (ids, c) => ids.map(_ -> c) }.toMap
    val copyIds: Set[Long] = Plant.drop(corpus.clusters.flatMap(_.tail)).toSet
    val byId: Map[Long, Gen.Doc] = corpus.docs.map(d => d.id -> d).toMap
    /** The held-out evaluation set of the export: unplanted originals. */
    val benchIds: Set[Long] =
      corpus.docs.map(_.id).filter(id => id < n && id % 41 == 5 && !clusterOf.contains(id)).toSet
  }

  private var planted: Planted = _

  def setup(spark: SparkSession, dir: String, seed: Long, ledger: Ledger): Unit = {
    // one untimed round over a small corpus first, so the five operators'
    // code paths are compiled and warm when timing starts
    round(spark, new Planted(spark, s"$dir/warm", seed + 1, 40), ledger)
    planted = new Planted(spark, dir, seed, docsN)
  }

  /** Base/batch split of the incremental tier: every tenth document arrives late. */
  private def inBatch(id: Long) = id % 10 == 7

  private def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** `bucket < rate(lang)` exactly as the stratified sampler computes it. */
  private def sampled(d: Gen.Doc): Boolean = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest((d.text + "sample").getBytes("UTF-8"))
    val bucket = (((md5(0) & 0xff) << 8) | (md5(1) & 0xff)) % 100
    bucket < TextOps.sampleRates.getOrElse(d.lang, 100)
  }

  def pass(spark: SparkSession, dir: String, seconds: Double, ledger: Ledger): Pass = {
    val lat, recall = Seq.newBuilder[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadline) {
      val (ms, r) = round(spark, planted, ledger)
      lat += ms
      recall += r
      if (Trace.on) lshCensus(spark.read.parquet(planted.path), ledger)
      rounds += 1
    }
    val ls = lat.result()
    Pass(Stats.median(ls), rounds.toDouble * planted.corpus.docs.size, ls.sum / 1e3, Map(
      "dedup.recall" -> (Stats.median(recall.result()), "ratio"),
      "dedup.rounds" -> (rounds.toDouble, "count")))
  }

  /** The five calls over one corpus, each output checked; returns the
    * round's milliseconds and the clean recall. */
  private def round(spark: SparkSession, p: Planted, ledger: Ledger): (Double, Double) = {
    val corpus = p.corpus
    val t0 = System.nanoTime()
    var recall = 0.0
    val docs = spark.read.parquet(p.path)
    var clean = Set.empty[Long]
    // 1. clean: quality gate + MinHash/LSH near-dup removal
    ledger.op("clean_corpus") {
      Trace.span(spark, "operators.clean_corpus")(ids(NearDedup.cleanCorpus(docs)))
    }.foreach { kept =>
      clean = kept
      val removed = corpus.docs.map(_.id).toSet -- kept
      val wrong = removed -- p.copyIds -- corpus.junk
      ledger.check("clean removes only planted copies and junk")(wrong.isEmpty && corpus.junk.forall(removed),
        s"unplanted removals ${wrong.take(5)}")
      recall = (removed & p.copyIds).size.toDouble / corpus.clusters.map(_.size - 1).sum
    }
    Heap.sample()
    // 2. exact pairs → large-star/small-star components
    ledger.op("dup_clusters") {
      Trace.span(spark, "operators.dup_clusters") {
        NearDedup.duplicateClustersStar(NearDedup.ngramJaccardOf(docs, 0.5).select("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1))
      }
    }.foreach { labels =>
      val bad = labels.filter { case (d, c) => d != c && p.clusterOf.get(d) != p.clusterOf.get(c) }
      ledger.check("clusters fall within planted clusters")(bad.isEmpty, bad.take(5).mkString(","))
      val found = labels.count { case (d, c) => d != c }
      ledger.check("exact clusters find every planted copy")(found == p.copyIds.size, s"$found of ${p.copyIds.size}")
    }
    Heap.sample()
    // 3. leakage-safe split of the base, 4. the late batch assigned incrementally
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    ledger.op("cluster_split") {
      Trace.span(spark, "operators.cluster_split")(NearDedup.clusterSplitOf(base).localCheckpoint())
    }.foreach { assign =>
      val a = assign.select("doc_id", "anchor_id", "split").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val split = corpus.clusters.map(_.filterNot(inBatch)).filter(_.size > 1)
        .filter(m => m.map(a).map(_._2).distinct.size != 1)
      ledger.check("planted clusters stay in one split")(split.isEmpty, split.take(3).mkString(","))
      ledger.op("cluster_split_incr") {
        Trace.span(spark, "operators.cluster_split_incr") {
          NearDedup.clusterSplitIncrOf(base, assign, batch).collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
        }
      }.foreach { inc =>
        // a late copy of a base document inherits its original's anchor and split
        val bad = corpus.clusters.filter(m => !inBatch(m.head)).flatMap { m =>
          m.tail.filter(inBatch).filter(c => inc.get(c) != a.get(m.head).map(x => (m.head, x._2)))
        }
        ledger.check("late copies inherit their original's split")(
          bad.isEmpty && inc.size == corpus.docs.count(d => inBatch(d.id)), bad.take(5).mkString(","))
      }
    }
    Heap.sample()
    // 5. the export: clean, decontaminate against the held-out set, sample, split, pack
    ledger.op("export") {
      Trace.span(spark, "operators.export") {
        ids(CorpusExport.exportCorpusOf(docs, docs.filter(col("doc_id").isin(p.benchIds.toSeq: _*)),
          TextOps.sampleRates))
      }
    }.foreach { exported =>
      val want = clean.filter(id => !p.benchIds(id) && sampled(p.byId(id)))
      ledger.check("export is the clean, uncontaminated sample")(exported == want,
        s"${(exported -- want).take(5)} extra, ${(want -- exported).take(5)} missing")
    }
    ((System.nanoTime() - t0) / 1e6, recall)
  }

  /** Traced runs only: LSH candidates and the share that verifies. */
  private var lsh = (0L, 0L)
  private def lshCensus(docs: DataFrame, ledger: Ledger): Unit = ledger.op("lsh census") {
    val sh = NearDedup.shingles(docs)
    val cand = NearDedup.minHashCandidates(NearDedup.minHashSignatures(sh)).cache()
    val n = cand.count()
    val ok = NearDedup.jaccard(sh, cand).filter(col("jaccard") >= 0.5).count()
    cand.unpersist()
    lsh = (n, ok)
  }

  def layers(p: Pass): Map[String, Double] = Layers.operators() ++ Layers.session() ++ Map(
    "operators.lsh.candidate_pairs" -> lsh._1.toDouble,
    "operators.lsh.verified_ratio" -> (if (lsh._1 == 0) 0.0 else lsh._2.toDouble / lsh._1))
}
