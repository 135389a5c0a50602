package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.{DeflateSize, DotProductF, HilbertIndex, HyperplaneBuckets, MergePair, MinHashSignature, NfcNormalize, PolyHash64, RepetitionStats, WinnowFingerprint}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql("... dot_f(a,b) ...")`
  * works cluster-wide. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the engine's own DDL (CREATE/DROP MATERIALIZED VIEW) rides a
    // delegating parser — the DeltaSqlParser idiom; everything Spark's
    // grammar already speaks passes through untouched
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // planner citizenship: the naive bounded-interval join rewrites to
    // the bucketed equi-join automatically (see plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // …and aggregates over a graft store answer from its registered
    // feed-maintained materialized view when fresh (plans.MatViewRewrite)
    ext.injectOptimizerRule(_ => graft.plans.MatViewRewrite)
    // …whole-table count/min/max over a plain snapshot version answer
    // from the version's committed stats manifest — zero data IO
    // (plans.MetaAggregate). After MatViewRewrite: a registered view
    // serves richer shapes; the manifest serves what's left.
    ext.injectOptimizerRule(_ => graft.plans.MetaAggregate)
    // …and catalog chain-head reads splice their merged plan into the
    // consuming query — the consumer's filters/pruning sink into the
    // base parquet scan, real sizes reach the planner, and no
    // V1-bridge codegen seam remains (plans.GraftScanInline). Runs
    // after MatViewRewrite within each pass, so a fresh view wins.
    ext.injectOptimizerRule(_ => graft.plans.GraftScanInline)
    // …and an aggregate over a small file scan runs as one stage on one
    // coalesced partition (plans.SingleStageAggregate). A pre-CBO rule,
    // so it runs LAST: once, after the operator-optimization batch the
    // three rules above run in, so each still sees the Aggregate-over-
    // scan shapes it matches; a view-served aggregate coalesces its
    // view scan and a manifest-served one, a LocalRelation, declines.
    ext.injectPreCBORule(_ => graft.plans.SingleStageAggregate)
    ext.injectFunction((FunctionIdentifier("dot_f"),
      info("dot_f", "dot_f(a, b) - double dot product of two float vectors"),
      (children: Seq[Expression]) => DotProductF(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("poly_hash64"),
      info("poly_hash64", "poly_hash64(str) - 64-bit polynomial rolling hash"),
      (children: Seq[Expression]) => PolyHash64(children.head)))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprint"),
      info("winnow_fingerprint", "winnow_fingerprint(str) - winnowed k-gram fingerprint set"),
      (children: Seq[Expression]) => WinnowFingerprint(children.head, 5, 4)))
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(arr, numHashes) - all MinHash permutation minima in one pass"),
      (children: Seq[Expression]) => MinHashSignature(children(0),
        children(1).asInstanceOf[Literal].value.asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("hyperplane_buckets"),
      info("hyperplane_buckets",
        "hyperplane_buckets(vec, nBands, nPlanes) - banded random-hyperplane LSH signature"),
      (children: Seq[Expression]) => HyperplaneBuckets(children(0),
        children(1).asInstanceOf[Literal].value.asInstanceOf[Int],
        children(2).asInstanceOf[Literal].value.asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("deflate_size"),
      info("deflate_size",
        "deflate_size(str) - raw-deflate byte count of the UTF-8 text (compression-ratio quality signal)"),
      (children: Seq[Expression]) => DeflateSize(children.head)))
    ext.injectFunction((FunctionIdentifier("merge_pair"),
      info("merge_pair",
        "merge_pair(syms, l, r) - one leftmost non-overlapping BPE merge pass over a symbol array"),
      (children: Seq[Expression]) => MergePair(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize",
        "nfc_normalize(str) - Unicode NFC canonical composition (same semantics as DuckDB's)"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((FunctionIdentifier("hilbert_index"),
      info("hilbert_index",
        "hilbert_index(cells, bits) - Hilbert-curve index of a bucket-coordinate array"),
      (children: Seq[Expression]) => HilbertIndex(children(0),
        children(1).asInstanceOf[Literal].value.asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("repetition_stats"),
      info("repetition_stats",
        "repetition_stats(str) - [n_tokens, n_distinct, top_bigram_n] in one pass"),
      (children: Seq[Expression]) => RepetitionStats(children.head)))
  }
}
