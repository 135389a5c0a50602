package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusExport, NearDedup, TextOps}

/** Training-mix operators: stratified sampling, repetition scoring,
  * sequence packing, and benchmark decontamination. */
class DataMixSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val docs = Seq(
    (1L, "en", "the cat sat on the mat and looked at the dog"),
    (2L, "en", "a b a b c"),
    (3L, "de", "der hund lief durch den park und bellte laut"),
    (4L, "zh", "中文 内容 测试 样本 数据"),
    (5L, "en", ""),
    (6L, "en", "word"),
    (7L, "en", "spam spam spam spam spam spam"),
    (8L, "en", "the cat sat on the mat and looked at the dog") // dup of 1
  ).toDF("doc_id", "lang", "text")

  test("stratified sample: deterministic, duplicate-stable, rate-respecting") {
    val once  = TextOps.stratifiedSampleOf(docs, Map("en" -> 50)).collect()
    val again = TextOps.stratifiedSampleOf(docs, Map("en" -> 50)).collect()
    assert(once.toSeq === again.toSeq) // content-keyed, no RNG state
    val kept = once.map(_.getLong(0)).toSet
    // exact duplicates share the md5 bucket → kept or dropped together
    assert(kept.contains(1L) === kept.contains(8L))
    // rate 100 keeps everything, rate 0 drops everything in stratum
    val all = TextOps.stratifiedSampleOf(docs, Map.empty).collect()
    assert(all.length === docs.count())
    val noEn = TextOps.stratifiedSampleOf(docs, Map("en" -> 0)).collect()
    assert(!noEn.map(_.getString(1)).contains("en"))
    assert(noEn.map(_.getString(1)).toSet === Set("de", "zh"))
  }

  test("weighted sample: exact-k, deterministic, weight-enriched, no replacement") {
    import spark.implicits._
    // 200 light docs (weight 1) + 10 heavy docs (weight 10000): the
    // heavy stratum must be strongly enriched in a k=30 draw
    val corpus = ((1L to 200L).map(i => (i, 1L)) ++
      (1001L to 1010L).map(i => (i, 10000L))).toDF("doc_id", "w")
    val draw = TextOps.weightedSampleOf(corpus, col("w"), k = 30)
    val ids = draw.collect().map(_.getLong(0))
    assert(ids.length === 30)
    assert(ids.distinct.length === 30) // without replacement
    val heavy = ids.count(_ >= 1000L)
    assert(heavy === 10, s"all heavy docs should make a k=30 draw, got $heavy")
    // pure function of (corpus, seed): rerun identical, seed changes it
    val again = TextOps.weightedSampleOf(corpus, col("w"), k = 30)
      .collect().map(_.getLong(0))
    assert(ids.toSeq === again.toSeq)
    val other = TextOps.weightedSampleOf(corpus, col("w"), k = 30, seed = "s2")
      .collect().map(_.getLong(0))
    assert(ids.toSeq !== other.toSeq)
    // zero-variance control: equal weights → draw is a pure hash rank,
    // and es keys stay within (0, 1]
    draw.collect().foreach(r => {
      val key = r.getDouble(r.fieldIndex("es_key"))
      assert(key > 0.0 && key <= 1.0)
    })
  }

  test("repetition score: known counts, degenerate docs score high") {
    val m = TextOps.repetitionScoreOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // "a b a b c": 5 tokens, 3 distinct, bigrams = [a b, b a, a b, b c]
    assert(m(2L).getLong(1) === 5L)
    assert(m(2L).getLong(2) === 3L)
    assert(m(2L).getDouble(3) === 3.0 / 5.0)
    assert(m(2L).getLong(4) === 2L)          // "a b" twice
    assert(m(2L).getDouble(5) === 2.0 / 4.0)
    // empty doc: all zeros, no NaN/null
    assert(m(5L).getLong(1) === 0L && m(5L).getDouble(3) === 0.0
      && m(5L).getLong(4) === 0L && m(5L).getDouble(5) === 0.0)
    // single token: no bigrams
    assert(m(6L).getLong(1) === 1L && m(6L).getLong(4) === 0L)
    // "spam"×6: distinct_ratio 1/6, top bigram owns all 5 slots
    assert(m(7L).getDouble(3) === 1.0 / 6.0)
    assert(m(7L).getDouble(5) === 1.0)
  }

  test("repetition score: native census is bit-equal to the composed formulation") {
    val edge = docs.select("doc_id", "text").unionByName(Seq(
      (20L, "  leading and trailing   "),
      (21L, "tab\tand\nnewlineseparated tokens tab\tand"),
      (22L, "MiXeD CaSe mixed case MIXED CASE"),
      (23L, "中文 内容 中文 内容 中文")
    ).toDF("doc_id", "text"))
    val a = TextOps.repetitionScoreOf(edge).collect().toSeq
    val b = TextOps.repetitionScoreComposedOf(edge).collect().toSeq
    assert(a === b)
  }

  test("pack sequences: per-shard cumulative layout, budget arithmetic") {
    val packed = TextOps.packSequencesOf(docs, budget = 7, nShards = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // shard = doc_id % 2; within a shard, offsets accumulate in doc_id order
    val byShard = packed.toSeq.sortBy(_._1).groupBy(_._2._1)
    byShard.foreach { case (_, ds) =>
      var before = 0L
      ds.foreach { case (_, (_, n, seqId, off)) =>
        assert(seqId === before / 7, s"seq_id at before=$before")
        assert(off === before % 7, s"seq_offset at before=$before")
        before += n
      }
    }
    // first doc of each shard starts at sequence 0, offset 0
    assert(packed(1L)._3 === 0L && packed(1L)._4 === 0L)
    assert(packed(2L)._3 === 0L && packed(2L)._4 === 0L)
  }

  test("decontaminate: planted benchmark overlap is flagged, clean docs are not") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "totally unrelated text with no overlap here"),
      (12L, "prefix words then alpha beta gamma suffix")
    ).toDF("doc_id", "text")
    val bench = Seq((90L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val m = NearDedup.decontaminateOf(corpus, bench).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // doc 10 shares "alpha beta gamma" and "beta gamma delta" → 2 hits
    assert(m(10L) === ((2L, 1)))
    assert(m(11L) === ((0L, 0)))
    assert(m(12L) === ((1L, 1)))    // one shared 3-gram
    assert(m.size === 3)            // clean docs still present in output
  }

  test("pii scrub: planted identifiers are counted and redacted, clean text untouched") {
    val pii = Seq(
      (1L, "mail me at a.b@x.io then ping 10.0.0.1 or call 555-123-4567"),
      (2L, "two mails x@y.org and z@w.net in one doc"),
      (3L, "no identifiers here at all"),
      (4L, "")
    ).toDF("doc_id", "text")
    val m = TextOps.piiScrubOf(pii).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(m(1L) === ((1L, 1L, 1L,
      "mail me at <EMAIL> then ping <IP> or call <PHONE>")))
    assert(m(2L)._1 === 2L && m(2L)._4 === "two mails <EMAIL> and <EMAIL> in one doc")
    assert(m(3L) === ((0L, 0L, 0L, "no identifiers here at all")))
    assert(m(4L) === ((0L, 0L, 0L, "")))
  }

  test("pii scrub: an identifier consumed by an earlier category is not double-counted") {
    val pii = Seq(
      (1L, "reach 555-123-4567@example.com or 10.1.2.3"),
      (2L, "plain phone 555-123-4567 still counts")
    ).toDF("doc_id", "text")
    val m = TextOps.piiScrubOf(pii).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // the phone-shaped local part belongs to the email: email redaction
    // consumes it, so n_phones is 0 and clean_text holds no <PHONE>
    assert(m(1L) === ((1L, 0L, 1L, "reach <EMAIL> or <IP>")))
    assert(m(2L) === ((0L, 1L, 0L, "plain phone <PHONE> still counts")))
  }

  test("token budget: hierarchical decomposition equals the single window at any shard width") {
    val mix = (1L to 40L)
      .map(i => (i, s"s${i % 3}", ("tok " * ((i % 7).toInt + 1)).trim))
      .toDF("doc_id", "source", "text")
    val ref = TextOps.tokenBudgetSingleWindowOf(mix, 30L).collect().toSeq
    assert(ref.nonEmpty)
    for (w <- Seq(1L, 7L, 64L, 1L << 16))
      assert(TextOps.tokenBudgetOf(mix, 30L, shardWidth = w).collect().toSeq === ref,
        s"shardWidth=$w diverged from the single-window reference")
  }

  test("pack sequences: group columns restart packing at every group boundary") {
    val d = docs.select(col("doc_id"), col("text"),
      when(col("doc_id") % 2 === 0, "val").otherwise("train").as("split"))
    val packed = TextOps.packSequencesOf(d, budget = 7, nShards = 1,
      groupCols = Seq("split")).collect()
    val byGroup = packed.groupBy(r => (r.getLong(1), r.getString(5)))
    assert(byGroup.keySet.map(_._2) === Set("train", "val"))
    byGroup.foreach { case (g, rs) =>
      var before = 0L
      rs.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) === before / 7 && r.getLong(4) === before % 7,
          s"group $g: packing arithmetic broke at doc ${r.getLong(0)}")
        before += r.getLong(2)
      }
    }
  }

  test("pair counts: global adjacent-pair census with document frequency") {
    val d = Seq(
      (1L, "a b a b"),   // pairs: "a b"×2, "b a"×1
      (2L, "a b c"),     // "a b", "b c"
      (3L, "solo"),      // single token → no pairs
      (4L, "")           // empty → no pairs
    ).toDF("doc_id", "text")
    val m = TextOps.pairCountsOf(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m === Map("a b" -> ((3L, 2L)), "b a" -> ((1L, 1L)), "b c" -> ((1L, 1L))))
    // top-K cut is deterministic: ties break on the pair string
    val top = TextOps.pairCountsOf(d, topK = 2).collect().map(_.getString(0)).toSeq
    assert(top === Seq("a b", "b a"))
  }

  test("cluster split: near-dup members share one split; singletons equal the per-doc split") {
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "alpha beta gamma delta epsilon zeta eta"), // 4/5 shingles shared → paired
      (30L, "one two three four completely different words"),
      (40L, "yet another unrelated document body here")
    ).toDF("doc_id", "text")
    val out = NearDedup.clusterSplitOf(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the pair anchors on its minimum id and shares one bucket+split
    assert(out(10L)._1 === 10L && out(20L)._1 === 10L)
    assert(out(10L) === out(20L).copy(_1 = 10L))
    // the near-dup member's key is the ANCHOR's content: doc 20 gets
    // doc 10's per-doc assignment, whatever its own text hashes to
    val perDoc = TextOps.splitAssignOf(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert((out(20L)._2, out(20L)._3) === perDoc(10L))
    // singletons anchor on themselves and reduce to the per-doc split
    for (id <- Seq(30L, 40L)) {
      assert(out(id)._1 === id)
      assert((out(id)._2, out(id)._3) === perDoc(id))
    }
  }

  test("cluster split: a transitive near-dup chain unifies through components, never straddles") {
    // A ~ B and B ~ C but A !~ C directly: components, not pairwise
    // propagation, must carry the split key across the chain
    val base = (1 to 12).map(i => s"token$i").mkString(" ")
    val mid = (3 to 14).map(i => s"token$i").mkString(" ")   // 10 tokens shared with base
    val far = (5 to 16).map(i => s"token$i").mkString(" ")   // 10 with mid, 8 with base
    val d = Seq((1L, base), (2L, mid), (3L, far),
      (4L, "entirely separate corpus material unrelated to chains")).toDF("doc_id", "text")
    val pairs = NearDedup.ngramJaccardOf(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)), s"fixture drifted: $pairs")
    val out = NearDedup.clusterSplitOf(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(out(1L)._1 === 1L && out(2L)._1 === 1L && out(3L)._1 === 1L)
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2).size === 1)
    assert(out(4L)._1 === 4L)
  }

  test("incremental split: inherit via any member, bridge takes the min anchor, fresh rolls its own") {
    def toks(r: Range) = r.map(i => s"tok$i").mkString(" ")
    val base = Seq(
      (1L, toks(1 to 12)),  // cluster {1,2}, anchor 1
      (2L, toks(1 to 13)),
      (3L, toks(21 to 32)), // base singleton anchor 3
      (4L, toks(41 to 52))  // untouched base singleton
    ).toDF("doc_id", "text")
    val baseAssign = NearDedup.clusterSplitOf(base, 0.4)
    val batch = Seq(
      (101L, toks(2 to 14)),                       // near doc 2 → inherits ANCHOR 1
      (103L, toks(1 to 12) + " " + toks(21 to 32)), // bridges {1,2} and {3} → min anchor 1
      (104L, toks(61 to 72)),                      // fresh pair with 105
      (105L, toks(61 to 73)),
      (106L, toks(81 to 92))                       // batch singleton
    ).toDF("doc_id", "text")
    val out = NearDedup.clusterSplitIncrOf(base, baseAssign, batch, 0.4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val ba = baseAssign.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(ba(1L)._1 === 1L && ba(2L)._1 === 1L && ba(3L)._1 === 3L)
    // inherit: through a non-anchor member, the ANCHOR's frozen key
    assert(out(101L) === ba(1L))
    // bridge: linked to both components, takes the minimum base anchor;
    // history stays frozen (3 keeps its own assignment in the base)
    assert(out(103L) === ba(1L))
    // fresh component: anchored at its minimum member, keyed by that
    // member's content — both land together
    assert(out(104L)._1 === 104L && out(105L)._1 === 104L)
    assert(out(104L) === out(105L))
    val perDoc = TextOps.splitAssignOf(batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert((out(104L)._2, out(104L)._3) === perDoc(104L))
    // singleton: itself, per-doc key
    assert(out(106L)._1 === 106L)
    assert((out(106L)._2, out(106L)._3) === perDoc(106L))
  }

  test("PMI collocations: hand-computed log-ratio on a tiny census") {
    val d = Seq((1L, "a b a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    // tokens: a×3 b×2 c×1, N=6; bigrams: "a b"×2 "b a"×1 "a c"×1, B=4
    val out = TextOps.collocationsOf(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getFloat(4)))).toMap
    assert(out.keySet === Set("a b", "b a", "a c"))
    assert(out("a b")._1 === 2L && out("a b")._2 === 3L && out("a b")._3 === 2L)
    // pmi("a b") = ln(2·6²/(4·3·2)) = ln 3; "b a" → ln 1.5; "a c" → ln 3
    assert(math.abs(out("a b")._4 - math.log(3.0)) < 1e-6)
    assert(math.abs(out("b a")._4 - math.log(1.5)) < 1e-6)
    assert(math.abs(out("a c")._4 - math.log(3.0)) < 1e-6)
  }

  test("domain cap keeps the N earliest docs per source with their ranks") {
    val d = Seq(
      (1L, "s1"), (2L, "s1"), (5L, "s1"),
      (3L, "s2"), (4L, "s2")
    ).map { case (id, s) => (id, "txt", s) }.toDF("doc_id", "text", "source")
    val m = TextOps.domainCapOf(d, maxDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L)) // 5 capped out
  }

  test("chunking slides a fixed window with stride; final chunk may be short") {
    val d = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2L, "   ")).toDF("doc_id", "text")
    val rows = TextOps.chunkOf(d, chunkTokens = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // starts 0,3,6,9 — ceil(10/3) = 4 chunks, last one 1 token
    assert(rows.toSeq === Seq(
      (1L, 0L, "t0 t1 t2 t3", 4L),
      (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t6 t7 t8 t9", 4L),
      (1L, 3L, "t9", 1L)))
    // every token is covered by some chunk (stride <= chunk size)
    assert(rows.map(_._4).sum >= 10)
  }

  test("substring-dup census counts repeated L-token spans across documents") {
    val d = Seq(
      (1L, "a b c x y"),  // spans: "a b c","b c x","c x y" — first is shared
      (2L, "z a b c w"),  // spans: "z a b","a b c","b c w" — second is shared
      (3L, "p q r s t"),  // 3 spans, none repeated
      (4L, "too short")   // < l tokens: no spans at all
    ).toDF("doc_id", "text")
    val m = NearDedup.substrDupOf(d, l = 3, maxDupRatio = 0.3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(4)))).toMap
    assert(m(1L) === ((3L, 1L, 1)))  // 1/3 > 0.3 → flagged
    assert(m(2L) === ((3L, 1L, 1)))
    assert(m(3L) === ((3L, 0L, 0)))
    assert(m(4L) === ((0L, 0L, 0)))
  }

  test("substring scrub keeps one canonical occurrence and cuts the rest, preserving case") {
    val d = Seq(
      (1L, "A b c x y"),  // span "a b c" (lowercased identity) — canonical here
      (2L, "z a b c w"),  // non-canonical occurrence: tokens 1..3 cut
      (3L, "p q r s t")   // untouched
    ).toDF("doc_id", "text")
    val m = NearDedup.substrScrubOf(d, l = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(m(1L) === (("A b c x y", 0L))) // canonical survives, case intact
    assert(m(2L) === (("z w", 3L)))
    assert(m(3L) === (("p q r s t", 0L)))
  }

  test("registered substr binding: planted wrapped copies mark originals fully duplicated") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val nTok = TextOps.tokenCountsOf(docs).select("doc_id", "n_ws_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // an original with ≥8 tokens re-issued inside a wrapper: every one
    // of its 8-token spans recurs in the copy → dup_ratio exactly 1
    val expect = nTok.keys.filter(id => id % 40 == 0 && nTok(id) >= 8).toSet
    assert(expect.nonEmpty)
    val m = NearDedup.substrDup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    expect.foreach { id =>
      assert(m(id) === 1.0, s"original $id should be fully span-duplicated")
    }
  }

  test("registered minhash binding recovers every planted near-duplicate pair") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val off = docs.agg(max("doc_id")).head().getLong(0) + 1L // binding's offset
    val planted = docs
      .filter(col("doc_id") % 50 === 25 && length(col("text")) >= 200)
      .collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    val pairs = NearDedup.minHashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { id =>
      assert(pairs.contains((id, id + off)),
        s"planted near-dup of doc $id not recovered")
    }
  }

  test("incremental exact dedup: batch doc matching base is flagged with canonical id") {
    val base = Seq(
      (1L, "shared content one"), (2L, "base only"), (6L, "shared content one")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "shared content one"), (11L, "batch only")
    ).toDF("doc_id", "text")
    val m = NearDedup.incrementalExactOf(base, batch).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(m(10L) === ((1, 1L))) // dup of MIN matching base id
    assert(m(11L) === ((0, -1L)))
  }

  test("incremental near dedup: perturbed batch copy of a base doc is caught") {
    val baseText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val base = Seq((1L, baseText), (2L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, baseText.replace("today", "tonight")), // near-dup of base 1
      (11L, "fresh unrelated document with none of those words appearing anywhere else")
    ).toDF("doc_id", "text")
    val pairs = NearDedup.incrementalNearOf(base, batch, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)))
    assert(!pairs.exists(_._1 == 11L))
  }

  test("incremental near dedup equals the full self-join restricted to cross-split pairs") {
    val docs2 = graft.sources.Tables.documents(spark, sf)
    val base = docs2.filter(col("doc_id") % 5 =!= 0)
    val batch = docs2.filter(col("doc_id") % 5 === 0)
    val incr = NearDedup.incrementalNearOf(base, batch, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full corpus self-join, keep only pairs with one side in each role
    val full = NearDedup.minHashDedupOf(docs2, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }.toSet
    assert(incr === full)
  }

  test("cross jaccard equals the full exact self-join restricted to cross pairs") {
    val docs2 = graft.sources.Tables.documents(spark, sf)
    val base = docs2.filter(col("doc_id") % 5 =!= 0)
    val batch = docs2.filter(col("doc_id") % 5 === 0)
    val cross = NearDedup.ngramJaccardCrossOf(base, batch, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the PPJoin self-join over the union, cross-role pairs only,
    // reoriented (base, batch) — the one-sided prefix filter must be
    // LOSSLESS, not merely high-recall
    val full = NearDedup.ngramJaccardOf(docs2, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (b, a) else (a, b) }.toSet
    assert(cross === full)
    assert(cross.nonEmpty, "vacuous fixture: no cross-split near-pairs in the corpus")
  }

  test("near-dup tiers against a brute-force driver-side 3-gram Jaccard oracle") {
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(150)}")
    val originals = (1L to 12L).map(_ -> words(40))
    // copy 100+i swaps i % 6 words, 7 apart: Jaccard from 1.0 down past 0.5
    val copies = originals.map { case (i, w) =>
      (100 + i) -> (0 until (i % 6).toInt).foldLeft(w)((acc, k) => acc.updated(3 + 7 * k, s"edit$k"))
    }
    val texts = (originals ++ copies).map { case (i, w) => i -> w.mkString(" ") } ++ Seq(
      201L -> ("\t  " + copies(2)._2.mkString(" ").toUpperCase + "  "), // case and edge whitespace
      202L -> "too short",
      203L -> "")
    def shingleSet(t: String): Set[String] = {
      val w = t.toLowerCase.trim.split("\\s+")
      if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val bfSets = texts.map { case (i, t) => i -> shingleSet(t) }.filter(_._2.nonEmpty)
    val bf = (for ((a, sa) <- bfSets; (b, sb) <- bfSets if a < b) yield {
      val c = (sa & sb).size
      (a, b) -> c.toDouble / (sa.size + sb.size - c)
    }).toMap
    assert(bf.values.exists(j => j >= 0.8) && bf.values.exists(j => j >= 0.5 && j < 0.8) &&
      bf.values.exists(j => j > 0.3 && j < 0.5), s"fixture does not straddle the thresholds: $bf")

    val df = texts.toDF("doc_id", "text")
    def isBatch(id: Long) = id % 3 == 0
    val base = df.filter(col("doc_id") % 3 =!= 0)
    val batch = df.filter(col("doc_id") % 3 === 0)
    def pairs(d: org.apache.spark.sql.DataFrame) = d.as[(Long, Long)].collect().toSet
    // (base, batch) orientation of the cross tier
    def cross(ps: Set[(Long, Long)]) = ps.collect {
      case (a, b) if isBatch(a) != isBatch(b) => if (isBatch(a)) (b, a) else (a, b)
    }
    val sets = NearDedup.shingleSets(df)
    val bands = NearDedup.bandsFromSets(sets)
    val reversedIndex = NearDedup.shingleSets(base).withColumn("s", reverse(col("s")))
    for (t <- Seq(0.5, 0.8)) {
      val expected = bf.keySet.filter(bf(_) >= t)
      assert(pairs(NearDedup.ngramJaccardOf(df, t)) === expected, s"ngramJaccardOf at $t")
      assert(cross(expected).nonEmpty)
      assert(pairs(NearDedup.ngramJaccardCrossOf(base, batch, t)) === cross(expected),
        s"ngramJaccardCrossOf at $t")
      assert(pairs(NearDedup.ngramJaccardCrossPrebuilt(reversedIndex, batch, t)) === cross(expected),
        s"ngramJaccardCrossPrebuilt over a reversed index at $t")
      Seq(
        "minHashDedupOf" -> pairs(NearDedup.minHashDedupOf(df, t)),
        "minHashPairsPrebuilt" -> pairs(NearDedup.minHashPairsPrebuilt(sets, bands, t)),
        "incrementalNearOf" -> pairs(NearDedup.incrementalNearOf(base, batch, t))
      ).foreach { case (name, got) =>
        assert(got.nonEmpty, s"$name at $t: vacuous")
        val wrong = got.map { case (a, b) => (a min b, a max b) }.filterNot(p => bf.getOrElse(p, 0.0) >= t)
        assert(wrong.isEmpty, s"$name at $t: pairs below the threshold $wrong")
      }
    }
  }

  test("bloom decontamination is result-identical to the exact plan on real data") {
    val docs2 = graft.sources.Tables.documents(spark, sf)
    val exact = NearDedup.decontaminateOf(
      docs2.filter(col("doc_id") % 20 =!= 0), docs2.filter(col("doc_id") % 20 === 0))
    val bloom = NearDedup.decontaminateBloomOf(
      docs2.filter(col("doc_id") % 20 =!= 0), docs2.filter(col("doc_id") % 20 === 0))
    assert(exact.collect().toSeq === bloom.collect().toSeq)
  }

  test("token budget: greedy per-source prefix respects the cap deterministically") {
    val mix = Seq(
      (1L, "s1", "one two three"),          // 3 tokens, cum 3
      (3L, "s1", "four five six seven"),    // 4 tokens, cum 7
      (5L, "s1", "eight nine"),             // 2 tokens, cum 9 > 8 → dropped
      (2L, "s2", "a b c d e f g h")         // 8 tokens, cum 8 → kept
    ).toDF("doc_id", "source", "text")
    val kept = TextOps.tokenBudgetOf(mix, 8L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(kept === Map(1L -> 3L, 3L -> 7L, 2L -> 8L))
  }

  test("corpus export: contaminated and duplicate docs are gone, manifest is complete") {
    val docs2 = graft.sources.Tables.documents(spark, sf)
    val out = CorpusExport.exportCorpus(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(out.columns.toSet ===
      Set("doc_id", "shard", "n_tokens", "seq_id", "seq_offset", "split"))
    val ids = rows.map(_.getLong(0)).toSet
    // benchmark docs (doc_id % 20 == 0) can never appear in the export
    assert(!ids.exists(_ % 20 == 0))
    // contaminated corpus docs are dropped
    val contaminated = NearDedup.decontaminate(spark, sf)
      .filter(col("is_contaminated") === 1).collect().map(_.getLong(0)).toSet
    assert(ids.intersect(contaminated).isEmpty)
    // split labels are exhaustive
    assert(rows.map(_.getString(5)).toSet.subsetOf(Set("train", "val", "test")))
    // packing is per (shard, split): within each group the offsets
    // accumulate from zero in doc_id order, so a packed sequence can
    // never interleave train/val/test documents
    rows.groupBy(r => (r.getLong(1), r.getString(5))).foreach { case (g, rs) =>
      var before = 0L
      rs.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) === before / 256 && r.getLong(4) === before % 256,
          s"group $g: sequence packing straddles a split boundary at doc ${r.getLong(0)}")
        before += r.getLong(2)
      }
    }
  }

  test("corpus export through a durable parquet stage boundary is identical") {
    val docs2 = graft.sources.Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("export").toString
    val viaDisk = CorpusExport.exportCorpusOf(
      docs2.filter(col("doc_id") % 20 =!= 0),
      docs2.filter(col("doc_id") % 20 === 0),
      TextOps.sampleRates, persistDir = Some(dir)).collect().toSeq
    val viaLocal = CorpusExport.exportCorpus(spark, sf).collect().toSeq
    assert(viaDisk === viaLocal)
    // every cluster-safe stage boundary, the tail included, landed on disk
    for (b <- Seq("clean_corpus", "surviving", "kept"))
      assert(new java.io.File(s"$dir/$b.parquet/_SUCCESS").exists(), b)
  }

  test("quality model: degenerate docs score below normal prose, empties at zero") {
    val m = TextOps.qualityModelOf(docs.select("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(m(5L)._1 === 0.0 && m(5L)._2 === 0)        // empty doc
    assert(m(1L)._1 > m(7L)._1)                        // prose beats "spam"×6
    assert(m(1L)._1 > m(4L)._1)                        // prose beats CJK (no ascii-alpha signal)
    // the keep decision is non-degenerate on real data
    val keeps = TextOps.qualityModel(spark, sf).groupBy("keep").count().collect()
    assert(keeps.length === 2, keeps.mkString(","))
  }

  test("contamination report: rates aggregate per source, clean sources at zero") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta", "web"),
      (11L, "alpha beta gamma noise", "web"),
      (12L, "totally clean other text", "books")
    ).toDF("doc_id", "text", "source")
    val bench = Seq((90L, "alpha beta gamma")).toDF("doc_id", "text")
    val m = NearDedup.contaminationBySourceOf(corpus, bench).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m("web") === ((2L, 2L, 1.0)))
    assert(m("books") === ((1L, 0L, 0.0)))
  }

  test("epoch upsampling repeats each stratum the declared number of times") {
    val out = TextOps.upsampleEpochsOf(docs.select("doc_id", "lang", "text"),
      Map("zh" -> 3, "de" -> 2)).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(2)).sorted.toSeq }
    assert(out(1L) === Seq(0L))          // en: default 1 epoch
    assert(out(3L) === Seq(0L, 1L))      // de: 2 epochs
    assert(out(4L) === Seq(0L, 1L, 2L))  // zh: 3 epochs
    // 0 epochs DROPS the stratum (sequence(0,-1) would duplicate it)
    val dropped = TextOps.upsampleEpochsOf(docs.select("doc_id", "lang", "text"),
      Map("en" -> 0)).collect().map(_.getString(1)).toSet
    assert(!dropped.contains("en") && dropped.nonEmpty)
  }

  test("priority dedup keeps the most trusted copy, not the lowest id") {
    val d = Seq(
      (1L, "crawl_b", "same content"),
      (2L, "crawl_a", "same content"),  // higher priority despite larger id
      (3L, "crawl_b", "unique content")
    ).toDF("doc_id", "source", "text")
    val m = TextOps.dedupPriorityOf(d, Map("crawl_a" -> 1, "crawl_b" -> 2)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(m === Map(2L -> (("crawl_a", 2L)), 3L -> (("crawl_b", 1L))))
  }

  test("decontaminate plan: benchmark shingle set is broadcast, corpus never cross-joins") {
    val docs2 = docs.select("doc_id", "text")
    val plan = NearDedup.decontaminateOf(
      docs2.filter(col("doc_id") % 4 =!= 0),
      docs2.filter(col("doc_id") % 4 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
