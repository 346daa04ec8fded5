package graft.operators

import graft.SparkSpec

/** Unit-level checks for the dedup family on crafted frames (the
  * oracle gate covers the real tables; these pin edge-case semantics). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("shingleSet: shorter-than-k texts produce no shingles, k-length texts one") {
    val sh = Dedup.shingleSet(docs(1L -> "a b", 2L -> "a b c", 3L -> "a b c d"), k = 3)
      .as[(Long, String)].collect().toSet
    assert(sh === Set((2L, "a b c"), (3L, "a b c"), (3L, "b c d")))
  }

  test("shingleSet is a set: repeated shingles collapse") {
    val sh = Dedup.shingleSet(docs(1L -> "x y x y x y"), k = 2)
      .as[(Long, String)].collect().toSet
    assert(sh === Set((1L, "x y"), (1L, "y x")))
  }

  test("ngramJaccardPairs: identical docs score 1.0, disjoint docs absent") {
    val pairs = Dedup.ngramJaccardPairs(
      docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "p q r s t"),
      k = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 1.0)))
  }

  test("minhashLshPairs finds the same pairs as exact Jaccard here") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "completely different text with no overlap at all whatsoever now")
    val lsh = Dedup.minhashLshPairs(d, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(d, k = 3, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
    assert(lsh === Set((1L, 2L)))
  }

  test("simhashPairs: identical docs at Hamming 0; banding rejects maxHamming > 3") {
    val pairs = Dedup.simhashPairs(
      docs(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "z y x w v u"),
      maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs(1L -> "a b c"), maxHamming = 4)
    }
  }

  test("connectedComponents: transitive closure, singletons, cluster sizes") {
    // pairs 1-2, 2-3 chain into one component even though (1,3) is not
    // a pair — the over-deletion case pairwise dedup gets wrong; 4-5 is
    // a separate component; 6 is a singleton
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(nodes, pairs)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out === Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 2L, true), (5L, 4L, 2L, false),
      (6L, 6L, 1L, true)))
  }

  test("connectedComponents: a long path needs diameter rounds and still converges") {
    // path 0-1-2-...-9: diameter 9, the worst case for min propagation
    val nodes = (0L until 10L).toDF("doc_id")
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(nodes, pairs)
      .select("doc_id", "rep_id").as[(Long, Long)].collect().toSet
    assert(out === (0L until 10L).map(_ -> 0L).toSet)
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, pairs, maxIters = 2)
    }
  }

  test("connectedComponents: empty node frame converges to an empty result") {
    val out = Dedup.connectedComponents(
      docs().select($"doc_id"),
      docs().select($"doc_id".as("doc_a"), $"doc_id".as("doc_b")))
    assert(out.count() === 0)
  }

  test("decontamReport: per-benchmark leak counts, worst offender, clean rows kept") {
    // bench 100 "a b c d e" has shingles {abc, bcd, cde}:
    //  - corpus 1 shares abc+bcd (2), corpus 2 shares abc (1)
    //  - worst offender = doc 1 (more shared), NOT the smaller id rule
    // bench 200 is clean: zero counts, NULL worst_doc
    val bench = docs(100L -> "a b c d e", 200L -> "x y z w v")
    val corpus = docs(1L -> "a b c d q", 2L -> "a b c q r",
      3L -> "p q r s t")
    val out = Dedup.decontamReport(corpus, bench, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))))
      .toMap
    assert(out(100L) === ((2L, 3L, Some(1L), 2L)))
    assert(out(200L) === ((0L, 0L, None, 0L)))
  }

  test("decontamReport: worst-offender ties break to the smaller corpus id") {
    val bench = docs(100L -> "a b c d")
    // both corpus docs share exactly {abc}; tie → doc 5
    val corpus = docs(9L -> "a b c x", 5L -> "a b c y")
    val row = Dedup.decontamReport(corpus, bench, k = 3).collect().head
    assert(row.getLong(3) === 5L && row.getLong(4) === 1L)
  }

  test("decontaminate without the broadcast hint returns identical counts") {
    val bench = docs(100L -> "a b c d e")
    val corpus = docs(1L -> "a b c d x", 3L -> "p q r s t")
    val hinted = Dedup.decontaminate(corpus, bench, k = 3)
      .as[(Long, Long, Boolean)].collect().toSet
    val plain = Dedup.decontaminate(corpus, bench, k = 3,
        broadcastBenchmark = false)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(hinted === plain)
  }

  test("decontaminateBloom == exact decontaminate; might_contain rides the shingle stream") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter($"doc_id" % 50 =!= 0)
    val bench = all.filter($"doc_id" % 50 === 0)
    val bloom = Dedup.decontaminateBloom(corpus, bench, k = 3)
    val exact = Dedup.decontaminate(corpus, bench, k = 3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(bloom.as[(Long, Long, Boolean)].collect().toSet === exact)
    assert(exact.exists(_._3), "precondition: some contamination exists")
    // the Bloom probe must sit in the plan (pre-exchange pruning),
    // not have been optimized away
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("decontaminateBloom: empty benchmark contaminates nothing (null filter drops all)") {
    val corpus = docs(1L -> "a b c d x", 3L -> "p q r s t")
    val out = Dedup.decontaminateBloom(corpus, docs(), k = 3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((1L, 0L, false), (3L, 0L, false)))
  }

  test("dedupClusters: near-dup chain collapses to one canonical doc") {
    val out = Dedup.dedupClusters(docs(
        1L -> "a b c d e f",
        2L -> "a b c d e f", // exact dup of 1
        3L -> "a b c d e g", // near-dup of 1/2, not identical
        4L -> "p q r s t u"),
      k = 3, tau = 0.5)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out === Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true)))
  }

  test("incrementalDedupPairs: delta x corpus only — never delta x delta or corpus x corpus") {
    val delta = docs(
      10L -> "a b c d e f",  // exact dup of corpus doc 1
      11L -> "a b c d e f",  // also dup of corpus 1 AND of delta 10
      12L -> "p q r s t u")  // novel
    val corpus = docs(
      1L -> "a b c d e f",
      2L -> "a b c d e f",   // corpus-internal dup of 1 — must NOT pair
      3L -> "x y z w v u")
    val out = Dedup.incrementalDedupPairs(delta, corpus, k = 3, tau = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set(
      (10L, 1L, 1.0), (10L, 2L, 1.0),
      (11L, 1L, 1.0), (11L, 2L, 1.0)))
  }

  test("incrementalDedupPairs matches the symmetric operator restricted to cross pairs") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different text with no overlap at all whatsoever now")
    val c = docs(
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      4L -> "another unrelated corpus document full of fresh words entirely")
    val inc = Dedup.incrementalDedupPairs(d, c, k = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val sym = Dedup.ngramJaccardPairs(
        d.unionByName(c), k = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => p._1 % 2 == 1 && p._2 % 2 == 0)
    assert(inc === sym)
    // 10-token texts differing in the last word: 7 of 8 trigrams shared
    assert(inc === Set((1L, 2L, 0.7778)))
  }

  test("incrementalDedupWithIndex over a precomputed corpusIndex equals the direct path") {
    val delta = docs(10L -> "a b c d e f", 12L -> "p q r s t u")
    val corpus = docs(1L -> "a b c d e g", 3L -> "x y z w v u")
    val (postings, corpusSets) = Dedup.corpusIndex(corpus, k = 3)
    val viaIndex = Dedup.incrementalDedupWithIndex(delta, postings, corpusSets,
        k = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.incrementalDedupPairs(delta, corpus, k = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex === direct)
    assert(viaIndex === Set((10L, 1L, 0.6)))
  }

  test("decontaminate: counts distinct shared shingles; short and clean docs report 0") {
    val bench = docs(100L -> "a b c d e")           // shingles: abc bcd cde
    val corpus = docs(
      1L -> "a b c d x",                            // shares abc, bcd → 2
      2L -> "z a b c a b c",                        // shares abc (once, distinct) → 1
      3L -> "p q r s t",                            // disjoint → 0
      4L -> "a b")                                  // too short for trigrams → 0
    val out = Dedup.decontaminate(corpus, bench, k = 3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set(
      (1L, 2L, true), (2L, 1L, true), (3L, 0L, false), (4L, 0L, false)))
  }

  test("ngramStats: df counts docs not occurrences; ties at the cut break on the shingle") {
    val d = docs(
      1L -> "a b c a b c", // 'a b c' twice in one doc → df 1, not 2
      2L -> "a b c x y z",
      3L -> "x y z q r s")
    val top = Dedup.ngramStats(d, k = 3, topN = 2)
      .select("s", "df").as[(String, Long)].collect().toSeq
    // df: 'a b c'→2, 'x y z'→2, everything else 1; the two winners in
    // string order
    assert(top === Seq("a b c" -> 2L, "x y z" -> 2L))
  }

  test("incrementalDedupWithIndex: validateDisjoint rejects overlapping ids, passes disjoint ones") {
    val corpus = docs(1L -> "a b c d e", 2L -> "x y z w v")
    val (postings, cSets) = Dedup.corpusIndex(corpus, k = 3)
    // overlapping id 2 → eager contract failure
    val overlapping = docs(2L -> "a b c d f")
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupWithIndex(overlapping, postings, cSets,
        k = 3, tau = 0.5, validateDisjoint = true)
    }
    assert(ex.getMessage.contains("disjointness"))
    // disjoint ids → validation passes and output matches the unchecked path
    val delta = docs(10L -> "a b c d f")
    val checked = Dedup.incrementalDedupWithIndex(delta, postings, cSets,
        k = 3, tau = 0.5, validateDisjoint = true)
      .collect().map(_.toSeq).toSet
    val unchecked = Dedup.incrementalDedupWithIndex(delta, postings, cSets,
        k = 3, tau = 0.5)
      .collect().map(_.toSeq).toSet
    assert(checked === unchecked && checked.nonEmpty)
  }

  test("dedupClustersByQuality: longest member wins, min-id tiebreak, rep_id stays min id") {
    val d = docs(
      1L -> "a b c d e f",          // cluster {1,2,3}: near-dups
      2L -> "a b c d e f g h",      // longest → canonical
      3L -> "a b c d e f",          // same length as 1 → id 1 wins the tie over 3
      9L -> "x y z w v u")          // singleton: canonical by default
    val out = Dedup.dedupClustersByQuality(d, k = 3, tau = 0.5)
      .select("doc_id", "rep_id", "keep_id", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((1L, 2L, false)))
    assert(out(2L) === ((1L, 2L, true))) // NOT the min id — the longest
    assert(out(3L) === ((1L, 2L, false)))
    assert(out(9L) === ((9L, 9L, true)))
  }

  test("corpusDiff: added/removed/changed/unchanged classification on hash compare") {
    val v1 = docs(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val v2 = docs(2L -> "beta", 3L -> "gamma CHANGED", 4L -> "delta")
    val out = Dedup.corpusDiff(v1, v2)
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("segmentDedup: cross-doc segments removed, in-doc dups kept (df=1), tail segments intact") {
    val d = docs(
      1L -> "a b c d e f g h",         // segs: 'a b c d' (shared), 'e f g h'
      2L -> "a b c d x y z w",         // segs: 'a b c d' (shared), 'x y z w'
      3L -> "a b c d",                 // ONLY the shared segment → emptied
      4L -> "p q r s p q r s",         // same segment twice IN one doc: df=1 → kept
      5L -> "t u v w x")               // short tail 'x' is its own segment
    val out = Dedup.segmentDedup(d, segTokens = 4, dupDf = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 1L, "e f g h")))
    assert(out(2L) === ((2L, 1L, "x y z w")))
    assert(out(3L) === ((1L, 0L, "")))  // doc survives with empty text
    assert(out(4L) === ((2L, 2L, "p q r s p q r s")))
    assert(out(5L) === ((2L, 2L, "t u v w x")))
  }

  test("segmentDedup: dupDf=3 keeps a two-doc segment; reassembly preserves segment order") {
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d x y z w")
    val out = Dedup.segmentDedup(d, segTokens = 4, dupDf = 3)
      .select("doc_id", "cleaned_text").as[(Long, String)].collect().toMap
    // df('a b c d') = 2 < 3 → kept; cleaned text reassembles in seg order
    assert(out === Map(1L -> "a b c d e f g h", 2L -> "a b c d x y z w"))
  }

  test("dupSpans: shared passage found at ANY alignment; overlapping windows merge to one span") {
    // docs 1 and 2 share the 5-token passage "p q r s t" at DIFFERENT
    // offsets (1-based token 3 in doc 1, token 1 in doc 2) — exactly
    // the case segmentDedup's fixed tiling misses; w=4 gives each doc
    // two duplicated windows ("p q r s" and "q r s t") whose intervals
    // overlap and must merge into ONE 5-token span
    val d = docs(
      1L -> "a b p q r s t c d",  // 9 tokens, passage at 3..7
      2L -> "p q r s t x y z",    // 8 tokens, passage at 1..5
      3L -> "u v w only here once more words")  // 8 tokens, clean
    val out = Dedup.dupSpans(d, w = 4, minDf = 2)
      .select("doc_id", "n_tokens", "n_dup_windows", "n_spans", "dup_tokens", "dup_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 9L, 2L, 1L, 5L, 5555L)))
    assert(out(2L) === ((2L, 8L, 2L, 1L, 5L, 6250L)))
    assert(out(3L) === ((3L, 8L, 0L, 0L, 0L, 0L)))
  }

  test("dupSpans: in-doc repetition alone is df=1 (clean); distant repeats form separate spans") {
    val d = docs(
      // "m m m m" windows repeat WITHIN doc 1 only → df=1 → clean
      1L -> "m m m m m m",
      // docs 2/3 share two non-adjacent 2-token passages (gap > w) →
      // two separate spans of 2 tokens each
      2L -> "aa bb c1 c2 c3 aa bb d9",
      3L -> "aa bb e1 e2 e3 aa bb f9")
    val out = Dedup.dupSpans(d, w = 2, minDf = 2)
      .select("doc_id", "n_dup_windows", "n_spans", "dup_tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 0L, 0L, 0L)))
    // windows "aa bb" at positions 1 and 6 in both docs: gap 5 > w=2 →
    // spans [1,2] and [6,7]
    assert(out(2L) === ((2L, 2L, 2L, 4L)))
    assert(out(3L) === ((3L, 2L, 2L, 4L)))
  }

  test("dupSpansExact: splits the chimera span dupSpans merges; boundaries are true match bounds") {
    // doc 1 = X ++ Y adjacent, where X is shared with doc 2 and Y with
    // doc 3 — but the concatenation X++Y occurs nowhere else. dupSpans'
    // window union merges the two into ONE span [1,8] (the bridging
    // windows keep the islands within w of each other); the exact
    // operator must report the two true matched runs separately.
    val d = docs(
      1L -> "x1 x2 x3 x4 y1 y2 y3 y4",
      2L -> "a x1 x2 x3 x4 b c d",
      3L -> "y1 y2 y3 y4 q r s t")
    val merged = Dedup.dupSpans(d, w = 3, minDf = 2)
      .select("doc_id", "n_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(merged(1L) === ((1L, 1L, 8L)), "precondition: dupSpans merges the chimera")

    val exact = Dedup.dupSpansExact(d, w = 3)
      .select("doc_id", "s", "e", "len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(exact === Set(
      (1L, 1L, 4L, 4L), (1L, 5L, 8L, 4L),  // the chimera split in two
      (2L, 2L, 5L, 4L),                    // X at its true offsets
      (3L, 1L, 4L, 4L)))                   // Y at its true offsets
  }

  test("dupSpansRedact: covered tokens vanish everywhere; clean and fully-covered docs handled") {
    val d = docs(
      1L -> "a b p q r s t c d",  // span [3,7] → keep "a b c d"
      2L -> "p q r s t x y z",    // span [1,5] → keep "x y z"
      3L -> "u v w only here once more words",  // clean → unchanged
      4L -> "j k l m",            // docs 4/5 identical → fully covered
      5L -> "j k l m")
    val out = Dedup.dupSpansRedact(d, w = 4, minDf = 2)
      .select("doc_id", "n_tokens", "n_kept", "cleaned_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 9L, 4L, "a b c d")))
    assert(out(2L) === ((2L, 8L, 3L, "x y z")))
    assert(out(3L) === ((3L, 8L, 8L, "u v w only here once more words")))
    assert(out(4L) === ((4L, 4L, 0L, "")))
    assert(out(5L) === ((5L, 4L, 0L, "")))
  }

  test("dupBySource: per-source rollup counts affected docs and coverage in basis points") {
    val d = Seq(
      (1L, "a b p q r s t c d", "web"),   // dup span [3,7] → 5 of 9 tokens
      (2L, "p q r s t x y z", "web"),     // dup span [1,5] → 5 of 8 tokens
      (3L, "u v w only here once more words", "books"))  // clean
      .toDF("doc_id", "text", "source")
    val out = Dedup.dupBySource(d, w = 4, minDf = 2)
      .select("source", "n_docs", "n_dup_docs", "total_tokens", "dup_tokens", "dup_bp")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // web: 17 tokens, 10 duplicated → 5882 bp; books untouched
    assert(out("web") === (("web", 2L, 2L, 17L, 10L, 5882L)))
    assert(out("books") === (("books", 1L, 0L, 8L, 0L, 0L)))
  }

  test("decontamSpans: flags a 13+-token verbatim run with its exact corpus span") {
    val quote = (1 to 15).map(i => s"q$i").mkString(" ")   // 15-token bench span
    val corpus = Seq(
      (1L, s"lead in words $quote and a tail"),             // quote at tokens 4..18
      (2L, "nothing shared with the benchmark here at all"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"$quote benchmark suffix")).toDF("doc_id", "text")
    val out = Dedup.decontamSpans(corpus, bench, w = 8, minRunTokens = 13)
      .select("corpus_id", "bench_id", "n_runs", "max_run_tokens", "s", "e")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 100L, 1L, 15L, 4L, 18L)))
  }

  test("decontamRedact: removes exactly the contaminated run, keeps the rest") {
    val quote = (1 to 15).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, s"lead in words $quote and a tail"),          // quote at tokens 4..18
      (2L, "nothing shared with the benchmark here at all"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"$quote benchmark suffix")).toDF("doc_id", "text")
    val out = Dedup.decontamRedact(corpus, bench, w = 8, minRunTokens = 13)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_kept", "cleaned_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out.head === ((1L, 21L, 6L, "lead in words and a tail")))
    assert(out(1) === ((2L, 8L, 8L,
      "nothing shared with the benchmark here at all")))
  }

  test("decontamRedact: a sub-threshold overlap removes nothing") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")  // 12 < 13 tokens
    val corpus = Seq((1L, s"start $quote end")).toDF("doc_id", "text")
    val bench = Seq((100L, s"$quote more")).toDF("doc_id", "text")
    val out = Dedup.decontamRedact(corpus, bench, w = 8, minRunTokens = 13)
      .select("n_tokens", "n_kept").as[(Long, Long)].head()
    assert(out === ((14L, 14L)))
  }

  test("decontamSpans: a run below minRunTokens is NOT contamination") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")    // 12 < 13 tokens
    val corpus = Seq((1L, s"start $quote end")).toDF("doc_id", "text")
    val bench = Seq((100L, s"$quote more")).toDF("doc_id", "text")
    assert(Dedup.decontamSpans(corpus, bench, w = 8, minRunTokens = 13)
      .count() === 0L)
    // the SAME pair at threshold 12 is flagged: the rule is the knob
    assert(Dedup.decontamSpans(corpus, bench, w = 8, minRunTokens = 12)
      .count() === 1L)
  }

  test("decontamSpans: separate runs in one pair count apart, worst span wins") {
    val r1 = (1 to 14).map(i => s"a$i").mkString(" ")
    val r2 = (1 to 20).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$r1 xx yy zz $r2")).toDF("doc_id", "text")  // r1 at 1..14, r2 at 18..37
    val bench = Seq((100L, s"$r1 unrelated middle $r2")).toDF("doc_id", "text")
    val out = Dedup.decontamSpans(corpus, bench, w = 8, minRunTokens = 13)
      .select("n_runs", "max_run_tokens", "s", "e")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((2L, 20L, 18L, 37L)))
  }

  test("dupSpans: docs shorter than the window report zero with correct n_tokens") {
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "a b c d e")
    val out = Dedup.dupSpans(d, w = 4, minDf = 2)
      .select("doc_id", "n_tokens", "n_dup_windows").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // identical 2-token docs produce NO w=4 windows → clean by contract
    assert(out(1L) === ((1L, 2L, 0L)))
    assert(out(2L) === ((2L, 2L, 0L)))
    assert(out(3L) === ((3L, 5L, 0L)))
  }

  test("tauSweep: cumulative counts are monotone and pin the operator curve") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.tauSweep(docs)
      .select("tau_bp", "n_pairs").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1) === Seq(5000L, 6000L, 7000L, 8000L, 9000L, 10000L))
    val counts = out.map(_._2)
    assert(counts.zip(counts.tail).forall { case (lo, hi) => lo >= hi },
      "raising tau can only lose pairs")
    // the sweep's exact cross-multiplied histogram makes each row
    // EQUAL the deletion count of the operator it predicts: n_pairs(τ)
    // == ngramJaccardPairs(tau = τ/10000).count(), at every threshold,
    // not just the floor
    out.foreach { case (tauBp, n) =>
      val op = Dedup.ngramJaccardPairs(docs, 3, tauBp / 10000.0).count()
      assert(n === op, s"sweep row $tauBp must equal the operator count")
    }
  }

  test("minhashBandingFor: minimal banding meeting the predicted SLA") {
    // tau=0.8, numHashes=64: b=8 predicts ~0.77, b=16 ~0.9998
    assert(Dedup.minhashBandingFor(0.8, 0.95, 64) === ((16, 4)))
    // looser SLA admits the cheaper banding
    assert(Dedup.minhashBandingFor(0.8, 0.5, 64) === ((8, 8)))
    // unreachable SLA falls back to 1-row bands (max recall)
    assert(Dedup.minhashBandingFor(0.05, 0.999, 64) === ((64, 1)))
  }

  test("minhashBandingFor's choice meets its SLA in MEASURED recall") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val (bands, _) = Dedup.minhashBandingFor(0.8, 0.95, 64)
    val measured = Dedup.lshRecallEval(docs, tau = 0.8, numHashes = 64,
      bandings = Seq(bands))
      .select("recall_bp").as[Long].head()
    assert(measured >= 9500L,
      s"chosen banding $bands measured $measured bp < SLA 9500")
  }
}
