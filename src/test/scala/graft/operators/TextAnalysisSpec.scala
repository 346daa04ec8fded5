package graft.operators

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang")

  test("dedupExact: identical texts collapse to min doc_id") {
    val out = TextAnalysis.dedupExact(
      docs((1L, "same text", "en"), (2L, "same text", "en"), (3L, "other", "en")))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
  }

  test("langId: stopword scores pick the language, priority breaks ties, 'und' when silent") {
    val out = TextAnalysis.langId(docs(
      (1L, "the cat and the dog", "en"),
      (2L, "der hund und die katze", "de"),
      (3L, "xylophone zebra quartz", "zh")))
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("curationSummary: filters short docs, drops dups, groups by predicted lang") {
    val out = TextAnalysis.curationSummary(docs(
      (1L, "the cat sat of the mat and ran", "en"),
      (2L, "the cat sat of the mat and ran", "en"), // exact dup of 1 — dropped
      (3L, "x y", "en"),                            // too short — filtered
      (4L, "der die das und ist ein wort extra", "de")))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(out === Set(("en", 1L, 8L, 8.0), ("de", 1L, 8L, 8.0)))
  }

  test("textQuality: keep flag rejects too-short docs") {
    val out = TextAnalysis.textQuality(docs(
      (1L, "a b", "en"),
      (2L, "one two three four five six seven", "en")))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out === Map(1L -> false, 2L -> true))
  }

  test("docFingerprint: order-sensitive — swapped words change the polynomial") {
    val fps = TextAnalysis.docFingerprint(docs(
      (1L, "alpha beta gamma", "en"),
      (2L, "beta alpha gamma", "en")))
      .select("doc_id", "poly_fp").as[(Long, Long)].collect().toMap
    assert(fps(1L) !== fps(2L))
  }

  private def sourcedDocs(rows: (Long, String, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang", "source")

  test("packTokenBudget: pack_id = exclusive-prefix-sum div budget, per (lang, source) stream") {
    // tokens: 3, 4, 5 in one (en, s1) stream; offsets 0, 3, 7; budget 5
    // → packs 0, 0, 1. The (de, s1) doc starts its own stream at pack 0.
    val out = TextAnalysis.packTokenBudget(sourcedDocs(
        (1L, "a b c", "en", "s1"),
        (2L, "d e f g", "en", "s1"),
        (3L, "h i j k l", "en", "s1"),
        (4L, "x y z w", "de", "s1")), budget = 5)
      .select("doc_id", "start_off", "pack_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 0L, 0L), (2L, 3L, 0L), (3L, 7L, 1L), (4L, 0L, 0L)))
  }

  test("packTokenBudget: a doc longer than the budget still gets exactly one pack") {
    val out = TextAnalysis.packTokenBudget(sourcedDocs(
        (1L, "a b c d e f g h i j k l", "en", "s1"), // 12 tokens, budget 4
        (2L, "m n", "en", "s1")), budget = 4)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 3L)) // doc 2 starts at offset 12
    intercept[IllegalArgumentException] {
      TextAnalysis.packTokenBudget(sourcedDocs((1L, "a", "en", "s1")), budget = 0)
    }
  }

  test("packTokenBudgetSharded: caps window partitions at shardDocs; degenerates to plain packing") {
    val d = sourcedDocs((0L until 40L).map(i => (i, "a b c", "en", "s1")): _*)
    val sharded = TextAnalysis.packTokenBudgetSharded(d, budget = 6, shardDocs = 10)
      .select("doc_id", "shard", "start_off").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // shard is the id range, offsets reset at every shard boundary
    assert(sharded.forall { case (id, sh, _) => sh === id / 10 })
    assert(sharded.filter(_._2 == 1L).minBy(_._1)._3 === 0L)
    // window partition rows bounded by shardDocs
    assert(sharded.groupBy(r => r._2).values.map(_.size).max <= 10)
    // one giant shard == the plain operator (same offsets and packs)
    val degenerate = TextAnalysis
      .packTokenBudgetSharded(d, budget = 6, shardDocs = 1000000L)
      .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
    val plain = TextAnalysis.packTokenBudget(d, budget = 6)
      .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
    assert(degenerate === plain)
  }

  test("packTokenBudgetGlobal: two-phase prefix sum == exact global offsets across range boundaries") {
    // 25 docs with varying token counts, rangeDocs=10 → 3 ranges; the
    // two-phase offsets must equal the driver-computed global prefix
    val rows = (0L until 25L).map(i => (i, ("w " * (1 + (i % 5).toInt)).trim, "en"))
    val d = docs(rows: _*)
    val got = TextAnalysis.packTokenBudgetGlobal(d, budget = 7, rangeDocs = 10)
      .select("doc_id", "ws_tokens", "start_off", "pack_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val toks = rows.map(r => 1L + (r._1 % 5))
    val want = toks.scanLeft(0L)(_ + _).init
    assert(got.map(_._3).toSeq === want)
    assert(got.forall { case (_, _, off, pid) => pid === off / 7 })
    intercept[IllegalArgumentException] {
      TextAnalysis.packTokenBudgetGlobal(d, budget = 7, rangeDocs = 0)
    }
  }

  test("chunkTokens: full coverage, overlap, shortened tail, single-chunk short docs") {
    val d = docs((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "en"), // 10 tokens
      (2L, "s0 s1", "en"))                                // shorter than chunk
    val out = TextAnalysis.chunkTokens(d, chunkTokens = 4, stride = 2)
      .select("doc_id", "chunk_id", "start_tok", "n_tok", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    val doc1 = out.filter(_._1 == 1L)
    // starts at 0,2,4,6,8 — last start < n; tail shortened to 2 tokens
    assert(doc1.map(_._3).toSeq === Seq(0L, 2L, 4L, 6L, 8L))
    assert(doc1.map(_._4).toSeq === Seq(4L, 4L, 4L, 4L, 2L))
    assert(doc1.head._5 === "t0 t1 t2 t3" && doc1.last._5 === "t8 t9")
    // every token appears in at least one chunk (coverage)
    val covered = doc1.flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered === (0L until 10L).toSet)
    val doc2 = out.filter(_._1 == 2L)
    assert(doc2.length === 1 && doc2.head._4 === 2L && doc2.head._5 === "s0 s1")
    // stride == chunk: exact partition, no overlap
    val exact = TextAnalysis.chunkTokens(d, chunkTokens = 5, stride = 5)
      .filter($"doc_id" === 1L).select("n_tok").as[Long].collect()
    assert(exact.toSeq === Seq(5L, 5L))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkTokens(d, chunkTokens = 4, stride = 5) // stride > chunk
    }
  }

  test("keywordExtract: rare terms outrank common ones; k bounds output per doc") {
    val d = docs(
      (1L, "unique unique common", "en"), // 'unique' tf=2 df=1, 'common' df=3
      (2L, "common filler filler", "en"),
      (3L, "common other other", "en"))
    val out = TextAnalysis.keywordExtract(d, k = 2)
      .select("doc_id", "term", "rnk").as[(Long, String, Int)].collect()
    assert(out.count(_._1 == 1L) === 2)
    // doc 1's top keyword is its rare repeated term, not the shared one
    assert(out.find(r => r._1 == 1L && r._3 == 1).get._2 === "unique")
    assert(out.find(r => r._1 == 2L && r._3 == 1).get._2 === "filler")
  }

  test("repetitionStats: duplicate fractions per k-gram order; short docs report 0") {
    val out = TextAnalysis.repetitionStats(docs(
      (1L, "a b a b a b", "en"),   // words: 6 total 2 distinct; 2grams: 5/2; 3grams: 4/2
      (2L, "x y z w", "en"),       // all unique
      (3L, "solo", "en")))         // no 2/3-grams
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((0.6667, 0.6, 0.5))) // rounded to 4 places
    assert(out(2L) === ((0.0, 0.0, 0.0)))
    assert(out(3L) === ((0.0, 0.0, 0.0)))
  }

  test("capPerSource: over-cap sources keep exactly maxDocs lowest ids; small sources skip ranking") {
    val d = sourcedDocs(
      ((0L until 10L).map(i => (i, "t", "en", "big")) ++
        Seq((100L, "t", "en", "small"), (101L, "t", "en", "small"))): _*)
    val out = TextAnalysis.capPerSource(d, maxDocs = 4)
      .select("doc_id", "source", "keep").as[(Long, String, Boolean)]
      .collect().toSet
    // every doc present exactly once, big source keeps ids 0-3 only
    assert(out.size === 12)
    assert(out.filter(r => r._2 == "big" && r._3).map(_._1) === Set(0L, 1L, 2L, 3L))
    assert(out.filter(r => r._2 == "small").forall(_._3))
    intercept[IllegalArgumentException] {
      TextAnalysis.capPerSource(d, maxDocs = 0)
    }
    // NULL source: its own capped group, rows never dropped
    val withNull = d.unionByName(
      Seq((200L, "t", "en")).toDF("doc_id", "text", "lang")
        .withColumn("source", org.apache.spark.sql.functions.lit(null: String)))
    val nullOut = TextAnalysis.capPerSource(withNull, maxDocs = 4)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(nullOut.size === 13 && nullOut(200L))
  }

  test("stratifiedSample: deterministic across runs, rate 0 for unlisted strata, monotone in rate") {
    val d = sourcedDocs((0L until 100L).map(i =>
      (i, "text", if (i % 2 == 0) "en" else "fr", "s")): _*)
    val half = TextAnalysis.stratifiedSample(d, Seq("en" -> 0.5))
      .as[(Long, String, Long)].collect().toSet
    assert(half === TextAnalysis.stratifiedSample(d, Seq("en" -> 0.5))
      .as[(Long, String, Long)].collect().toSet)
    assert(half.forall(_._2 == "en")) // fr unlisted → rate 0
    assert(half.nonEmpty)
    val all = TextAnalysis.stratifiedSample(d, Seq("en" -> 1.0))
      .as[(Long, String, Long)].collect().toSet
    assert(all.size === 50) // rate 1.0 keeps every en doc
    assert(half.subsetOf(all)) // raising the rate only ADDS docs
  }

  test("materializePacks: stream-order concatenation with EOS, counts per pack, budget boundaries") {
    // tokens 3, 4, 5 in one (en, s1) stream; offsets 0, 3, 7; budget 5
    // → docs 1+2 in pack 0, doc 3 in pack 1
    val out = TextAnalysis.materializePacks(sourcedDocs(
      (1L, "a b c", "en", "s1"),
      (2L, "d e f g", "en", "s1"),
      (3L, "h i j k l", "en", "s1")), budget = 5)
      .select("pack_id", "n_docs", "n_tokens", "pack_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) === ((2L, 7L, "a b c<|eos|>d e f g")))
    assert(out(1L) === ((1L, 5L, "h i j k l")))
  }

  test("blocklistRedact: hit counts, C4 keep rule, masked text; clean docs pass through") {
    val out = TextAnalysis.blocklistRedact(docs(
      (1L, "good words only here now", "en"),
      (2L, "bad words and bad stuff", "en")), Seq("bad", "stuff"))
      .select("doc_id", "n_blocked", "keep", "redacted_text")
      .as[(Long, Int, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((0, true, "good words only here now")))
    assert(out(2L) === ((3, false, "*** words and *** ***")))
  }

  test("piiRedact: detects and masks emails, IPs, long digit runs; order-stable on mixed text") {
    val out = TextAnalysis.piiRedact(docs(
      (1L, "contact bob@example.com or 10.0.0.1 ref 123456789", "en"),
      (2L, "clean text with short 123 number", "en"),
      (3L, "two mails a@b.io c@d.org and ip 192.168.1.255", "en")))
      .select("doc_id", "n_email", "n_ip", "n_idnum", "has_pii", "redacted_text")
      .as[(Long, Int, Int, Int, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out(1L) === ((1, 1, 1, true,
      "contact [EMAIL] or [IP] ref [IDNUM]")))
    assert(out(2L) === ((0, 0, 0, false, "clean text with short 123 number")))
    assert(out(3L) === ((2, 1, 0, true, "two mails [EMAIL] [EMAIL] and ip [IP]")))
  }

  test("upsampleMixture: integer weights replicate exactly, weight 1 passes through, unlisted langs drop") {
    val d = sourcedDocs((0L until 60L).map(i =>
      (i, "t", Seq("en", "es", "zh")(((i % 3).toInt)), "s")): _*)
    val out = TextAnalysis.upsampleMixture(d, Seq("en" -> 3.0, "es" -> 1.0))
      .select("doc_id", "lang", "copy").as[(Long, String, Long)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.length).toMap
    // en → exactly 3 copies each, es → exactly 1, zh unlisted → dropped
    assert(out.filter(_._2 == "en").groupBy(_._1).forall(_._2.length == 3))
    assert(out.filter(_._2 == "es").groupBy(_._1).forall(_._2.length == 1))
    assert(!out.exists(_._2 == "zh"))
    // copy indices are 1..n
    assert(out.filter(r => r._2 == "en" && r._1 == 0L).map(_._3).sorted
      === Seq(1L, 2L, 3L))
    assert(byDoc.keySet.forall(_ % 3 != 2))
  }

  test("upsampleMixture: fractional weights are deterministic and bounded by floor/ceil") {
    val d = sourcedDocs((0L until 100L).map(i => (i, "t", "en", "s")): _*)
    val run1 = TextAnalysis.upsampleMixture(d, Seq("en" -> 1.5))
      .select("doc_id", "copy").as[(Long, Long)].collect().toSet
    val run2 = TextAnalysis.upsampleMixture(d, Seq("en" -> 1.5))
      .select("doc_id", "copy").as[(Long, Long)].collect().toSet
    assert(run1 === run2) // md5 bucket, not RNG: bit-reproducible
    val counts = run1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts.size === 100) // floor(1.5) >= 1 → every doc survives
    assert(counts.values.forall(c => c == 1 || c == 2))
    assert(counts.values.sum > 100 && counts.values.sum < 200) // ~150
    // a sub-1.0 weight degenerates to stratified downsampling
    val down = TextAnalysis.upsampleMixture(d, Seq("en" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(down.size > 0 && down.size < 100)
    assert(down.forall(id => counts(id) == 2)) // same bucket rule: frac keepers agree
  }

  test("sourceStats: dup counting, language spread, token totals, corpus share") {
    val docs = Seq(
      (1L, "a b c", "en", "s1"),
      (2L, "a b c", "en", "s1"),    // exact dup within s1
      (3L, "d e", "fr", "s1"),
      (4L, "x y z w", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.sourceStats(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out("s1") === ((3L, 2L, 8L, 1L, 0.75)))
    assert(out("s2") === ((1L, 1L, 4L, 0L, 0.25)))
  }

  test("dedupExactNorm: reformatted copies collapse; normalization is idempotent") {
    val out = TextAnalysis.dedupExactNorm(docs(
      (1L, "Hello,   World!", "en"),
      (2L, "hello world", "en"),    // same after normalization
      (3L, "  HELLO... world?? ", "en"),
      (4L, "hello worlds", "en")))  // different
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((1L, 1L, false), (2L, 1L, true), (3L, 1L, true),
      (4L, 4L, false)))
    // idempotence: norm(norm(x)) == norm(x) — the rule is a projection,
    // so running the pass twice can never split or merge classes
    import org.apache.spark.sql.functions.col
    val texts = docs((1L, "A  b!C", "en"), (2L, " x   Y?z. ", "en"),
      (3L, "", "en"), (4L, "...", "en"))
    val once = texts.select(TextAnalysis.normExpr(col("text")).as("n"))
    val twice = once.select(TextAnalysis.normExpr(col("n")).as("n"))
    assert(once.collect().toSeq === twice.collect().toSeq)
  }

  test("temperatureSample: largest language kept whole, others at sqrt ratio") {
    val rows = (1L to 400L).map(i => (i, s"doc $i", "en")) ++
      (401L to 500L).map(i => (i, s"doc $i", "fr"))
    val out = TextAnalysis.temperatureSample(rows.toDF("doc_id", "text", "lang"))
      .collect()
    val byLang = out.groupBy(_.getString(1))
    // en is the largest language: thr = 2^32, every doc kept
    assert(byLang("en").length === 400)
    // fr rate = sqrt(100/400) = 0.5; md5 buckets are ~uniform, so the
    // kept count concentrates around 50 (binomial, sd ~5)
    val fr = byLang("fr").length
    assert(fr > 25 && fr < 75, s"fr kept $fr, expected ~50")
    // the threshold column is the exact floor(sqrt(n/max)*2^32)
    val thr = out.filter(_.getString(1) == "fr").head.getLong(3)
    assert(thr === math.floor(math.sqrt(100.0 / 400.0) * 4294967296L).toLong)
  }

  test("holdoutSplit: exhaustive disjoint partition, plausible shares, growth-stable") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.holdoutSplit(d)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(out.length === d.count().toInt, "every doc gets exactly one split row")
    assert(out.map(_._1).distinct.length === out.length)
    val byS = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byS.keySet === Set("train", "val", "test"))
    val n = out.length.toDouble
    assert(byS("train") / n > 0.7 && byS("train") / n < 0.9, s"train share $byS")
    assert(byS("val") / n > 0.04 && byS("val") / n < 0.16, s"val share $byS")
    // growth stability: assignments on a half-corpus agree with the
    // full-corpus assignment doc-for-doc (split depends only on doc_id)
    val full = out.toMap
    TextAnalysis.holdoutSplit(d.filter($"doc_id" % 2 === 0))
      .select("doc_id", "split").as[(Long, String)].collect()
      .foreach { case (id, s) => assert(full(id) === s, s"doc $id drifted") }
  }

  test("shuffleShards: dense permutation equal to one global md5 sort, fixed shard sizes") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = (0L until 300L).map(i => (i, s"text $i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.shuffleShards(docs, shardSize = 64)
      .as[(Long, Long, Long)].collect()
    // dense 0..n-1 permutation
    assert(out.map(_._2).sorted.toSeq === (0L until 300L))
    // two-phase index == the single global window the oracle uses
    val want = docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
      .as[(Long, String)].collect()
      .sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    out.foreach { case (id, idx, shard) =>
      assert(idx === want(id), s"doc $id two-phase idx drifted")
      assert(shard === idx / 64)
    }
    // full shards except the tail
    val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes(0L) === 64 && sizes(4L) === 44)
  }

  test("weightedSample: priorities are the exact exponential-race formula") {
    val d = Seq((7L, "abc def", "w"), (8L, "12 34 56", "w"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.weightedSample(d, n = 2)
      .select("doc_id", "w_bp", "priority").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
    }
    def pri(id: Long, w: Long): Long =
      math.round((0.0 - math.log((bucket(id) + 1).toDouble / 4294967296.0))
        * 1.0e9 / w)
    // doc 7: 6 of 7 chars alpha -> w = 8571 + 1; doc 8: 0 alpha -> w = 1
    assert(out(7L)._2 === 8572L && out(8L)._2 === 1L)
    assert(out(7L)._3 === pri(7L, 8572L))
    assert(out(8L)._3 === pri(8L, 1L))
  }

  test("weightedSample: selection is weight-biased and deterministic") {
    // 200 docs, half high-weight (all letters), half weight-1 (digits)
    val d = (0L until 200L).map { i =>
      (i, if (i % 2 == 0) "abcdef ghijk lmnop" else "123 456 789", "s")
    }.toDF("doc_id", "text", "source")
    val pick = TextAnalysis.weightedSample(d, n = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(pick.size === 50)
    val high = pick.count(_ % 2 == 0)
    assert(high > 40, s"weight ~8900:1 must dominate the race, got $high/50")
    val again = TextAnalysis.weightedSample(d, n = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(again === pick, "the race is deterministic")
  }

  test("weightedSample: ranks are dense 1..n in priority order") {
    val d = (0L until 40L).map(i => (i, s"doc $i text here", "s"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.weightedSample(d, n = 10)
      .select("rnk", "priority").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === (1L to 10L))
    assert(out.map(_._2).toSeq === out.map(_._2).sorted.toSeq)
  }

  test("spanCorruptionPlan: spans are in-block, non-overlapping, 15% mass") {
    val text = (0 until 100).map(i => s"t$i").mkString(" ")
    val out = TextAnalysis.spanCorruptionPlan(Seq((1L, text)).toDF("doc_id", "text"))
      .select("block", "span_start", "span_text")
      .as[(Int, Long, String)].collect().sortBy(_._1)
    assert(out.length === 5, "100 tokens / 20 per block")
    out.foreach { case (b, s, txt) =>
      assert(s >= b * 20 && s + 3 <= (b + 1) * 20, "span stays inside its block")
      assert(txt.split(" ").length === 3)
      assert(txt === (s until s + 3).map(i => s"t$i").mkString(" "),
        "span text is the slice at span_start")
    }
    val starts = out.map(_._2)
    starts.zip(starts.tail).foreach { case (a, b) => assert(a + 3 <= b) }
    assert(out.length * 3 === 15, "15% of 100 tokens masked")
  }

  test("spanCorruptionPlan: short docs emit nothing; plan is reproducible") {
    val df = Seq((1L, "a b c d e"), (2L, (0 until 25).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val a = TextAnalysis.spanCorruptionPlan(df).collect().map(_.toSeq).toSet
    val b = TextAnalysis.spanCorruptionPlan(df).collect().map(_.toSeq).toSet
    assert(a === b)
    assert(!a.exists(_.head == 1L), "5-token doc has no full block")
    assert(a.count(_.head == 2L) === 1, "25 tokens -> one full block")
  }
}
