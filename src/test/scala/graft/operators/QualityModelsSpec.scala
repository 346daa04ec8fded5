package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}

import graft.SparkSpec

class QualityModelsSpec extends SparkSpec {
  import spark.implicits._

  test("lmSurprisal: hand-computed micro-nats on a two-doc corpus") {
    // tokens: a=2, b=2, total=4 ⇒ surprisal(a)=surprisal(b)=ln2 nats
    //   = round(693147.18...) = 693147 micro-nats
    val d = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = QualityModels.lmSurprisal(d)
      .select("doc_id", "n_toks", "surprisal_micro", "mean_micro")
      .as[(Long, Long, Long, Long)].collect().toMap2
    assert(out(1L) === (3L, 3 * 693147L, 693147L))
    assert(out(2L) === (1L, 693147L, 693147L))
  }

  test("lmSurprisal: single-type corpus scores exactly zero") {
    val d = Seq((1L, "w w w"), (2L, "w")).toDF("doc_id", "text")
    val out = QualityModels.lmSurprisal(d)
      .select("doc_id", "surprisal_micro").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 0L))
  }

  test("lmSurprisal: mean is invariant to repeating a doc's content") {
    // "x y" vs "x y x y": same per-token distribution contribution
    // ratio, mean surprisal must match within 1 micro-nat (integer div)
    val d = Seq((1L, "x y"), (2L, "x y x y")).toDF("doc_id", "text")
    val out = QualityModels.lmSurprisal(d)
      .select("doc_id", "mean_micro").as[(Long, Long)].collect().toMap
    assert(math.abs(out(1L) - out(2L)) <= 1)
  }

  test("pplBuckets: hand-derived per-lang terciles, single-doc lang, " +
       "and same-bin ties all bucketing as head") {
    // global self-scored counts: a=3, b=1, c=2, x=1, y=1, z=4,
    // total=12; per-type micro-nats via the spec's own ln replication
    def sMicro(cnt: Long): Long =
      math.round((math.log(12.0) - math.log(cnt.toDouble)) * 1000000.0d)
    val docs = Seq(
      (1L, "a a", "en"), (2L, "a b", "en"), (3L, "c c", "en"),
      (4L, "x y", "fr"),
      (5L, "z z", "de"), (6L, "z z", "de"))
      .toDF("doc_id", "text", "lang")
    val m1 = sMicro(3)                      // en "a a"
    val m2 = (sMicro(3) + sMicro(1)) / 2    // en "a b" (trunc div)
    val m3 = sMicro(2)                      // en "c c"
    val m4 = sMicro(1)                      // fr "x y"
    val m5 = sMicro(4)                      // de "z z"
    // en centinat bins: m1=138 < m3=179 < m2=193 ⇒ head/middle/tail;
    // fr has ONE doc ⇒ t1 = its own bin ⇒ head; de's two docs share
    // a bin ⇒ the covering threshold puts BOTH in head (the tie rule)
    val out = QualityModels.pplBuckets(docs)
      .select("doc_id", "lang", "mean_micro", "ppl_bucket")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, "en", m1, "head"), (2L, "en", m2, "tail"),
      (3L, "en", m3, "middle"), (4L, "fr", m4, "head"),
      (5L, "de", m5, "head"), (6L, "de", m5, "head")))
  }

  test("pplBuckets: tercile mass is balanced on real data and every " +
       "head score <= every tail score within a lang") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = QualityModels.pplBuckets(d)
      .select("lang", "mean_micro", "ppl_bucket")
      .as[(String, Long, String)].collect().toSeq
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val byB = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      for (h <- byB.get("head"); t <- byB.get("tail"))
        assert(h.max <= t.min, s"$lang: head/tail order inverted")
      // covering-threshold terciles: head holds at least a third
      // (ties only ever push MORE docs under the cutoff, never fewer)
      assert(byB.getOrElse("head", Nil).size * 3 >= rows.size,
        s"$lang: head tercile under-filled")
    }
  }

  test("qualityFloorPerSource == naive per-source rank rule on real data") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = QualityModels.qualityFloorPerSource(d)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    // naive reference: one window per source
    val scored = d.select(col("doc_id"), col("source"),
      expr("(10000 * length(regexp_replace(text, '[^a-z]', ''))) div length(text)")
        .as("score_bp"))
    val w = W.partitionBy(col("source"))
      .orderBy(col("score_bp").desc, col("doc_id"))
    val want = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(W.partitionBy(col("source"))))
      .withColumn("keep", expr("rn <= (9 * n_src + 9) div 10"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got === want)
    assert(got.valuesIterator.exists(!_), "floor must actually drop docs")
  }

  test("dsirImportance: target-like docs outscore off-target docs and win selection") {
    // en docs share a feature pool disjoint from the xx docs', so every
    // en feature has ct≈cr (λ ≈ ln(Tr/Tt) > 0 … relative) while xx
    // features have ct=0 — en means must dominate
    val d = Seq(
      (0L, "aa bb aa", "en"), (1L, "bb aa cc", "en"), (2L, "aa bb", "en"),
      (3L, "xx yy zz", "xx"), (4L, "yy zz xx", "xx"), (5L, "zz xx", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = QualityModels.dsirImportance(d, col("lang") === "en", selectN = 3)
      .select("doc_id", "mean_micro", "selected")
      .as[(Long, Long, Boolean)].collect()
    val mean = out.map(r => r._1 -> r._2).toMap
    for (t <- 0L to 2L; r <- 3L to 5L)
      assert(mean(t) > mean(r), s"target doc $t must outscore raw doc $r")
    assert(out.filter(_._3).map(_._1).toSet === Set(0L, 1L, 2L))
    assert(out.length === 6, "every doc gets a score row")
  }

  test("dsirImportance: selection == naive global top-N; shard-count invariant") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val one = QualityModels.dsirImportance(d, col("lang") === "en", shards = 1)
      .select("doc_id", "n_feat", "lw_micro", "mean_micro", "selected")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    val eight = QualityModels.dsirImportance(d, col("lang") === "en", shards = 8)
      .select("doc_id", "n_feat", "lw_micro", "mean_micro", "selected")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(one.toSet === eight.toSet)
    assert(one.length === d.count().toInt)
    // no smoothing hole: every doc has a finite score even when its
    // buckets never occur in the target slice
    assert(one.forall(r => r._2 > 0))
    val naive = one.sortBy(r => (-r._4, r._1)).take(100).map(_._1).toSet
    assert(one.filter(_._5).map(_._1).toSet === naive)
    assert(naive.size === 100)
  }

  test("qualityFloorPerSource: boundary ties keep lowest doc_ids") {
    // 4 docs, one source, identical score; keep 9/10 ⇒ K = ceil(3.6) = 4?
    // No: K = (9*4+9) div 10 = 4 — all kept. Force a drop with 10 docs:
    // K = (90+9) div 10 = 9, all scores tie ⇒ doc_ids 0..8 keep, 9 drops.
    val d = (0L until 10L).map(i => (i, "same text here", "s"))
      .toDF("doc_id", "text", "source")
    val out = QualityModels.qualityFloorPerSource(d)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert((0L until 9L).forall(out(_)))
    assert(!out(9L))
  }

  test("gopherRules: each rule trips independently on constructed docs") {
    def words(ws: String*): String = ws.mkString(" ")
    val pass = words((Seq("the", "a") ++
      (1 to 18).map(i => f"word$i%02d")): _*) // 20 words, mwl ok, ttr 1
    val tooShort = "just five small word docs"
    val thinWords = words(("a" +: "to" +:
      ('a' to 'r').map(c => s"$c$c")): _*) // 20 words, all ≤ 2 chars
    val noStop = words((1 to 20).map(i => f"word$i%02d"): _*)
    val lowTtr = words(Seq.fill(4)(Seq("the", "that", "have", "with", "jumbo")).flatten: _*)
    val topHeavy = words((Seq.fill(5)("of") ++ Seq("the") ++
      (1 to 14).map(i => f"word$i%02d")): _*)
    val d = Seq(
      (0L, pass), (1L, tooShort), (2L, thinWords), (3L, noStop),
      (4L, lowTtr), (5L, topHeavy)).toDF("doc_id", "text")
    val out = QualityModels.gopherRules(d)
      .select("doc_id", "r_word_count", "r_word_len", "r_stopwords",
        "r_ttr", "r_top_token", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, true, true, true, true, true, true)))
    assert(!out(1L)._2, "5 words must fail r_word_count")
    assert(!out(2L)._3, "2-char words must fail r_word_len")
    assert(out(2L)._4, "a+to are two distinct stop members")
    assert(!out(3L)._4, "no stop members must fail r_stopwords")
    assert(!out(4L)._5 && out(4L)._3 && out(4L)._6,
      "5 types over 20 tokens fails ONLY r_ttr (top share exactly 20%)")
    assert(!out(5L)._6 && out(5L)._5,
      "25% top-token share fails r_top_token, ttr still fine")
    assert(out.valuesIterator.count(_._7) === 1, "only the clean doc keeps")
  }

  test("gopherRules == independent explode-based recomputation on real data") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = QualityModels.gopherRules(d)
      .select("doc_id", "n_words", "r_ttr", "r_top_token", "keep")
      .as[(Long, Int, Boolean, Boolean, Boolean)].collect().toSet
    // independent path: explode → per-doc groupBy (the shuffle shape
    // the map-only operator exists to avoid — here it's the referee)
    val stop = Seq("the", "a", "to", "of", "and", "that", "have", "with")
    val byTok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("w"), count(lit(1)).as("nd"), max(col("c")).as("topc"),
        sum(when(col("t").isin(stop: _*), 1).otherwise(0)).as("nstopt"),
        sum(length(col("t")) * col("c")).as("alpha"))
    val want = byTok.select(col("doc_id"), col("w").cast("int").as("n_words"),
        (lit(10) * col("nd") >= lit(3) * col("w")).as("r_ttr"),
        (lit(5) * col("topc") <= col("w")).as("r_top_token"),
        ((col("w") >= 15 && col("w") <= 90) &&
          (lit(4) * col("w") <= col("alpha") && col("alpha") <= lit(10) * col("w")) &&
          (col("nstopt") >= 2) && (lit(10) * col("nd") >= lit(3) * col("w")) &&
          (lit(5) * col("topc") <= col("w"))).as("keep"))
      .as[(Long, Int, Boolean, Boolean, Boolean)].collect().toSet
    assert(got === want)
    assert(got.exists(_._5) && got.exists(!_._5), "gate must split the corpus")
  }

  test("bigramSurprisal: hand-computed micro-nats; context-sensitivity") {
    // corpus: "a a a" + "a b" ⇒ bigrams: (a a)x2, (a b)x1; V=2;
    // prefix(a) = 3 ⇒ s(a a) = ln5 − ln3, s(a b) = ln5 − ln2
    val d = Seq((1L, "a a a"), (2L, "a b"), (3L, "a")).toDF("doc_id", "text")
    val out = QualityModels.bigramSurprisal(d)
      .select("doc_id", "n_bigrams", "surprisal_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val sAA = math.round((math.log(5) - math.log(3)) * 1e6)
    val sAB = math.round((math.log(5) - math.log(2)) * 1e6)
    assert(out(1L) === ((2L, 2 * sAA)))
    assert(out(2L) === ((1L, sAB)))
    assert(out(3L) === ((0L, 0L)), "single-token doc: no bigram evidence")
    val mean = QualityModels.bigramSurprisal(d)
      .filter(col("doc_id") === 3L).select("mean_micro", "keep")
      .as[(Option[Long], Boolean)].collect().head
    assert(mean === ((None, false)))
  }

  test("bigramSurprisal sees word ORDER where lmSurprisal cannot") {
    // identical unigram multisets, different bigram streams
    val d = Seq((1L, "a b a b a b"), (2L, "a a a b b b")).toDF("doc_id", "text")
    val uni = QualityModels.lmSurprisal(d)
      .select("doc_id", "surprisal_micro").as[(Long, Long)].collect().toMap
    assert(uni(1L) === uni(2L), "unigram scoring is order-blind")
    val bi = QualityModels.bigramSurprisal(d)
      .select("doc_id", "surprisal_micro").as[(Long, Long)].collect().toMap
    assert(bi(1L) !== bi(2L), "bigram scoring must distinguish order")
  }

  test("vocabKlDrift: hand-checked contributions; no-drift slice scores 0") {
    val d = Seq(
      (1L, "x x y", "base"), (2L, "x z", "new")).toDF("doc_id", "text", "src")
    val out = QualityModels.vocabKlDrift(d, col("src") === "new")
      .select("t", "cnt_base", "cnt_new", "kl_contrib_micro")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def contrib(cn: Long, cb: Long, tn: Long, tb: Long, v: Long): Long =
      math.round(((cn + 1).toDouble / (tn + v))
        * (math.log(cn + 1.0) - math.log(tn + v.toDouble)
          - math.log(cb + 1.0) + math.log(tb + v.toDouble)) * 1e6)
    assert(out("x") === ((2L, 1L, contrib(1, 2, 2, 3, 3))))
    assert(out("y") === ((1L, 0L, contrib(0, 1, 2, 3, 3))))
    assert(out("z") === ((0L, 1L, contrib(1, 0, 2, 3, 3))))
    assert(out("z")._3 > 0 && out("y")._3 < 0,
      "new-only token drifts up, vanished token drifts down")
    // identical slices ⇒ the four ln terms cancel exactly per type
    val same = Seq((1L, "p q r", "base"), (2L, "p q r", "new"))
      .toDF("doc_id", "text", "src")
    val zero = QualityModels.vocabKlDrift(same, col("src") === "new")
      .select("kl_contrib_micro").as[Long].collect()
    assert(zero.forall(_ === 0L))
  }

  test("qualityCalibration: bins partition the corpus; predictions monotone") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = QualityModels.qualityCalibration(docs)
      .orderBy("bin")
      .select("bin", "n_docs", "mean_pred_bp", "obs_pos_bp", "gap_bp")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._2).sum === 500L, "every doc lands in exactly one bin")
    assert(out.map(_._1) === out.map(_._1).sorted)
    // range bins are p-ordered, so mean predicted prob is monotone
    val preds = out.map(_._3)
    assert(preds.zip(preds.tail).forall { case (a, b) => a <= b })
    assert(out.forall { case (_, n, p, o, g) =>
      n >= 1 && g === math.abs(p - o) && o >= 0 && o <= 10000 })
  }

  test("qualityCalibration: a constant-score corpus collapses to one bin") {
    // identical docs -> identical features -> one p value; mx = mn and
    // the range binning must not divide by zero
    val docs = Seq.tabulate(6)(i =>
      (i.toLong, "aaa bbb aaa ccc ddd eee fff ggg", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = QualityModels.qualityCalibration(docs)
      .select("bin", "n_docs").as[(Long, Long)].collect().toSeq
    assert(out === Seq((0L, 6L)))
  }

  test("lmHeldoutEval: splits partition the corpus; OOV only off-train") {
    // find a genuinely-test doc under the md5 bucket rule, give it a
    // token no train doc carries, and the test row must count it OOV
    // at the unk (hapax) surcharge while train stays OOV-free
    val base = (1L to 60L).map(i => (i, "common words here", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val splits = TextAnalysis.holdoutSplit(base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val testId = (1L to 60L).find(splits(_) == "test").get
    val docs = (1L to 60L).map { i =>
      val t = if (i == testId) "common words here plus zzunseen"
              else "common words here"
      (i, t, "en", "s", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = QualityModels.lmHeldoutEval(docs)
      .orderBy("split")
      .select("split", "n_docs", "n_tokens", "oov_tokens", "mean_micro")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.values.map(_._2).sum === 60L, "splits partition the docs")
    assert(out("train")._4 === 0L, "train tokens are in-vocab by definition")
    assert(out("test")._4 === 2L, "'plus' and 'zzunseen' are OOV")
    // every train doc is identical, so train mean = per-token type mix
    assert(out("train")._5 > 0L)
  }

  test("trigramSurprisalKn: hand-computed nested-KN rationals") {
    // corpus: trigrams {abc:1, bca:2, cab:1, abd:1}; B=5 bigram types
    // (ab bc ca bd xy), V=6 token types. Expected micro-nats derive
    // from den=4·c12·(4·m2·(B+V)),
    // num=(4·c123−3)·(4·m2·(B+V)) + 3·T12·((4·m23−3)·(B+V)+3·T2·(cont+1)),
    // s=round((ln den − ln num)·10⁶), summed per doc (replayed by hand
    // off the model tables; doc 4 has no trigram ⇒ 0/NULL)
    val d = Seq((1L, "a b c a b d"), (2L, "b c a"), (4L, "x y"))
      .toDF("doc_id", "text")
    val out = QualityModels.trigramSurprisalKn(d)
      .select("doc_id", "n_trigrams", "surprisal_micro", "mean_micro")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((4L, 3150605L, Some(787651L))))
    assert(out(2L) === ((1L, 261512L, Some(261512L))))
    assert(out(4L) === ((0L, 0L, None)))
  }

  test("lmHeldoutTrigram: all four ladder branches pinned by hand on " +
       "a split-controlled corpus") {
    // md5-bucket rule: doc_ids 1,2 land in train, 3 in test. The test
    // doc "a b c q b c" exercises every ladder level: (a,b,c) fully
    // seen; (b,c,q) seen context + unseen t3; (q,b,c) unseen context,
    // b a seen middle; (c,q,b) q never a middle ⇒ continuation
    // unigram. Expected means hand-derived from the train stats
    // (B=4, V=4, see KnFrames).
    val d = Seq((1L, "a b c a b d"), (2L, "b c a"), (3L, "a b c q b c"))
      .toDF("doc_id", "text")
    val out = QualityModels.lmHeldoutTrigram(d)
      .select("model", "split", "n_trigrams", "unseen_trigrams",
        "mean_micro")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.size === 4, "two models x two populated splits")
    assert(out(("kn_trigram", "test")) === ((4L, 3L, 1730196L)))
    assert(out(("kn_bigram", "test")) === ((4L, 3L, 1418193L)))
    assert(out(("kn_trigram", "train")) === ((5L, 0L, 613712L)))
    assert(out(("kn_bigram", "train")) === ((5L, 0L, 634489L)))
    // the measurement's point: the extra order of context must help
    // ON TRAIN (it memorizes) — on this tiny held-out doc both models
    // mostly back off, so only the train gap is a stable invariant
    assert(out(("kn_trigram", "train"))._3 <
      out(("kn_bigram", "train"))._3 + 100000L)
  }

  test("pplHistogram: bucket arithmetic, NULL bucket for no-evidence " +
       "docs, per-lang partition of the corpus") {
    // doc 1/2: known means from the trigram hand case (787651, 261512
    // on this corpus-with-doc-4 model? no — model includes ALL docs
    // here, so recompute from the operator itself for the bucket
    // check); doc 4 has < 3 tokens => NULL bucket
    val d = Seq((1L, "a b c a b d", "en"), (2L, "b c a", "de"),
        (4L, "x y", "en"))
      .toDF("doc_id", "text", "lang")
    val means = QualityModels.trigramSurprisalKn(d)
      .select("doc_id", "mean_micro")
      .as[(Long, Option[Long])].collect().toMap
    val out = QualityModels.pplHistogram(d, bucketMicro = 500000L)
      .select("lang", "bucket", "n_docs", "n_trigrams")
      .as[(String, Option[Long], Long, Long)].collect()
    assert(out.map(_._3).sum === 3L, "every doc lands in one bucket row")
    val en = out.filter(_._1 == "en")
    assert(en.exists(r => r._2.isEmpty && r._3 === 1L),
      "doc 4 (2 tokens) must land in the NULL bucket")
    assert(en.exists(r => r._2 === means(1L).map(_ / 500000L)),
      "doc 1's bucket is its mean floor-divided by the width")
    assert(out.filter(_._1 == "de").map(_._3).sum === 1L)
  }

  test("quadgramSurprisalKn: all three pruned-ladder branches pinned " +
       "by hand") {
    // corpus: quadgrams {\"a b c d\":2 (kept at θ=2), \"a b c g\":1
    // (pruned, prefix \"a b c\" kept: c123k=2, T123=1), \"b c d e\":1
    // (prefix \"b c d\" entirely pruned ⇒ pure trigram backoff)};
    // B=6 bigram types, V=8. Expected micro-nats replayed
    // independently from the documented rationals (kept:
    // num=(4·c1234−3)·den3+3·T123·num3, den=4·c123k·den3; pruned:
    // num=3·T123·num3; unkept prefix: num3/den3), with den3/num3 the
    // suffix trigram's exact KN rational. Doc 4 (2 tokens) ⇒ 0/NULL.
    val d = Seq((1L, "a b c d e"), (2L, "a b c d"), (3L, "a b c g"),
      (4L, "x y")).toDF("doc_id", "text")
    val out = QualityModels.quadgramSurprisalKn(d, minCount = 2L)
      .select("doc_id", "n_quadgrams", "surprisal_micro", "mean_micro")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 850698L, Some(425349L)))) // kept + backoff
    assert(out(2L) === ((1L, 192642L, Some(192642L)))) // kept branch
    assert(out(3L) === ((1L, 2593248L, Some(2593248L)))) // pruned branch
    assert(out(4L) === ((0L, 0L, None)))
  }

  test("knPruneCurve: positions invariant across thresholds, kept " +
       "types collapse, surprisal only rises as the model shrinks") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val out = QualityModels.knPruneCurve(d, thetas = Seq(1L, 2L, 4L))
      .select("theta", "kept_types", "total_types", "n_positions",
        "mean_micro")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length === 3)
    // θ=1 keeps everything; the position mass and the type universe
    // are properties of the corpus, not of the threshold
    assert(out(0)._2 === out(0)._3, "θ=1 prunes nothing")
    assert(out.map(_._3).distinct.length === 1)
    assert(out.map(_._4).distinct.length === 1)
    assert(out(0)._2 > out(1)._2 && out(1)._2 >= out(2)._2,
      "raising θ must shrink the kept model")
    assert(out(0)._5 <= out(1)._5 && out(1)._5 <= out(2)._5,
      "in-corpus surprisal can only rise as types fall back to the " +
        "trigram rational")
  }

  test("lmHeldoutQuadgram: the fourth order helps where it memorizes " +
       "and degrades gracefully to the trigram ladder off-model") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val out = QualityModels.lmHeldoutQuadgram(d)
      .select("model", "split", "n_quadgrams", "unseen_quadgrams",
        "mean_micro")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.keys.map(_._1).toSet === Set("kn_trigram", "kn_quadgram"))
    // identical position frame: both models score the SAME sites
    out.keys.filter(_._1 == "kn_quadgram").foreach { k =>
      assert(out(k)._1 === out(("kn_trigram", k._2))._1)
      assert(out(k)._2 === out(("kn_trigram", k._2))._2)
    }
    // on train the kept order-4 mass must win (it memorizes)
    assert(out(("kn_quadgram", "train"))._3 <
      out(("kn_trigram", "train"))._3,
      "order 4 must beat order 3 on its own training split")
  }

  test("lmHeldoutFivegram: identical position frame across models and " +
       "the order-5 train-split win") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val out = QualityModels.lmHeldoutFivegram(d)
      .select("model", "split", "n_fivegrams", "unseen_fivegrams",
        "mean_micro")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.keys.map(_._1).toSet === Set("kn_quadgram", "kn_fivegram"))
    // identical position frame: both models score the SAME sites
    out.keys.filter(_._1 == "kn_fivegram").foreach { k =>
      assert(out(k)._1 === out(("kn_quadgram", k._2))._1)
      assert(out(k)._2 === out(("kn_quadgram", k._2))._2)
    }
    // on train the kept order-5 mass must win (it memorizes)
    assert(out(("kn_fivegram", "train"))._3 <
      out(("kn_quadgram", "train"))._3,
      "order 5 must beat order 4 on its own training split")
  }

  /** An independent straight-line replay of the DOCUMENTED KN ladder
    * (not the DataFrame code): n-gram stats of a training corpus as
    * plain maps, every rung's exact rational in BigInt. Each rational
    * comes with the ladder branch it took. Absent stats read as
    * unseen, so the same replay serves the type form (every scored
    * n-gram is a seen type) and the position form (held-out sites). */
  private class KnReplay(train: Seq[String], theta4: Long, theta5: Long) {
    private val toks = train.map(_.split(" "))
    def counts(n: Int): Map[String, Long] =
      toks.flatMap(grams(_, n)).groupBy(identity)
        .map { case (g, o) => g -> o.size.toLong }
    private def head(g: String, m: Int) = g.split(" ").take(m).mkString(" ")
    private def tail(g: String, m: Int) = g.split(" ").takeRight(m).mkString(" ")
    /** prefix -> (Σ counts, types) over the retained n-grams */
    private def prefixStats(kept: Map[String, Long], m: Int) =
      kept.groupBy(e => head(e._1, m))
        .map { case (p, e) => p -> ((e.values.sum, e.size.toLong)) }
    private val tcnt = counts(3)
    private val pstats = prefixStats(tcnt, 2)
    private val mid = tcnt.keys.groupBy(tail(_, 2))
      .map { case (s, o) => s -> o.size.toLong }
    private val mstats = prefixStats(mid, 1)
    private val bcnt = counts(2)
    private val cstats = bcnt.keys.groupBy(_.split(" ")(1))
      .map { case (t, o) => t -> o.size.toLong }
    private val bv = BigInt(bcnt.size) + BigInt(toks.flatten.distinct.size)
    val kept4: Map[String, Long] = counts(4).filter(_._2 >= theta4)
    val kept5: Map[String, Long] = counts(5).filter(_._2 >= theta5)
    private def disc(c: Long) = (BigInt(4) * c - 3).max(BigInt(0))

    def rat3(tg: String): (BigInt, BigInt, String) = {
      val Array(_, t2, t3) = tg.split(" ")
      val cont1 = BigInt(cstats.getOrElse(t3, 0L)) + 1
      mstats.get(t2) match {
        case None => (bv, cont1, "continuation only")
        case Some((m2, t2types)) =>
          val denmid = BigInt(4) * m2 * bv
          val nummid = disc(mid.getOrElse(tail(tg, 2), 0L)) * bv +
            BigInt(3) * t2types * cont1
          pstats.get(head(tg, 2)) match {
            case None => (denmid, nummid, "middle only")
            case Some((c12, t12types)) =>
              (BigInt(4) * c12 * denmid,
                disc(tcnt.getOrElse(tg, 0L)) * denmid +
                  BigInt(3) * t12types * nummid, "seen context")
          }
      }
    }
    private def pruned(g: String, kept: Map[String, Long],
        lower: (BigInt, BigInt, String)): (BigInt, BigInt, String) = {
      val n = g.split(" ").length
      val (den, num, _) = lower
      prefixStats(kept, n - 1).get(head(g, n - 1)) match {
        case None => (den, num, "unkept prefix")
        case Some((ck, types)) => kept.get(g) match {
          case Some(c) => (BigInt(4) * ck * den,
            (BigInt(4) * c - 3) * den + BigInt(3) * types * num, "kept")
          case None => (BigInt(4) * ck * den,
            BigInt(3) * types * num, "pruned, prefix kept")
        }
      }
    }
    def rat4(qg: String): (BigInt, BigInt, String) =
      pruned(qg, kept4, rat3(tail(qg, 3)))
    def rat5(pg: String): (BigInt, BigInt, String) =
      pruned(pg, kept5, rat4(tail(pg, 4)))
  }

  private def grams(toks: Array[String], n: Int): Seq[String] =
    if (toks.length < n) Seq.empty
    else toks.sliding(n).map(_.mkString(" ")).toSeq

  private def micro(r: (BigInt, BigInt, String)): Long =
    math.round((math.log(r._1.toDouble) - math.log(r._2.toDouble)) * 1e6)

  test("fivegramSurprisalKn: the order-5 pruned ladder replayed " +
       "independently with BigInt rationals") {
    // a corpus that exercises all three order-5 branches (kept, pruned
    // with kept prefix, prefix entirely pruned) plus the no-evidence doc
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "a b c d f"), (4L, "b c d e f"), (5L, "x y"))
    val (theta4, theta5) = (2L, 2L)
    val kn = new KnReplay(corpus.map(_._2), theta4, theta5)
    // the corpus hits all three branches — assert that, so a corpus
    // edit can't silently hollow the test out
    assert(kn.counts(5).keys.map(kn.rat5(_)._3).toSet ===
      Set("kept", "pruned, prefix kept", "unkept prefix"),
      "branch coverage lost")
    val expected = corpus.map { case (id, t) =>
      val ss = grams(t.split(" "), 5).map(g => micro(kn.rat5(g)))
      id -> ((ss.size.toLong, ss.sum,
        if (ss.nonEmpty) Some(ss.sum / ss.size) else None))
    }.toMap
    val d = corpus.toDF("doc_id", "text")
    val out = QualityModels.fivegramSurprisalKn(d, theta4, theta5)
      .select("doc_id", "n_fivegrams", "surprisal_micro", "mean_micro")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === expected)
    assert(out(5L) === ((0L, 0L, None)))
  }

  test("lmHeldoutFivegram / lmHeldoutQuadgram: the position-form ladder " +
       "replayed with BigInt rationals on a split-controlled corpus") {
    // md5-bucket rule: doc_ids 1, 2, 4, 6 land in train, 5 in val, 3 in
    // test. The test doc's sites walk every position-form branch of
    // every order (asserted below); the stats are train-split only.
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (4L, "a b c d f"), (6L, "b c d e f"), (5L, "c d e f g"),
      (3L, "a b c d e q b c d f x a b c d z"))
    val split = Map(1L -> "train", 2L -> "train", 4L -> "train",
      6L -> "train", 5L -> "val", 3L -> "test")
    val d = corpus.toDF("doc_id", "text")
    assert(TextAnalysis.holdoutSplit(d.withColumn("lang", lit("en"))
        .withColumn("source", lit("s")))
      .select("doc_id", "split").as[(Long, String)].collect().toMap === split)
    val kn = new KnReplay(corpus.filter(r => split(r._1) == "train")
      .map(_._2), 2L, 2L)
    def sites(n: Int) = corpus.flatMap { case (id, t) =>
      grams(t.split(" "), n).map(split(id) -> _) }
    // the per-split (model, split) -> (n, unseen, mean) rows the
    // operators must return, from (lower, top) scores per site
    def expected(n: Int, kept: Map[String, Long],
        score: String => (Long, Long), models: (String, String)) =
      sites(n).groupBy(_._1).toSeq.flatMap { case (sp, ss) =>
        val scored = ss.map(s => score(s._2))
        val unseen = ss.count(s => !kept.contains(s._2)).toLong
        val cnt = ss.size.toLong
        Seq((models._1, sp) -> ((cnt, unseen, scored.map(_._1).sum / cnt)),
          (models._2, sp) -> ((cnt, unseen, scored.map(_._2).sum / cnt)))
      }.toMap
    def got(df: org.apache.spark.sql.DataFrame, unit: String) =
      df.select("model", "split", s"n_$unit", s"unseen_$unit", "mean_micro")
        .as[(String, String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    def tail(g: String, m: Int) = g.split(" ").takeRight(m).mkString(" ")

    val five = sites(5).map(_._2)
    assert(five.map(kn.rat5(_)._3).toSet ===
      Set("kept", "pruned, prefix kept", "unkept prefix"))
    assert(five.map(g => kn.rat4(tail(g, 4))._3).toSet ===
      Set("kept", "pruned, prefix kept", "unkept prefix"))
    assert(five.map(g => kn.rat3(tail(g, 3))._3).toSet ===
      Set("seen context", "middle only", "continuation only"))
    assert(got(QualityModels.lmHeldoutFivegram(d), "fivegrams") ===
      expected(5, kn.kept5,
        g => (micro(kn.rat4(tail(g, 4))), micro(kn.rat5(g))),
        ("kn_quadgram", "kn_fivegram")))
    assert(got(QualityModels.lmHeldoutQuadgram(d), "quadgrams") ===
      expected(4, kn.kept4,
        g => (micro(kn.rat3(tail(g, 3))), micro(kn.rat4(g))),
        ("kn_trigram", "kn_quadgram")))
  }

  test("trigramSurprisalKn: probability sanity — every seen trigram " +
       "surprisal is positive and interpolation beats pure backoff " +
       "mass-wise on repeated contexts") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = QualityModels.trigramSurprisalKn(d.limit(50))
      .select("n_trigrams", "surprisal_micro")
      .as[(Long, Long)].collect()
    out.filter(_._1 > 0).foreach { case (n, s) =>
      assert(s > 0L, "ln(den) > ln(num) for any proper probability")
      assert(s > n, "surprisal per position is far above 1 micro-nat")
    }
  }

  test("guardedModelMap: loud-fail past the broadcast-model bound, the " +
       "map passes through unchanged at the bound") {
    val mk = map_from_entries(array(struct(lit("a"), lit(1L))))
    val atBound = spark.range(1).select(QualityModels.guardedModelMap(
        "unit", lit(QualityModels.maxBroadcastModelRows), mk).as("m"))
      .select(element_at(col("m"), lit("a"))).as[Long].head()
    assert(atBound === 1L)
    val ex = intercept[Exception] {
      spark.range(1).select(QualityModels.guardedModelMap(
        "unit", lit(QualityModels.maxBroadcastModelRows + 1), mk)).collect()
    }
    assert(msgs(ex).exists(_.contains("unit: 5000001 model rows exceed " +
      "the broadcast-model bound 5000000")), s"got: $ex")
  }

  test("knGuarded: each KN order's int64 guard passes the score through " +
       "below its limit and fails loudly, naming the operator, at it") {
    Seq(3 -> 5.7e17, 4 -> 1.4e17, 5 -> 3.5e16).foreach { case (n, limit) =>
      val (site, op) = Seq("tg" -> "trigram", "qg" -> "quadgram",
        "pg" -> "fivegram")(n - 3)
      def guarded(product: Double, heldout: Boolean) = Seq("a b c")
        .toDF(site).select(QualityModels.knGuarded(n, heldout,
          Seq(lit(product / 4), lit(4L)), lit(7.4d)))
      assert(guarded(limit * 0.999, heldout = false).as[Long].head() === 7L)
      assert(guarded(limit * 0.999, heldout = true).as[Long].head() === 7L)
      val typeForm = intercept[Exception](
        guarded(limit, heldout = false).collect())
      assert(msgs(typeForm).exists(m => m.contains(s"$op KN: ") &&
        m.contains(" overflows the exact int64 rational") &&
        m.contains(s"($site=a b c)")), s"got: $typeForm")
      val heldout = intercept[Exception](
        guarded(limit, heldout = true).collect())
      assert(msgs(heldout).exists(_.contains(s"$op KN heldout: ")),
        s"got: $heldout")
    }
  }

  test("vocabSetRow refuses a vocabSize past the broadcast-model bound") {
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.CorpusStats.vocabSetRow(d, 5000001)
    }
    assert(ex.getMessage.contains("broadcast-model-sized"))
  }

  test("bigramSurprisalKn: hand-computed rational formula on a tiny corpus") {
    // corpus: "a b a b" and "b c" -> bigrams: (a b)x2, (b a)x1, (b c)x1
    // prefix counts: a->2 (types 1), b->2 (types 2); unigrams:
    // a:2 b:3 c:1, N=6, V=3
    val d = Seq((1L, "a b a b", "s"), (2L, "b c", "s"))
      .toDF("doc_id", "text", "source")
    val out = QualityModels.bigramSurprisalKn(d)
      .select("doc_id", "n_bigrams", "surprisal_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def s(c12: Long, c1: Long, t1types: Long, u2: Long): Long = {
      val nv = 6L + 3L
      math.round((math.log((4L * c1 * nv).toDouble)
        - math.log(((4L * c12 - 3L) * nv + 3L * t1types * (u2 + 1)).toDouble))
        * 1.0e6)
    }
    val sAB = s(2, 2, 1, 3) // p(b|a): c12=2, c1=2, T1=1, u(b)=3
    val sBA = s(1, 2, 2, 2) // p(a|b): c12=1, c1=2, T1=2, u(a)=2
    val sBC = s(1, 2, 2, 1) // p(c|b): c12=1, c1=2, T1=2, u(c)=1
    assert(out(1L) === ((1L, 3L, 2 * sAB + sBA)))
    assert(out(2L) === ((2L, 1L, sBC)))
  }

  test("lmHeldoutBigram: backoff beats add-1 where V is large and test " +
      "bigrams are seen-but-rare (the CCNet case)") {
    // Every train doc carries the shared phrase PLUS five unique hapax
    // words, blowing V up; held-out docs are the phrase alone. Add-1
    // then crushes every seen phrase bigram toward 1/V while absolute
    // discounting keeps p ≈ (c12 − D)/c1 — the measured reason CCNet
    // gates with a backoff LM, demonstrated rather than asserted.
    // (On the closed-vocab sf testdata both models see every test
    // bigram and the split means differ only in noise — see NOTES_r14.)
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
    }
    val trainT = 4294967296L * 80 / 100
    val phrase = "the cat sat on the mat"
    val docs = (0L until 200L).map { i =>
      val text = if (bucket(i) < trainT)
        s"$phrase u${i}a u${i}b u${i}c u${i}d u${i}e"
      else phrase
      (i, text, "s")
    }.toDF("doc_id", "text", "source")
    val rows = QualityModels.lmHeldoutBigram(docs)
      .select("model", "split", "n_bigrams", "unseen_bigrams", "mean_micro")
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.sorted.toSeq
      === Seq("add1", "backoff", "kn_cont"))
    val byKey = rows.map(r => (r._1, r._2) -> r).toMap
    val add1 = byKey(("add1", "test")); val kn = byKey(("backoff", "test"))
    val knc = byKey(("kn_cont", "test"))
    assert(add1._3 === kn._3 && add1._3 === knc._3,
      "all models score the same bigram stream")
    assert(add1._4 === 0L, "phrase bigrams are all seen in train")
    assert(kn._5 * 3 < add1._5,
      s"backoff (${kn._5}) must beat add-1 (${add1._5}) decisively " +
        "on seen-but-rare bigrams under a large vocabulary")
    assert(knc._5 * 3 < add1._5,
      s"KN continuation backoff (${knc._5}) must beat add-1 too")
  }

  test("pavPools: hand-computed pooling, leftmost-first, ties stand") {
    // monotone input: untouched
    assert(QualityModels.pavPools(Seq((10L, 1L), (10L, 5L), (10L, 9L)))
      === Seq((0, 0, 10L, 1L), (1, 1, 10L, 5L), (2, 2, 10L, 9L)))
    // single violation pools the pair: rates 0.8, 0.2 -> pooled 0.5
    assert(QualityModels.pavPools(Seq((10L, 8L), (10L, 2L)))
      === Seq((0, 1, 20L, 10L)))
    // cascade: [0.9, 0.5, 0.1] -> leftmost merge (0.9,0.5)=0.7, then
    // 0.7 > 0.1 merges again -> one pool of rate 0.5
    assert(QualityModels.pavPools(Seq((10L, 9L), (10L, 5L), (10L, 1L)))
      === Seq((0, 2, 30L, 15L)))
    // equal rates are NOT violations (strict comparison)
    assert(QualityModels.pavPools(Seq((10L, 4L), (20L, 8L)))
      === Seq((0, 0, 10L, 4L), (1, 1, 20L, 8L)))
    // weighted pooling: (n=1,p=1 rate 1.0) then (n=99,p=0) -> 1/100
    assert(QualityModels.pavPools(Seq((1L, 1L), (99L, 0L)))
      === Seq((0, 1, 100L, 1L)))
  }

  test("qualityCalibrated: monotone fit, reduced mean gap vs the diagram") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val cal = QualityModels.qualityCalibrated(docs)
      .select("bin", "n_docs", "obs_pos_bp", "cal_bp", "gap_bp")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the calibrated curve is non-decreasing in the bin order — the
    // isotonic contract raw mean_pred violates on this model
    assert(cal.map(_._4).zip(cal.map(_._4).tail)
      .forall { case (a, b) => a <= b }, "cal_bp must be monotone")
    assert(cal.forall { case (_, _, obs, calv, gap) =>
      gap === math.abs(calv - obs) })
    val diag = QualityModels.qualityCalibration(docs)
      .select("gap_bp").as[Long].collect()
    assert(cal.map(_._5).sum / cal.length < diag.sum / diag.length,
      "PAV must reduce the mean reliability gap")
  }

  /** Every message on an exception's cause chain. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  implicit private class Map2Ops(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
  }

  test("scoreAucEval: doubled-units U is exact on a hand-built case") {
    // craft four docs where both scorers are deterministic; we verify
    // the U machinery itself against a brute-force pair count
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = QualityModels.scoreAucEval(docs)
      .select("n_pos", "n_neg", "u2", "auc_bp")
      .as[(Long, Long, Long, Long)].head()
    val (p, n, u2, bp) = out
    assert(p + n === docs.count())
    assert(u2 >= 0 && u2 <= 2 * p * n, "U bounded by all-pairs")
    assert(bp === (10000L * u2) / (2 * p * n))

    // brute-force reference on the same inputs
    val sc = QualityModels.qualityLogreg(docs,
        QualityModels.defaultQualityWeights(spark))
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    val keep = QualityModels.gopherRules(docs)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    val pos = keep.filter(_._2).keys.toSeq
    val neg = keep.filterNot(_._2).keys.toSeq
    val u2Brute = (for { a <- pos; b <- neg } yield {
      if (sc(a) > sc(b)) 2L else if (sc(a) == sc(b)) 1L else 0L
    }).sum
    assert(u2 === u2Brute, "histogram U must equal the all-pairs count")
  }
}
