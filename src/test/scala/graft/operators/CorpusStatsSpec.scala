package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("sourceJaccard: hand-computed overlap at k=1") {
    // A = {x,y,z}, B = {y,z,w}, C = {q} — AB inter 2, union 4
    val d = Seq(
      (1L, "x y z", "A"), (2L, "y z w", "B"), (3L, "q", "C"))
      .toDF("doc_id", "text", "source")
    val out = CorpusStats.sourceJaccard(d, k = 1)
      .select("source_a", "source_b", "inter", "size_a", "size_b", "jaccard_bp")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(("A", "B", 2L, 3L, 3L, 10000L * 2 / 4)))
  }

  test("sourceJaccard: duplicate shingles within a source count once") {
    val d = Seq(
      (1L, "x x x y", "A"), (2L, "x y y y", "B"))
      .toDF("doc_id", "text", "source")
    val out = CorpusStats.sourceJaccard(d, k = 1)
      .select("inter", "size_a", "size_b", "jaccard_bp")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((2L, 2L, 2L, 10000L))) // identical SETS {x,y}
  }

  test("sourceJaccard: disjoint sources emit no pair row") {
    val d = Seq((1L, "x y", "A"), (2L, "p q", "B"))
      .toDF("doc_id", "text", "source")
    assert(CorpusStats.sourceJaccard(d, k = 1).count() === 0)
  }

  test("docNovelty: unique vs shared shingles, hand-computed at k=1") {
    // doc1 = {a,b,c}, doc2 = {b,c,d}: unique a (df1), d (df1);
    // doc1: n=3, unique=1, df_sum=1+2+2=5
    val d = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val out = CorpusStats.docNovelty(d, k = 1)
      .select("doc_id", "n_shingles", "n_unique", "novelty_bp", "mean_df_milli")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(out === Seq(
      (1L, 3L, 1L, 3333L, 1666L),
      (2L, 3L, 1L, 3333L, 1666L)))
  }

  test("docNovelty: fully duplicated doc has zero novelty") {
    val d = Seq((1L, "p q r s t"), (2L, "p q r s t"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val out = CorpusStats.docNovelty(d)
      .select("doc_id", "novelty_bp").as[(Long, Long)].collect().toMap
    assert(out(1L) === 0L && out(2L) === 0L)
    assert(out(3L) === 10000L)
  }

  test("tokenizerFertility: hand-computed ratios per lang") {
    // "ab, cd" -> ws 2 tokens, re tokens: ab , cd = 3; chars 6
    val d = Seq((1L, "ab, cd", "xx"), (2L, "e f", "yy"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusStats.tokenizerFertility(d)
      .select("lang", "n_docs", "chars", "ws_tokens", "re_tokens",
        "fertility_milli", "chars_per_tok_milli")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(out === Seq(
      ("xx", 1L, 6L, 2L, 3L, 1500L, 2000L),
      ("yy", 1L, 3L, 2L, 2L, 1000L, 1500L)))
  }

  test("metaConsistency: drifted and NULL n_chars rows count as mismatches") {
    val d = Seq(
      (1L, "abcde", "A", Some(5L)),   // consistent
      (2L, "abcde", "A", Some(7L)),   // drifted
      (3L, "abcde", "B", None))       // null metadata
      .toDF("doc_id", "text", "source", "n_chars")
    val out = CorpusStats.metaConsistency(d)
      .select("source", "n_docs", "n_mismatch", "mismatch_bp")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    assert(out === Seq(("A", 2L, 1L, 5000L), ("B", 1L, 1L, 10000L)))
  }

  test("embedExactDups: bit-identical vectors collapse to one keeper") {
    val d = Seq(
      (5L, Array(0.25f, -0.5f), 0),
      (2L, Array(0.25f, -0.5f), 0),   // exact dup, smaller id keeps
      (9L, Array(0.25f, 0.5f), 1))    // sign differs: distinct
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embedExactDups(d)
      .select("vec_id", "keep_id", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSeq.sorted
    assert(out === Seq((2L, 2L, false), (5L, 2L, true), (9L, 9L, false)))
  }

  test("centroidOutliers: the vector pointing away from its label flags") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(-1.0f, 0.0f), 0), // against its own label's direction
      (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = CorpusStats.centroidOutliers(d)
      .select("vec_id", "outlier").as[(Long, Boolean)].collect().toMap
    assert(out(3L) === true)
    assert(!out(1L) && !out(2L) && !out(4L),
      "aligned members and a singleton label never flag")
  }

  test("centroidDrift: identical slices score cos 1e6, opposite -1e6") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(2.0f, 0.0f), 1),                      // same direction
      (4L, Array(-1.0f, 0.0f), 2))                     // opposite
      .toDF("vec_id", "embedding", "label")
    val out = CorpusStats.centroidDrift(d)
      .select("label_a", "label_b", "n_a", "n_b", "cos_micro")
      .as[(Int, Int, Long, Long, Long)].collect().toSeq.sorted
    assert(out === Seq(
      (0, 1, 2L, 1L, 1000000L),
      (0, 2, 2L, 1L, -1000000L),
      (1, 2, 1L, 1L, -1000000L)))
  }

  test("centroidDrift: orthogonal slice centroids score 0") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = CorpusStats.centroidDrift(d)
      .select("cos_micro").as[Long].collect().toSeq
    assert(out === Seq(0L))
  }

  test("centroidDrift: centroid is the component-wise sum direction") {
    // label 0: (1,0) and (0,1) -> centroid (1,1); label 1: (1,1)
    // cos((1,1),(1,1)) = 1
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(0.5f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = CorpusStats.centroidDrift(d)
      .select("cos_micro").as[Long].collect().toSeq
    assert(out === Seq(1000000L))
  }

  test("vocabCoverage: top-V tie rule and per-doc OOV, hand-computed") {
    // counts: a=3, b=1, c=5x... build: d1 "a a b", d2 "a c", d3 "c c c c"
    // totals a:3, c:5, b:1 -> V=2 vocab = {c(5), a(3)}; boundary tie
    // case below uses V=2 with b/c tied at 1 -> token asc picks b
    val docs = Seq(
      (1L, "a a b", "en", "s", 0L),
      (2L, "a c", "en", "s", 0L),
      (3L, "c c c c", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusStats.vocabCoverage(docs, vocabSize = 2)
      .orderBy("doc_id")
      .select("n_tok", "oov", "oov_bp").as[(Long, Long, Long)]
      .collect().toSeq
    // vocab = {c, a}: d1 oov=1 (b) of 3 -> 3333; d2 oov=0; d3 oov=0
    assert(out === Seq((3L, 1L, 3333L), (2L, 0L, 0L), (4L, 0L, 0L)))
  }

  test("vocabCoverage: boundary tie breaks on token asc; empties ignored") {
    // counts: a=2, b=1, c=1 -> V=2 vocab = {a, b} (b < c at count 1)
    val docs = Seq(
      (1L, "a  a b", "en", "s", 0L), // double space -> empty token dropped
      (2L, "c", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusStats.vocabCoverage(docs, vocabSize = 2)
      .orderBy("doc_id")
      .select("n_tok", "oov", "oov_bp").as[(Long, Long, Long)]
      .collect().toSeq
    assert(out === Seq((3L, 0L, 0L), (1L, 1L, 10000L)))
  }

  test("ksDrift: hand-computed one-vs-rest KS on a 3-source corpus") {
    // lengths — A: {1, 1, 3}; B: {1, 3, 3}; C: {5}. Grid {1, 3, 5}.
    // One-vs-rest ECDFs in floored micro-units:
    //   A (N=3, rest=4): v=1: f_A=666666, f_r=250000 → 416666 (argmax)
    //                    v=3: f_A=10⁶,    f_r=750000 → 250000
    //                    v=5: 0
    //   B (N=3, rest=4): v=1: f_B=333333, f_r=500000 → 166667
    //                    v=3: f_B=10⁶,    f_r=750000 → 250000 (argmax)
    //   C (N=1, rest=6): v=1: 0 vs 500000 → 500000
    //                    v=3: 0 vs 10⁶    → 10⁶ (argmax)
    val docs = Seq(
      (1L, "a", "A"), (2L, "b", "A"), (3L, "a b c", "A"),
      (4L, "a", "B"), (5L, "a b c", "B"), (6L, "x y z", "B"),
      (7L, "a b c d e", "C"))
      .toDF("doc_id", "text", "source")
    val out = CorpusStats.ksDrift(docs)
      .select("source", "n_docs", "ks_micro", "ks_at_len")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(("A", 3L, 416666L, 1L), ("B", 3L, 250000L, 3L),
      ("C", 1L, 1000000L, 3L)))
  }

  test("ksNormDrift: hand-computed per-label KS on bucketed norms; " +
       "non-finite vectors excluded") {
    // norms — label 0: {5.0, 1.0} → buckets {500, 100}; label 1:
    // {1.0} → {100}; label 2: {5.0} plus one NaN vector (excluded →
    // n_vecs 1). Grid {100, 500}, N=4. Floored micro-ECDFs:
    //   label 0 (rest {100:1, 500:1}): equal at both grid points → 0@100
    //   label 1 (rest {100:1, 500:2}): v=100: 10⁶ vs 333333 → 666667@100
    //   label 2 (rest {100:2, 500:1}): v=100: 0 vs 666666 → 666666@100
    val emb = Seq(
      (1L, Seq(3.0f, 4.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.6f, 0.8f), 1),
      (4L, Seq(3.0f, 4.0f), 2),
      (5L, Seq(Float.NaN, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = CorpusStats.ksNormDrift(emb)
      .select("label", "n_vecs", "ks_micro", "ks_at_bucket")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((0, 2L, 0L, 100L), (1, 1L, 666667L, 100L),
      (2, 1L, 666666L, 100L)))
  }

  // the spec's independent reimplementation of one PSI bin term —
  // plain driver-side Scala doubles in the same fixed operation order
  // as the plan (two divisions, four ln, one product, one 10^6 scale,
  // one round); terms are >= 0 so math.round == HALF_UP here
  private def psiTerm(ns: Long, ds: Long, nr: Long, dr: Long): Long =
    math.round((ns.toDouble / ds.toDouble - nr.toDouble / dr.toDouble) *
      (math.log(ns.toDouble) - math.log(ds.toDouble) -
        math.log(nr.toDouble) + math.log(dr.toDouble)) * 1000000.0d)

  test("psiDrift: hand-checked one-vs-rest PSI on the 3-source " +
       "corpus at binWidth=1") {
    // lengths — A: {1, 1, 3}; B: {1, 3, 3}; C: {5}; bins {1, 3, 5},
    // B = 3 observed bins, add-1 smoothing denominators N_s + 3.
    val docs = Seq(
      (1L, "a", "A"), (2L, "b", "A"), (3L, "a b c", "A"),
      (4L, "a", "B"), (5L, "a b c", "B"), (6L, "x y z", "B"),
      (7L, "a b c d e", "C"))
      .toDF("doc_id", "text", "source")
    // per-source smoothed terms: (n_s, bin counts) A=(2,1,0) vs rest
    // (1,2,1); B=(1,2,0) vs (2,1,1); C=(0,0,1) vs (3,3,0)
    val expA = psiTerm(3, 6, 2, 7) + psiTerm(2, 6, 3, 7) + psiTerm(1, 6, 2, 7)
    val expB = psiTerm(2, 6, 3, 7) + psiTerm(3, 6, 2, 7) + psiTerm(1, 6, 2, 7)
    val expC = psiTerm(1, 4, 4, 9) + psiTerm(1, 4, 4, 9) + psiTerm(2, 4, 1, 9)
    // argmaxes: A's largest term is bin 1 (2 docs vs 1), B's bin 3,
    // C's bin 5 (its only mass, absent from the rest)
    val out = CorpusStats.psiDrift(docs, binWidth = 1L)
      .select("source", "n_docs", "psi_micro", "psi_top_len")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(("A", 3L, expA, 1L), ("B", 3L, expB, 3L),
      ("C", 1L, expC, 5L)))
    assert(expA > 0L && expC > expA,
      "the single-bin outlier source must out-score the mild shifts")
  }

  test("psiDrift: identical per-source histograms score exactly 0; " +
       "a single-source corpus emits no row") {
    val same = Seq((1L, "a b", "A"), (2L, "a b c", "A"),
      (3L, "x y", "B"), (4L, "x y z", "B"))
      .toDF("doc_id", "text", "source")
    val out = CorpusStats.psiDrift(same, binWidth = 1L)
      .select("source", "psi_micro").as[(String, Long)].collect().toMap
    assert(out === Map("A" -> 0L, "B" -> 0L),
      "equal smoothed ratios must cancel term-for-term")
    val solo = Seq((1L, "a b", "A"), (2L, "c", "A"))
      .toDF("doc_id", "text", "source")
    assert(CorpusStats.psiDrift(solo).count() === 0L,
      "one-vs-rest is undefined with a single source")
  }

  test("psiNormDrift: hand-checked per-label PSI on re-binned norm " +
       "buckets; non-finite vectors excluded") {
    // the ksNormDrift corpus: buckets — label 0: {500, 100}; label 1:
    // {100}; label 2: {500} (NaN vector excluded). binWidth=10 →
    // bins {10, 50}, B = 2, N_total = 4.
    val emb = Seq(
      (1L, Seq(3.0f, 4.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.6f, 0.8f), 1),
      (4L, Seq(3.0f, 4.0f), 2),
      (5L, Seq(Float.NaN, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    // label 0 (N=2, ds=4) mirrors its rest bin-for-bin → terms 0,
    // argmax ties to bin 10 (bucket-unit low edge 100); labels 1/2
    // (N=1, ds=3, rest dr=5) are each other's mirror image — same
    // PSI, argmax on the bin where the rest has the mass they lack
    val exp12 = psiTerm(2, 3, 2, 5) + psiTerm(1, 3, 3, 5)
    val out = CorpusStats.psiNormDrift(emb)
      .select("label", "n_vecs", "psi_micro", "psi_top_bucket")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((0, 2L, 0L, 100L), (1, 1L, exp12, 500L),
      (2, 1L, exp12, 100L)))
    assert(exp12 > 0L)
  }

  test("ksDrift: a source distributed like the rest scores 0; a " +
       "single-source corpus emits no row") {
    val same = Seq((1L, "a b", "A"), (2L, "a b c", "A"),
      (3L, "x y", "B"), (4L, "x y z", "B"))
      .toDF("doc_id", "text", "source")
    val out = CorpusStats.ksDrift(same)
      .select("source", "ks_micro").as[(String, Long)].collect().toMap
    assert(out === Map("A" -> 0L, "B" -> 0L))
    val solo = Seq((1L, "a b", "A"), (2L, "c", "A"))
      .toDF("doc_id", "text", "source")
    assert(CorpusStats.ksDrift(solo).count() === 0L,
      "one-vs-rest is undefined with a single source")
  }

  test("zipfFit: an exact power law measures its own exponent") {
    // counts c(r) = round(C * r^-0.8): slope_micro must land near -0.8e6
    val docs = (1 to 50).flatMap { r =>
      val c = math.max(1, math.round(10000.0 * math.pow(r, -0.8)).toInt)
      Seq.fill(c)(s"w$r")
    }
    val df = Seq((1L, docs.mkString(" "))).toDF("doc_id", "text")
    val out = CorpusStats.zipfFit(df, topN = 50)
      .select("n_fit", "slope_micro").as[(Long, Long)].head()
    assert(out._1 === 50L)
    assert(math.abs(out._2 + 800000L) < 20000L,
      s"fitted slope ${out._2} should be close to -800000 micro")
  }

  test("zipfFit: uniform counts fit slope 0") {
    val df = Seq((1L, (1 to 30).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = CorpusStats.zipfFit(df, topN = 30)
      .select("slope_micro").as[Long].head()
    assert(out === 0L)
  }

  test("heapsFit: a genuinely growing vocabulary fits a positive beta") {
    // every doc introduces fresh types at a constant rate: V = N/2,
    // so ln V = ln N - ln 2 and beta must be ~1
    val docs = (0L until 40L).map(d =>
      (d, (0 until 10).map(i => s"w${d}_${i / 2}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = CorpusStats.heapsFit(docs)
      .select("beta_micro").as[Long].head()
    assert(math.abs(out - 1000000L) < 5000L, s"beta $out should be ~1e6")
  }

  test("heapsFit: a closed vocabulary saturates toward beta 0") {
    val docs = (0L until 40L).map(d =>
      (d, (0 until 10).map(i => s"fixed$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = CorpusStats.heapsFit(docs)
      .select("beta_micro").as[Long].head()
    assert(out >= 0L && out < 100000L, s"beta $out should be near 0")
  }
}
