package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}

import graft.core.Tables
import graft.functions.TextFunctions._

/** Model-based quality scoring — the CCNet-style layer between the
  * rule filters (TextAnalysis.textQuality) and near-dup dedup: score
  * each document by a language model trained on the corpus itself and
  * gate on the score distribution. Two operators:
  *
  *  - lmSurprisal: unigram-LM cross-entropy per document (the
  *    perplexity-proxy CCNet uses KenLM for, at unigram order so the
  *    model is an aggregatable table instead of an external artifact).
  *  - qualityFloorPerSource: keep the best `keepFrac` of each source
  *    by a quality score — the per-domain percentile gate that stops a
  *    single boilerplate-heavy domain from flooding the mixture.
  *
  * Cross-engine exactness: surprisal is fixed-point micro-nats (the
  * only transcendental, ln, is rounded ONCE per vocab type to 1e-6
  * before any summation), the floor score is integer basis points —
  * both sum/compare as BIGINTs with no float-order caveat.
  */
object QualityModels {

  /** Native n-gram field kernels (graft.functions.NgramSubstr) — the
    * prefix/suffix/token extraction under every KN model build and
    * scorer. Bit-identical to the split/concat_ws forms they replaced
    * (NgramSubstrSpec pins parity): split is a per-row regex split
    * allocating a token array per CALL, and the model builds called it
    * up to six times per row on count frames with millions of n-gram
    * types; these are one byte scan + one slice copy each. */
  private def ngTok(c: Column, i: Int): Column =
    graft.functions.NgramToken(c, i)
  private def ngHead(c: Column, m: Int): Column =
    graft.functions.NgramSlice(c, 0, m)
  private def ngTail(c: Column, m: Int): Column =
    graft.functions.NgramSlice(c, 1, m)

  /** Broadcast-model-row contract for every one-map-row scorer
    * (lm_surprisal, bigram_surprisal, lm_heldout_eval): the whole
    * model collapses into a single collect_list row and broadcasts,
    * so it MUST stay model-sized. 5M entries mirrors BpeTrain's
    * Heaps-contract word-table bound (a few hundred MB — comfortably
    * one row-buffer and one broadcast); a corpus whose type table
    * outgrows it violates the assumption the shape rests on and must
    * fail LOUDLY in-plan instead of OOMing a driver or executor
    * (r17 verdict #5). Past the bound, score by key-join — the KN
    * ladder's shape (bigram_surprisal_kn and up). */
  private[graft] val maxBroadcastModelRows: Long = 5000000L

  /** Wraps a map-model column in the loud-fail row-count guard: below
    * the bound the plan is unchanged (the `when` folds around the same
    * map expression); above it the job raise_errors with the operator
    * name and the measured row count. */
  private[graft] def guardedModelMap(op: String, nRows: Column,
      mapCol: Column): Column =
    when(nRows > maxBroadcastModelRows,
      raise_error(concat(lit(s"$op: "), nRows.cast("string"),
        lit(s" model rows exceed the broadcast-model bound " +
          s"$maxBroadcastModelRows — the one-map-row scorer is " +
          "model-sized by contract; score by key-join (the KN " +
          "ladder's shape) for corpora this size"))))
      .otherwise(mapCol)

  /** Per-document unigram cross-entropy in micro-nats.
    *
    * Model: p(t) = cnt(t) / total over the corpus's own token stream
    * (self-scoring — the usual first pass when no held-out LM exists;
    * a real pipeline swaps in counts from a reference corpus, which
    * changes nothing structurally). Per token occurrence the
    * surprisal is −ln p(t) = ln(total) − ln(cnt(t)), rounded once per
    * VOCAB TYPE to integer micro-nats; a document's score is the
    * BIGINT sum over its occurrences and the mean is an exact integer
    * division. High mean surprisal ⇒ rare-token soup (mojibake,
    * keyboard mash); low ⇒ repetitive boilerplate. The demo keep-band
    * [minKeep, maxKeep] drops both tails.
    *
    * Scale shape — ZERO corpus-sized shuffles:
    *  - vocab counts: one map-side-combined aggregate keyed by token
    *    type (vocab-sized output, power-law input handled by partial
    *    aggregation — the heavy key collapses map-side).
    *  - scoring: the vocab table collapses to ONE map row
    *    (map_from_entries over collect_list — vocab is ≪ corpus by
    *    Heaps' law; a 1e6-type vocab is a few MB) broadcast into the
    *    doc scan; each doc folds its own token array through the map
    *    with an `aggregate` HOF. No explode, no per-doc groupBy — the
    *    corpus is touched map-only.
    *  - every token is in-vocab by construction (the model is trained
    *    on the same stream); scoring against a FOREIGN vocab would add
    *    coalesce(..., unkMicro) in the fold.
    */
  def lmSurprisal(docs: DataFrame,
                  minKeepMicro: Long = 3200000L,
                  maxKeepMicro: Long = 3600000L): DataFrame =
    unigramScored(docs, "lm_surprisal", Nil)
      .withColumn("keep",
        col("mean_micro") >= minKeepMicro && col("mean_micro") <= maxKeepMicro)

  /** The scoring core of [[lmSurprisal]] with caller-chosen carry
    * columns (ppl_buckets needs lang alongside the score; the public
    * operator keeps its original schema — extra = Nil leaves the plan
    * byte-identical). */
  private def unigramScored(docs: DataFrame, guardName: String,
                            extra: Seq[String]): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
    val model = vocab
      .agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("vtypes"),
        collect_list(struct(col("t"), col("cnt"))).as("entries"))
      .select(guardedModelMap(guardName, col("vtypes"),
        map_from_entries(transform(col("entries"), e =>
          struct(e.getField("t"),
            round((log(col("total")) - log(e.getField("cnt")))
              * lit(1000000.0d)).cast("long"))))).as("smap"))

    val carry = extra.map(col)
    docs.crossJoin(broadcast(model))
      .select(col("doc_id") +: carry :+
        tokens(col("text")).as("toks") :+ col("smap"): _*)
      .select(col("doc_id") +: carry :+
        size(col("toks")).cast("long").as("n_toks") :+
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + element_at(col("smap"), t))
          .as("surprisal_micro"): _*)
      .withColumn("mean_micro", expr("surprisal_micro div n_toks"))
  }

  /** CCNet's perplexity bucketing (Wenzek et al. 2020): within each
    * language, split documents into equal-count HEAD / MIDDLE / TAIL
    * terciles by LM score — head feeds the clean corpus, tail is
    * dropped, middle kept for diversity. Scores are [[lmSurprisal]]'s
    * exact micro-nat means (self-scored here; a reference-corpus LM
    * swaps in without structural change).
    *
    * Scale shape — CCNet's own split SORTS each language shard; this
    * implementation never materializes a per-lang total order over
    * docs. Tercile thresholds come from the CENTINAT histogram
    * (mean_micro div 10⁴ — the score grid is bounded by the surprisal
    * range in centinats, not by the corpus), cumulated by a window
    * over model-sized per-lang bins; docs then bucket through a
    * broadcast threshold join, map-only. Exactness: thresholds are
    * smallest-bin-covering integer compares (t_k = min m with
    * 3·cum(m) ≥ k·n_lang), so docs sharing one centinat bin share a
    * bucket — thresholds are corpus-level score CUTOFFS (the
    * deployable CCNet form: "keep if ppl < t"), not a rank split that
    * would cut mid-bin nondeterministically on equal scores. */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val s = unigramScored(docs, "ppl_buckets", Seq("lang"))
      .select(col("doc_id"), col("lang"), col("mean_micro"),
        expr("mean_micro div 10000").as("m"))
    val hist = s.groupBy("lang", "m").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val cum = hist.withColumn("c",
      sum(col("n")).over(W.partitionBy("lang").orderBy("m")))
    val nl = hist.groupBy("lang").agg(sum(col("n")).as("n_lang"))
    val th = cum.join(nl, "lang").groupBy("lang")
      .agg(min(when(col("c") * 3 >= col("n_lang"), col("m"))).as("t1"),
        min(when(col("c") * 3 >= col("n_lang") * 2, col("m"))).as("t2"))
    s.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("mean_micro"),
        when(col("m") <= col("t1"), lit("head"))
          .when(col("m") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  def pplBucketsQuery(spark: SparkSession, dir: String): DataFrame =
    pplBuckets(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def lmSurprisalQuery(spark: SparkSession, dir: String): DataFrame =
    lmSurprisal(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Keep the top `keepFrac` of each source's documents by quality
    * score (integer basis points of alphabetic mass — (10000·n_alpha)
    * div n_chars, ties broken by doc_id asc so the rule is a total
    * order). Per source, K = ceil(keepFrac · count) docs survive.
    *
    * Scale shape — the naive form is ONE window over each source
    * partition, which funnels a popular domain's every doc through a
    * single task. This implementation never materializes a per-source
    * total order over DOCS:
    *  - histogram: groupBy (source, score) — map-side combined, output
    *    bounded by |sources| · 10001 score values.
    *  - the running-count window orders the HISTOGRAM (≤ 10001 rows
    *    per source), deriving each source's cutoff score and the
    *    quota of docs to keep AT the cutoff.
    *  - docs strictly above the cutoff keep with a broadcast join —
    *    map-only; ONLY docs exactly at their source's boundary score
    *    (a 1-in-10001 slice) enter the tie-break window.
    */
  def qualityFloorPerSource(docs: DataFrame,
                            keepNum: Int = 9, keepDen: Int = 10): DataFrame = {
    require(keepNum > 0 && keepNum <= keepDen,
      s"keep fraction $keepNum/$keepDen must be in (0, 1]")
    val scored = docs.select(col("doc_id"), col("source"),
      expr("(10000 * length(regexp_replace(text, '[^a-z]', ''))) div length(text)")
        .as("score_bp"))

    val hist = scored.groupBy("source", "score_bp").agg(count(lit(1)).as("c"))
    val wCum = W.partitionBy(col("source")).orderBy(col("score_bp").desc)
    val totals = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(totals, "source")
      .withColumn("k_keep",
        expr(s"($keepNum * n_src + $keepDen - 1) div $keepDen"))
      .filter(col("cum") >= col("k_keep") &&
        col("cum") - col("c") < col("k_keep"))
      .select(col("source"), col("score_bp").as("cut_bp"),
        (col("k_keep") - (col("cum") - col("c"))).as("quota"))

    val withCut = scored.join(broadcast(cuts), "source")
    val above = withCut.filter(col("score_bp") > col("cut_bp"))
      .withColumn("keep", lit(true))
    val wTie = W.partitionBy(col("source")).orderBy(col("doc_id"))
    val boundary = withCut.filter(col("score_bp") === col("cut_bp"))
      .withColumn("keep", row_number().over(wTie) <= col("quota"))
    val below = withCut.filter(col("score_bp") < col("cut_bp"))
      .withColumn("keep", lit(false))

    above.unionByName(boundary).unionByName(below)
      .select("doc_id", "source", "score_bp", "keep")
  }

  def qualityFloorPerSourceQuery(spark: SparkSession, dir: String): DataFrame =
    qualityFloorPerSource(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how target-like its
    * hashed n-gram feature distribution is, then keep the top-N. The
    * importance model is two bag-of-buckets unigram+bigram
    * distributions — p_target over docs matching `target`, p_raw over
    * everything — smoothed add-1 over `numBuckets` hash buckets; a
    * doc's log-importance is Σ over its feature OCCURRENCES of
    * λ(b) = ln p̂_target(b) − ln p̂_raw(b). Ranking uses the per-feature
    * MEAN (lw div n_feat) so long docs aren't favored merely for
    * having more features (the paper's length-normalized variant).
    * The published method resamples with Gumbel noise; this takes the
    * deterministic top-N limit (noise-free selection is the
    * reproducible analog, and ties still break on doc_id).
    *
    * Cross-engine exactness: λ is rounded ONCE per bucket to integer
    * micro-nats with the four ln terms in a FIXED left-to-right order
    * (float addition is order-sensitive; same text, same bits), so doc
    * scores are BIGINT sums. Spark `div` and DuckDB `//` both truncate
    * toward zero, so the possibly-NEGATIVE mean agrees too.
    *
    * Scale shape: feature hashing is the point of DSIR — the model is
    * `numBuckets` rows no matter the corpus (vs an unbounded n-gram
    * vocab), so it broadcasts as ONE collapsed map row and docs score
    * map-only via the in-row `aggregate` fold (same zero-shuffle shape
    * as lmSurprisal). Both count aggregates are map-side-combined into
    * ≤ numBuckets groups; selection is the two-phase sharded top-N, so
    * no window ever sees the corpus — only ≤ shards·selectN rows. */
  def dsirImportance(docs: DataFrame, target: Column,
                     numBuckets: Int = 256, selectN: Int = 100,
                     shards: Int = 8): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    require(selectN >= 1 && shards >= 1,
      s"selectN/shards must be >= 1, got $selectN/$shards")
    val b = numBuckets
    val feats = docs
      .select(col("doc_id"), target.as("is_target"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_target"),
        concat(col("toks"), wordShingles(col("toks"), 2)).as("fs"))

    val occ = feats
      .select(col("doc_id"), col("is_target"), explode(col("fs")).as("f"))
      .select(col("is_target"), pmod(hash28(col("f")), lit(b.toLong)).as("b"))
    val counts = occ.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
    val tots = occ.agg(count(lit(1)).as("tr"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("tt"))

    // the four ln terms stay in this exact order on both engines
    val lam = counts.crossJoin(broadcast(tots))
      .select(col("b"),
        round((log(col("ct") + 1) - log(col("tt") + b)
          - log(col("cr") + 1) + log(col("tr") + b))
          * lit(1000000.0d)).cast("long").as("lam_micro"))
    val lamMap = lam
      .agg(collect_list(struct(col("b"), col("lam_micro"))).as("es"))
      .select(map_from_entries(col("es")).as("lmap"))

    val perDoc = feats.crossJoin(broadcast(lamMap))
      .select(col("doc_id"),
        size(col("fs")).cast("long").as("n_feat"),
        aggregate(col("fs"), lit(0L), (acc, f) =>
          acc + element_at(col("lmap"), pmod(hash28(f), lit(b.toLong))))
          .as("lw_micro"))
      .withColumn("mean_micro", expr("lw_micro div n_feat"))

    val wShard = W.partitionBy(pmod(col("doc_id"), lit(shards)))
      .orderBy(col("mean_micro").desc, col("doc_id"))
    val wFinal = W.orderBy(col("mean_micro").desc, col("doc_id"))
    val sel = perDoc
      .withColumn("srnk", row_number().over(wShard))
      .filter(col("srnk") <= selectN)
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= selectN)
      .select(col("doc_id").as("sel_id"))
    perDoc.join(broadcast(sel), col("doc_id") === col("sel_id"), "left_outer")
      .select(col("doc_id"), col("n_feat"), col("lw_micro"), col("mean_micro"),
        col("sel_id").isNotNull.as("selected"))
  }

  def dsirImportanceQuery(spark: SparkSession, dir: String): DataFrame =
    dsirImportance(Tables.documents(spark, dir), col("lang") === "en")
      .orderBy(col("doc_id"))

  /** The Gopher/MassiveText rule gate (Rae et al. 2021, Appendix A) as
    * named per-rule flags — the AUDITABLE form of the filter: a release
    * gate wants to know WHICH rule killed a doc, not just that one did.
    * textQuality (TextAnalysis) reports float ratio STATS; this is the
    * boolean RULE SET, in exact integer arithmetic (every comparison is
    * cross-multiplied — no division anywhere, so no rounding caveat at
    * all):
    *
    *  - r_word_count:  n_words ∈ [minWords, maxWords]
    *  - r_word_len:    mean word length ∈ [4, 10]  (4·w ≤ alpha ≤ 10·w,
    *                   alpha = n_chars − n_words + 1 on the
    *                   single-spaced corpus)
    *  - r_stopwords:   ≥ 2 DISTINCT members of the 8-word stop list
    *                   appear (Gopher's "contains at least two of the,
    *                   be, to, of, and, that, have, with", with `a`
    *                   standing in for `be` so the list intersects
    *                   this corpus's vocabulary)
    *  - r_ttr:         type-token ratio ≥ 30% (10·n_distinct ≥ 3·w) —
    *                   keyboard-mash and boilerplate both crater this
    *  - r_top_token:   most frequent token's share ≤ 20% (5·top ≤ w) —
    *                   the unigram member of Gopher's repetition family
    *                   (the n-gram members live in repetition_stats)
    *
    * keep = all five. Scale shape: ENTIRELY map-only — the repetition
    * signals are in-row array folds (distinct + per-type counts over a
    * ≤ doc-length array), not the explode→groupBy path, so the operator
    * adds ZERO shuffles at any corpus size; the rule evaluates inside
    * the scan stage and pushes `keep` into downstream filters. */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 15, maxWords: Int = 90): DataFrame = {
    val gopherStop = Seq("the", "a", "to", "of", "and", "that", "have", "with")
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"),
        length(col("text")).as("nc"))
      .select(col("doc_id"), col("toks"), col("nc"),
        size(col("toks")).as("w"),
        (col("nc") - size(col("toks")) + 1).as("alpha"),
        size(array_distinct(col("toks"))).as("nd"),
        size(filter(array_distinct(col("toks")),
          t => t.isin(gopherStop: _*))).as("nstop"),
        array_max(transform(array_distinct(col("toks")),
          t => size(filter(col("toks"), x => x === t)))).as("topc"))
      .select(col("doc_id"), col("w").as("n_words"),
        (col("w") >= minWords && col("w") <= maxWords).as("r_word_count"),
        (lit(4) * col("w") <= col("alpha") &&
          col("alpha") <= lit(10) * col("w")).as("r_word_len"),
        (col("nstop") >= 2).as("r_stopwords"),
        (lit(10) * col("nd") >= lit(3) * col("w")).as("r_ttr"),
        (lit(5) * col("topc") <= col("w")).as("r_top_token"))
      .withColumn("keep",
        col("r_word_count") && col("r_word_len") && col("r_stopwords") &&
          col("r_ttr") && col("r_top_token"))
  }

  def gopherRulesQuery(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Bigram-LM cross-entropy — lmSurprisal one Markov order up (the
    * KenLM direction: CCNet scores with a 5-gram; the bigram is the
    * first order where CONTEXT matters, so "the the the" scores high
    * while unigram surprisal — blind to order — scores it low).
    *
    * Model: add-1-smoothed conditional
    *   p(t2|t1) = (cnt(t1 t2) + 1) / (cnt_prefix(t1) + V)
    * over the corpus's own bigram stream, V = distinct unigram types,
    * cnt_prefix = occurrences of t1 AS A PREFIX (= unigram count minus
    * the end-of-doc positions, counted directly from the bigram stream
    * so the two engines can't disagree about doc boundaries). Per
    * bigram TYPE the surprisal ln(cnt_prefix+V) − ln(cnt+1) is rounded
    * ONCE to integer micro-nats (two ln terms, pinned order); a doc's
    * score is the BIGINT sum over its n_words−1 bigram positions and
    * the mean is exact trunc division.
    *
    * Scale shape — the bigram_surprisal_kn key-join shape (r18 verdict
    * #3: a bigram TYPE table is effectively unbounded on web corpora,
    * so the old whole-model `map_from_entries(collect_list)` → one
    * broadcast map row was a refuse-at-5M-types ceiling; its sibling
    * proved the keyed shape costs nothing): bigram counts are ONE
    * map-side-combined aggregate (bigram-vocab-sized output; Heaps'
    * law keeps it ≪ corpus), prefix counts REUSE the bigram table (a
    * second vocab-sized aggregate — the corpus is NOT rescanned), the
    * per-TYPE model FRAME equi-joins the exploded doc-bigram stream on
    * `bg` (inner — every doc bigram is a seen type by construction),
    * and ONE per-doc aggregate collapses it. Nothing model-sized
    * crosses a driver or a broadcast; the only broadcast is the 1-row
    * V scalar. Docs with < 2 tokens carry a 0 score and a NULL mean
    * (no bigram evidence) via the left join back. */
  def bigramSurprisal(docs: DataFrame,
                      minKeepMicro: Long = 3340000L,
                      maxKeepMicro: Long = 3420000L): DataFrame = {
    val bigs = docs.select(
      explode(wordShingles(tokens(col("text")), 2)).as("bg"))
    val bcnt = bigs.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused by pcnt + the model build — one scan
    // prefix occurrences + V from the bigram table, not a rescan
    val pcnt = bcnt
      .groupBy(ngTok(col("bg"), 0).as("t1"))
      .agg(sum(col("cnt")).as("pcnt"))
    val vocabV = docs
      .select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val smodel = bcnt
      .join(pcnt, ngTok(col("bg"), 0) === col("t1"))
      .crossJoin(broadcast(vocabV))
      .select(col("bg"),
        round((log(col("pcnt") + col("v")) - log(col("cnt") + 1))
          * lit(1000000.0d)).cast("long").as("s"))
    knPerDoc(docs, 2, smodel)
      .withColumn("keep",
        coalesce(col("mean_micro") >= minKeepMicro &&
          col("mean_micro") <= maxKeepMicro, lit(false)))
  }

  def bigramSurprisalQuery(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisal(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ------------------------------------------------- the Kneser-Ney ladder
  //
  // Every KN query below (bigram_surprisal_kn … lm_heldout_fivegram) is a
  // composition of the same parts, each defined once here: the model
  // frames (trigramModelFrames, prunedFrames), the exact rationals (Kn,
  // knBase, knRung, prunedRung, trigramKn), the int64 guard (knGuarded),
  // the per-doc scorer (knPerDoc) and the held-out aggregate
  // (knHeldoutMeans). Two FORMS share the rationals:
  //  - the TYPE form scores every seen n-gram type of the corpus it was
  //    built on: inner joins, every statistic present;
  //  - the POSITION form scores held-out sites against train-split
  //    statistics: left joins, so a statistic may be absent (NULL), and
  //    the rational is branch-wise — a rung whose context is unseen
  //    falls back to the rung below it.

  /** One exact KN probability num/den as int64 columns, held
    * branch-wise: (d, n) holds where the fallback's condition is true
    * (always, without a fallback), the fallback rational elsewhere.
    * `den`/`num` collapse the branches into one when-chain each;
    * `micro` is the per-row surprisal round((ln den − ln num)·10⁶)
    * taken branch by branch — two ln of exact integers in pinned
    * order, so both engines round bit-identically (exact-integer ln
    * args stay below 2⁵³ for corpora to ~5·10⁷ tokens; past that the
    * same 1-ulp libm caveat as the rest of the ln family applies). */
  private final case class Kn(d: Column, n: Column,
      fallback: Option[(Column, Kn)] = None) {
    private def branches(f: (Column, Column) => Column): Column = {
      def chain(w: Column, k: Kn): Column = k.fallback match {
        case None => w.otherwise(f(k.d, k.n))
        case Some((seen, lower)) => chain(w.when(seen, f(k.d, k.n)), lower)
      }
      fallback match {
        case None => f(d, n)
        case Some((seen, lower)) => chain(when(seen, f(d, n)), lower)
      }
    }
    def den: Column = branches((d, _) => d)
    def num: Column = branches((_, n) => n)
    def collapsed: Kn = Kn(den, num)
    def micro: Column =
      round(branches((d, n) => log(d) - log(n)) * lit(1000000.0d))
  }

  /** The bottom of every ladder: the add-one lower-order distribution
    * (lower + 1)/norm — p_uni = (u+1)/(N+V) for plain absolute
    * discounting, the KN continuation unigram p_cont = (cont+1)/(B+V)
    * (cont = distinct left contexts, B = bigram types) otherwise. A
    * held-out site's count may be absent and reads as 0. */
  private def knBase(norm: Column, lower: Column, positions: Boolean): Kn =
    Kn(norm, (if (positions) coalesce(lower, lit(0L)) else lower) + 1)

  /** THE interpolated Kneser-Ney rung (Chen & Goodman 1999 §4.1.6), with
    * discount D = 3/4 as an exact rational. For an n-gram with count c
    * whose context (its first n−1 tokens) occurs ctx times as a prefix
    * with `types` distinct continuations, over the lower-order
    * probability num'/den':
    *
    *   p = (c − D)/ctx + D·types/ctx · num'/den'
    *     ⇒ den = 4·ctx·den',  num = (4·c − 3)·den' + 3·types·num'
    *
    * — the interpolation weight D·types/ctx is exactly the mass the
    * discount freed. Stacking rungs gives every order's probability as
    * ONE exact rational, rounded once (Kn.micro).
    *
    * Position form: an unseen n-gram enters as max(4·c − 3, 0) = 0 (the
    * interpolation weight alone), and an unseen context falls back to
    * the lower rung (a seen context implies the lower context is
    * seen, so the rung stacks on the lower rung's top branch). */
  private def knRung(ctx: Column, c: Column, types: Column, lower: Kn,
                     positions: Boolean): Kn =
    if (positions)
      Kn(lit(4L) * ctx * lower.d,
        greatest(lit(4L) * coalesce(c, lit(0L)) - 3, lit(0L)) * lower.d +
          lit(3L) * types * lower.n,
        Some(ctx.isNotNull -> lower))
    else
      Kn(lit(4L) * ctx * lower.d,
        (lit(4L) * c - 3) * lower.d + lit(3L) * types * lower.n)

  /** The top-order bigram rung: [[knRung]] over the bigram (c12) with
    * prefix count c1 and t1types continuations, on [[knBase]]. */
  private def bigramKn(c1: Column, c12: Column, t1types: Column,
      lower: Column, norm: Column, positions: Boolean): Kn =
    knRung(c1, c12, t1types, knBase(norm, lower, positions), positions)

  /** The trigram-KN rational over the columns of [[trigramModelFrames]]:
    * two [[knRung]]s on the continuation base (cont, B+V). The middle
    * rung is KN's defining move one order up — the backoff bigram
    * distribution counts distinct LEFT CONTEXTS in the trigram table,
    * m23 = N1+(·t2t3) out of m2 = N1+(·t2·), not raw bigram frequency. */
  private def trigramKn(positions: Boolean): Kn = {
    val base = knBase(col("b") + col("v"), col("cont"), positions)
    knRung(col("c12"), col("c123"), col("t12types"),
      knRung(col("m2"), col("m23"), col("t2types"), base, positions),
      positions)
  }

  /** The COUNT-PRUNED rung for order n ∈ {4, 5} (KenLM's discipline:
    * keep the n-gram types with c ≥ θ, recompute the context stats —
    * `c<1..n−1>k` = Σ kept counts, `t<1..n−1>types` = kept
    * continuations — over the retained set only). Over the lower order's
    * COLLAPSED rational:
    *   kept:                   [[knRung]] — (4·c−3)·den' + 3·types·num'
    *   pruned, context kept:   num = 3·types·num' (the interpolation
    *                           weight alone — interpolated KN's
    *                           zero-count branch), den = 4·ctx·den'
    *   context entirely pruned: num'/den' (pure backoff)
    * `kept` is c ≥ θ in the type form and c IS NOT NULL in the position
    * form (its sites join the kept table only). */
  private def prunedRung(n: Int, kept: Column, lower: Kn): Kn = {
    val (ctx, c, types) = (col(s"c${knIds(n - 1)}k"), col(s"c${knIds(n)}"),
      col(s"t${knIds(n - 1)}types"))
    val (den, num) = (lower.den, lower.num)
    Kn(lit(4L) * ctx * den,
      when(kept, (lit(4L) * c - 3) * den + lit(3L) * types * num)
        .otherwise(lit(3L) * types * num),
      Some(ctx.isNotNull -> Kn(den, num)))
  }

  /** "12…n" — the column-name suffix of order n's statistics. */
  private def knIds(n: Int): String = (1 to n).mkString

  /** Per order: the n-gram column and the counted unit. */
  private def knGram(n: Int): String = Seq("bg", "tg", "qg", "pg")(n - 2)
  private def knUnit(n: Int): String =
    Seq("bigrams", "trigrams", "quadgrams", "fivegrams")(n - 2)

  /** The int64 headroom of each order's rational: every branch has
    * num ≤ den (a probability ≤ 1), and den is 4^(n−1) times the
    * product of the stacked context counts and B+V, so bounding that
    * product (as a double — it has headroom where the longs would WRAP
    * silently, log(negative) → NULL → sum() dropping the type while
    * the count still counts it; the oracle engine fails loudly) bounds
    * the whole rational. Measured max den at sf0.1: ≈3.4e11 (order 4),
    * ≈1.4e12 (order 5) — orders of magnitude of headroom. */
  private val knInt64Bounds: Map[Int, (String, Double)] = Map(
    3 -> ("c12*m2*(B+V) >= 5.7e17", 5.7e17),
    4 -> ("c123k*c12*m2*(B+V) >= 1.4e17", 1.4e17),
    5 -> ("c1234k*c123k*c12*m2*(B+V) >= 3.5e16", 3.5e16))

  /** The product of the guard factors, each as a double. */
  private def knBound(factors: Seq[Column]): Column =
    factors.map(_.cast("double")).reduce(_ * _)

  /** The one in-plan int64 guard of the KN ladder: `micro` as a long,
    * unless the bound product of `factors` reaches order n's limit —
    * then the job fails with the operator's name (and, in the type
    * form, the offending n-gram type; a held-out position row names
    * none). Past the limit, rescale the rational (divide both sides by
    * B+V, round once more). */
  private[graft] def knGuarded(n: Int, heldout: Boolean,
      factors: Seq[Column], micro: Column, hint: String = ""): Column = {
    val (what, limit) = knInt64Bounds(n)
    val msg = s"${knUnit(n).stripSuffix("s")} KN" +
      (if (heldout) " heldout" else "") + s": $what overflows the exact " +
      s"int64 rational — rescale the rational ${hint}before corpora " +
      "this size"
    val site = knGram(n)
    when(knBound(factors) >= lit(limit), raise_error(
        if (heldout) lit(msg)
        else concat(lit(s"$msg ($site="), col(site), lit(")"))))
      .otherwise(micro).cast("long")
  }

  /** The per-doc scorer of the type form: the exploded order-n stream
    * equi-joins the per-TYPE model `smodel` (n-gram column, s) on its
    * key — inner: every doc n-gram is a seen type by construction —
    * and ONE per-doc aggregate collapses it. Docs with < n tokens
    * carry 0/NULL via the left join back (no evidence). */
  private def knPerDoc(docs: DataFrame, n: Int,
                       smodel: DataFrame): DataFrame = {
    val (g, cnt) = (knGram(n), s"n_${knUnit(n)}")
    val perDoc = docs
      .select(col("doc_id"),
        explode(wordShingles(tokens(col("text")), n)).as(g))
      .join(smodel, g)
      .groupBy("doc_id")
      .agg(count(lit(1)).as(cnt), sum(col("s")).as("surprisal_micro"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col(cnt), lit(0L)).as(cnt),
        coalesce(col("surprisal_micro"), lit(0L)).as("surprisal_micro"),
        when(coalesce(col(cnt), lit(0L)) > 0,
          expr(s"surprisal_micro div $cnt")).as("mean_micro"))
  }

  /** (doc_id, text and the md5 holdout split label; its train rows). */
  private def heldoutTagged(docs: DataFrame, trainPct: Int,
                            valPct: Int): (DataFrame, DataFrame) = {
    val tagged = docs.select(col("doc_id"), col("text"),
      TextAnalysis.splitColumn(trainPct, valPct).as("split"))
    (tagged, tagged.filter(col("split") === "train"))
  }

  /** The held-out comparison of several models on the SAME order-n
    * sites: per split, the site count, the `unseen` sites and each
    * model's mean micro-nats (exact trunc division) — one aggregate,
    * one row per (model, split). */
  private def knHeldoutMeans(scored: DataFrame, n: Int, unseen: Column,
                             models: Seq[(String, Column)]): DataFrame = {
    val (sites, miss) = (s"n_${knUnit(n)}", s"unseen_${knUnit(n)}")
    val agg = scored
      .select(col("split") +: unseen.as("unseen") +:
        models.zipWithIndex.map { case ((_, s), i) => s.as(s"s$i") }: _*)
      .groupBy("split")
      .agg(count(lit(1)).as(sites),
        sum(when(col("unseen"), 1L).otherwise(0L)).as(miss) +:
          models.indices.map(i => sum(col(s"s$i")).as(s"sum$i")): _*)
    models.zipWithIndex.map { case ((model, _), i) =>
      agg.select(lit(model).as("model"), col("split"), col(sites),
        col(miss), expr(s"sum$i div $sites").as("mean_micro"))
    }.reduce(_.unionByName(_))
  }

  /** The bigram-KN model frames over a (possibly split-filtered)
    * corpus: bigram types (bg → c12), their prefix stats (t1 → c1,
    * t1types), unigram counts (t → u) and the token/type totals (n_tok,
    * v). bcnt and ucnt are checkpointed — each feeds a stats frame AND
    * a model join, so the corpus is scanned once per count frame. */
  private def bigramModelFrames(corpus: DataFrame):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bcnt = corpus
      .select(explode(wordShingles(tokens(col("text")), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val pstats = bcnt
      .groupBy(ngTok(col("bg"), 0).as("t1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("t1types"))
    val ucnt = corpus.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("u"))
      .localCheckpoint()
    val tot = ucnt.agg(sum(col("u")).as("n_tok"), count(lit(1)).as("v"))
    (bcnt, pstats, ucnt, tot)
  }

  /** Interpolated ABSOLUTE-DISCOUNT backoff bigram LM (the Kneser-Ney
    * direction; Chen & Goodman 1999 §2.7) — add-1 steals far too much
    * mass from seen bigrams (every unseen continuation gets a full
    * pseudo-count, so on real text the model over-penalizes
    * fluent-but-rare continuations; CCNet's actual gate is a KenLM
    * model built on exactly this smoothing family). Per seen bigram
    * the probability is [[bigramKn]] over the add-one unigram backstop
    * p_uni(t2) = (u2+1)/(N+V) (N/V = token/type totals).
    *
    * Scale shape — three vocab-sized map-side-combined aggregates
    * (bigram, prefix, unigram) build a per-TYPE model FRAME and
    * [[knPerDoc]] scores it: every stage is keyed and
    * map-side-combinable; nothing model-sized crosses a driver or a
    * broadcast (a bigram TYPE table is effectively unbounded on web
    * corpora — collapsing it into one driver-sized map row would be an
    * OOM at scale). */
  def bigramSurprisalKn(docs: DataFrame): DataFrame = {
    val (bcnt, pstats, ucnt, tot) = bigramModelFrames(docs)
    val smodel = bcnt
      .withColumn("t1", ngTok(col("bg"), 0))
      .withColumn("t2", ngTok(col("bg"), 1))
      .join(pstats, "t1")
      .join(ucnt, col("t2") === col("t"))
      .crossJoin(broadcast(tot))
      .select(col("bg"), bigramKn(col("c1"), col("c12"), col("t1types"),
        col("u"), col("n_tok") + col("v"), positions = false)
        .micro.cast("long").as("s"))
    knPerDoc(docs, 2, smodel)
  }

  def bigramSurprisalKnQuery(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalKn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Held-out add-1 vs absolute-discount-backoff vs KNESER-NEY bigram
    * comparison — lm_heldout_eval's train/test discipline pointed at
    * the SMOOTHER: the three models train on the md5 TRAIN split only,
    * every split is scored by all, and the test-split mean is the
    * measured answer to "does backoff beat add-1 where it matters — on
    * data the model has not seen?" (In-corpus scoring can't show this:
    * every bigram is seen there.) Per scored bigram:
    *   add1:    s = ln(c1 + V) − ln(c12 + 1)   (absent counts read 0)
    *   backoff: [[bigramKn]] over p_uni(t2) = (u2+1)/(N+V)
    *   kn_cont: [[bigramKn]] over the TRUE Kneser-Ney lower order, the
    *     continuation probability (cont2+1)/(B+V) (Kneser & Ney 1995):
    *     a word frequent only inside one collocation ("francisco")
    *     backs off LOW however high its raw count
    * in the position form (t1 unseen ⇒ the lower order alone).
    *
    * Scale shape: the scoring side EXPLODES the split-tagged bigram
    * stream and left-joins the four vocab-sized model tables (bigram,
    * prefix, unigram, continuation) on their keys — all map-side-
    * combinable keyed equi-joins, no broadcast map needed — then ONE
    * 9-row aggregate. */
  def lmHeldoutBigram(docs: DataFrame, trainPct: Int = 80,
                      valPct: Int = 10): DataFrame = {
    val (tagged, train) = heldoutTagged(docs, trainPct, valPct)
    val (bcnt, pstats, ucnt, tot) = bigramModelFrames(train)
    val cstats = bcnt
      .groupBy(ngTok(col("bg"), 1).as("t2"))
      .agg(count(lit(1)).as("cont"))
    val btot = bcnt.agg(count(lit(1)).as("b"))
    val scored = tagged
      .select(col("split"),
        explode(wordShingles(tokens(col("text")), 2)).as("bg"))
      .withColumn("bt1", ngTok(col("bg"), 0))
      .withColumn("bt2", ngTok(col("bg"), 1))
      .join(bcnt, Seq("bg"), "left")
      .join(pstats, col("bt1") === col("t1"), "left")
      .join(cstats, col("bt2") === col("t2"), "left")
      .join(ucnt, col("bt2") === col("t"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(btot))
    def backoff(lower: String, norm: Column) = bigramKn(col("c1"),
      col("c12"), col("t1types"), col(lower), norm, positions = true)
    knHeldoutMeans(scored, 2, col("c12").isNull, Seq(
      "add1" -> Kn(coalesce(col("c1"), lit(0L)) + col("v"),
        coalesce(col("c12"), lit(0L)) + 1).micro.cast("long"),
      "backoff" -> backoff("u", col("n_tok") + col("v")).micro.cast("long"),
      "kn_cont" -> backoff("cont", col("b") + col("v")).micro.cast("long")))
  }

  def lmHeldoutBigramQuery(spark: SparkSession, dir: String): DataFrame =
    lmHeldoutBigram(Tables.documents(spark, dir))
      .orderBy(col("model"), col("split"))

  /** The trigram-KN model frames over a (possibly split-filtered)
    * corpus, with the column names [[trigramKn]] reads: trigram types
    * (tg, c123), (t1 t2) prefix stats (p12 → c12, t12types), the
    * middle-order continuation table (s23 → m23) and its stats (mt2 →
    * m2, t2types), the bigram counts (bg, cb), the continuation-unigram
    * stats (ct3 → cont), the bigram-type total (b) and the vocabulary
    * size (v). Every frame is a map-side-combined keyed aggregate;
    * tcnt and bcnt are the checkpointed corpus counts. */
  private final case class TrigramFrames(tcnt: DataFrame,
      pstats: DataFrame, mid: DataFrame, mstats: DataFrame, bcnt: DataFrame,
      cstats: DataFrame, btot: DataFrame, vtot: DataFrame) {
    /** Applies `g` to the DERIVED frames; the corpus counts tcnt and bcnt
      * are already materialized and pass through as they are. */
    def mapDerived(g: DataFrame => DataFrame): TrigramFrames = TrigramFrames(
      tcnt, g(pstats), g(mid), g(mstats), bcnt, g(cstats), g(btot), g(vtot))
  }

  private def trigramModelFrames(corpus: DataFrame): TrigramFrames = {
    // the two corpus-scan count frames are REUSED (tcnt feeds pstats,
    // mid and the scorer join; bcnt feeds cstats and btot) — without a
    // checkpoint each reference replays the corpus scan
    // (lm_heldout_fivegram once planned 48 physical scans because every
    // order re-derived its counts). localCheckpoint materializes each
    // ONCE; all derived stats frames are vocab-sized aggregates over
    // the checkpointed RDD, scan-free.
    val tcnt = corpus
      .select(explode(wordShingles(tokens(col("text")), 3)).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("c123"))
      .localCheckpoint()
    val pstats = tcnt
      .groupBy(ngHead(col("tg"), 2).as("p12"))
      .agg(sum(col("c123")).as("c12"), count(lit(1)).as("t12types"))
    val mid = tcnt
      .select(ngTail(col("tg"), 2).as("s23"))
      .groupBy("s23").agg(count(lit(1)).as("m23"))
    val mstats = mid
      .groupBy(ngTok(col("s23"), 0).as("mt2"))
      .agg(sum(col("m23")).as("m2"), count(lit(1)).as("t2types"))
    val bcnt = corpus
      .select(explode(wordShingles(tokens(col("text")), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
      .localCheckpoint()
    val cstats = bcnt
      .groupBy(ngTok(col("bg"), 1).as("ct3"))
      .agg(count(lit(1)).as("cont"))
    val btot = bcnt.agg(count(lit(1)).as("b"))
    val vtot = corpus.select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    TrigramFrames(tcnt, pstats, mid, mstats, bcnt, cstats, btot, vtot)
  }

  /** Order-n type counts (g, c<1..n>) — checkpointed: they feed the
    * kept-prefix stats AND the scorer join, one corpus scan. */
  private def ngramCounts(corpus: DataFrame, n: Int): DataFrame =
    corpus
      .select(explode(wordShingles(tokens(col("text")), n)).as(knGram(n)))
      .groupBy(knGram(n)).agg(count(lit(1)).as(s"c${knIds(n)}"))
      .localCheckpoint()

  /** The kept-context stats of the pruned order n over the RETAINED
    * types only: p<1..n−1> → c<1..n−1>k, t<1..n−1>types — see
    * [[prunedRung]]. */
  private def keptPrefixStats(kept: DataFrame, n: Int): DataFrame = {
    val ids = knIds(n - 1)
    kept.groupBy(ngHead(col(knGram(n)), n - 1).as(s"p$ids"))
      .agg(sum(col(s"c${knIds(n)}")).as(s"c${ids}k"),
        count(lit(1)).as(s"t${ids}types"))
  }

  /** The pruned order-n model frames (n ∈ {4, 5}): ALL types with
    * counts (needed to score seen-but-pruned positions), the kept types
    * (c ≥ minCount) and their context stats. */
  private def prunedFrames(corpus: DataFrame, n: Int, minCount: Long):
      (DataFrame, DataFrame, DataFrame) = {
    val all = ngramCounts(corpus, n)
    val kept = all.filter(col(s"c${knIds(n)}") >= minCount)
    (all, kept, keptPrefixStats(kept, n))
  }

  /** Trigram-LM cross-entropy with INTERPOLATED KNESER-NEY smoothing
    * — the LM family one Markov order up from bigram_surprisal_kn, the
    * next honest step toward the 5-gram KenLM gate CCNet actually
    * ships. Per seen trigram TYPE the probability is [[trigramKn]],
    * rounded once to micro-nats.
    *
    * Integer bound (the vocab²-context size question, documented):
    * den = 16·c12·m2·(B+V). Both engines stay EXACT to 2⁶³ (the ln arg
    * is the same integer, cast to the same IEEE double even past 2⁵³,
    * so parity holds to int64's edge); [[knGuarded]] fails loudly
    * before it. Realistic skew keeps c12·m2·(B+V) < 5·10¹⁷ through
    * ~10⁸-token corpora.
    *
    * Scale shape — deliberately NOT a broadcast map: the trigram-type
    * model is vocab³-bounded (Heaps keeps it ≪ positions but ≫ the
    * bigram vocab — at 100 TB it is billions of rows and cannot
    * broadcast). The model is keyed joins over [[trigramModelFrames]],
    * scored by [[knPerDoc]]. */
  def trigramSurprisalKn(docs: DataFrame): DataFrame = {
    val f = trigramModelFrames(docs)
    val smodel = f.tcnt
      .withColumn("p12", ngHead(col("tg"), 2))
      .withColumn("s23", ngTail(col("tg"), 2))
      .join(f.pstats, "p12")
      .join(f.mid, "s23")
      .join(f.mstats, ngTok(col("s23"), 0) === col("mt2"))
      // every seen trigram's (t2,t3) is a seen bigram, so the
      // continuation join is inner by construction
      .join(f.cstats, ngTok(col("tg"), 2) === col("ct3"))
      .crossJoin(broadcast(f.btot)).crossJoin(broadcast(f.vtot))
      .select(col("tg"), knGuarded(3, heldout = false,
        Seq(col("c12"), col("m2"), col("b") + col("v")),
        trigramKn(positions = false).micro,
        hint = "(divide both sides by B+V, round once more) ").as("s"))
    knPerDoc(docs, 3, smodel)
  }

  def trigramSurprisalKnQuery(spark: SparkSession, dir: String): DataFrame =
    trigramSurprisalKn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Held-out trigram-KN vs bigram-KN on the SAME trigram positions —
    * lm_heldout_bigram's train/test discipline one order up, and the
    * apples-to-apples comparison that bigram frame cannot give (its
    * kn_cont row scores bigram positions): both models here score
    * every (t1 t2 → t3) prediction site, so the mean_micro gap IS the
    * value of the extra order of context on unseen data.
    *
    * kn_trigram is [[trigramKn]] in the position form (context seen ⇒
    * the full ladder; else t2 seen as a middle ⇒ the middle order
    * alone; else the continuation unigram); kn_bigram is
    * lm_heldout_bigram's kn_cont ladder on (t2, t3). Unseen rows share
    * exact integer inputs, so both engines round identically. */
  def lmHeldoutTrigram(docs: DataFrame, trainPct: Int = 80,
                       valPct: Int = 10): DataFrame = {
    val (tagged, train) = heldoutTagged(docs, trainPct, valPct)
    val f = trigramModelFrames(train)
    // bigram-KN stats for the comparison model, over the train-split
    // bigram counts the trigram frames already materialized
    val bpstats = f.bcnt
      .groupBy(ngTok(col("bg"), 0).as("bt1"))
      .agg(sum(col("cb")).as("bc1"), count(lit(1)).as("bt1types"))
    val scored = tagged
      .select(col("split"),
        explode(wordShingles(tokens(col("text")), 3)).as("tg"))
      .withColumn("p12", ngHead(col("tg"), 2))
      .withColumn("s23", ngTail(col("tg"), 2))
      .withColumn("t2", ngTok(col("tg"), 1))
      .withColumn("t3", ngTok(col("tg"), 2))
      .join(f.tcnt, Seq("tg"), "left")
      .join(f.pstats, Seq("p12"), "left")
      .join(f.mid, Seq("s23"), "left")
      .join(f.mstats, col("t2") === col("mt2"), "left")
      .join(f.cstats, col("t3") === col("ct3"), "left")
      .join(f.bcnt, col("s23") === col("bg"), "left")
      .join(bpstats, col("t2") === col("bt1"), "left")
      .crossJoin(broadcast(f.btot)).crossJoin(broadcast(f.vtot))
    knHeldoutMeans(scored, 3, col("c123").isNull, Seq(
      "kn_bigram" -> bigramKn(col("bc1"), col("cb"), col("bt1types"),
        col("cont"), col("b") + col("v"), positions = true)
        .micro.cast("long"),
      "kn_trigram" -> knGuarded(3, heldout = true,
        Seq(col("c12"), col("m2"), col("b") + col("v")),
        trigramKn(positions = true).micro)))
  }

  def lmHeldoutTrigramQuery(spark: SparkSession, dir: String): DataFrame =
    lmHeldoutTrigram(Tables.documents(spark, dir))
      .orderBy(col("model"), col("split"))

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020): CCNet
    * partitions each language's crawl into head/middle/tail by LM
    * perplexity and trains mostly on the head. The quantile cut is a
    * corpus-sized sort at 100 TB, so this ships the scale-honest form
    * CCNet itself computes first: the per-(lang, bucket) HISTOGRAM of
    * per-doc mean trigram-KN surprisal (fixed micro-nat bucket width —
    * exact integer floor-div, no sort, no window), with doc/trigram
    * counts and the in-bucket mean range. The head/middle/tail
    * thresholds are then read off the histogram's cumulative counts
    * (model-sized — |langs|·|buckets| rows) and applied as a map-only
    * filter; the histogram IS the partitioning decision artifact.
    * Docs with no trigram evidence land in bucket NULL — they need a
    * length gate, not a perplexity gate, and hiding them would
    * silently shrink the corpus. */
  def pplHistogram(docs: DataFrame,
                   bucketMicro: Long = 500000L): DataFrame = {
    require(bucketMicro >= 1)
    val scored = trigramSurprisalKn(docs)
    docs.select(col("doc_id"), col("lang"))
      .join(scored, "doc_id")
      .select(col("lang"),
        when(col("n_trigrams") > 0,
          expr(s"mean_micro div $bucketMicro")).as("bucket"),
        col("n_trigrams"), col("mean_micro"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_trigrams")).as("n_trigrams"),
        min(col("mean_micro")).as("min_mean_micro"),
        max(col("mean_micro")).as("max_mean_micro"))
  }

  def pplHistogramQuery(spark: SparkSession, dir: String): DataFrame =
    // asc_nulls_last: the NULL bucket (docs with < 3 tokens) must sort
    // where the oracle's ORDER BY puts it — DuckDB defaults NULLS LAST
    // while Spark defaults NULLS FIRST, a positional row-order mismatch
    // the moment a short doc exists
    pplHistogram(Tables.documents(spark, dir))
      .orderBy(col("lang"), col("bucket").asc_nulls_last)

  /** The pruned quadgram-KN EXACT RATIONAL per seen quadgram type —
    * (qg, c1234, den4, num4, bound4): [[prunedRung]] on the suffix
    * trigram's [[trigramKn]], unrounded, so the order-5 scorer can
    * stack its own rung on the same integers. bound4 carries the guard
    * product c123k·c12·m2·(B+V) as a double. The suffix-trigram joins
    * are inner by construction (a seen quadgram's suffix is a seen
    * trigram, its (t2 t3) a seen trigram prefix, its (t3 t4) a seen
    * middle pair); only qpstats is outer — a prefix with no kept types
    * falls to the pure-backoff branch. */
  private def quadgramRationalTypes(qall: DataFrame, qpstats: DataFrame,
      minCount: Long, f: TrigramFrames): DataFrame = {
    val quad = prunedRung(4, col("c1234") >= minCount,
      trigramKn(positions = false))
    qall
      .withColumn("p123", ngHead(col("qg"), 3))
      .withColumn("sfx", ngTail(col("qg"), 3))
      .join(qpstats, Seq("p123"), "left")
      .join(f.tcnt, col("sfx") === col("tg"))
      .join(f.pstats, ngHead(col("sfx"), 2) === col("p12"))
      .join(f.mid, ngTail(col("sfx"), 2) === col("s23"))
      .join(f.mstats, ngTok(col("sfx"), 1) === col("mt2"))
      .join(f.cstats, ngTok(col("sfx"), 2) === col("ct3"))
      .crossJoin(broadcast(f.btot)).crossJoin(broadcast(f.vtot))
      .select(col("qg"), col("c1234"), quad.den.as("den4"),
        quad.num.as("num4"), knBound(Seq(coalesce(col("c123k"), lit(1L)),
          col("c12"), col("m2"), col("b") + col("v"))).as("bound4"))
  }

  /** The per-type scorer shared by quadgramSurprisalKn and
    * knPruneCurve: every SEEN quadgram type → (qg, c1234, s). */
  private def scoreQuadgramTypes(qrat: DataFrame): DataFrame =
    qrat.select(col("qg"), col("c1234"), knGuarded(4, heldout = false,
      Seq(col("bound4")), Kn(col("den4"), col("num4")).micro).as("s"))

  /** Quadgram-LM cross-entropy with COUNT-PRUNED interpolated
    * Kneser-Ney — the order-4 rung of the LM ladder, and the first one
    * where the model table CANNOT ship whole: at web scale the raw
    * quadgram-type table outgrows vocab³ by another Heaps factor, so
    * the standard KenLM move applies — keep only types with c1234 ≥
    * minCount (singleton pruning at θ=2 drops ~82% of types on the test
    * corpus) and let pruned positions back off ([[prunedRung]]). The
    * backoff distribution is the unpruned [[trigramKn]], so pruning
    * bites exactly where the blowup is: the top order. Keyed joins end
    * to end (the quadgram table is exactly what must NEVER broadcast),
    * scored by [[knPerDoc]]; den = 64·c123k·c12·m2·(B+V) is guarded by
    * [[knGuarded]]. */
  def quadgramSurprisalKn(docs: DataFrame,
                          minCount: Long = 2L): DataFrame = {
    require(minCount >= 1)
    val f = trigramModelFrames(docs)
    val (qall, _, qpstats) = prunedFrames(docs, 4, minCount)
    knPerDoc(docs, 4,
      scoreQuadgramTypes(quadgramRationalTypes(qall, qpstats, minCount, f)))
  }

  def quadgramSurprisalKnQuery(spark: SparkSession, dir: String): DataFrame =
    quadgramSurprisalKn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The pruning-threshold CURVE — the measurement that justifies the
    * θ knob: for each threshold, the model's row count (what ships)
    * against the corpus-level mean surprisal (what pruning costs).
    * Positions need no re-scan per θ: Σ_positions s = Σ_types c1234·s,
    * so the curve is |thetas| keyed joins over the SAME type table —
    * the corpus is touched once for qall, once for the trigram
    * frames. A flat mean_micro next to a collapsing kept_types is the
    * green light to prune; a jumping mean is the alarm. */
  def knPruneCurve(docs: DataFrame,
                   thetas: Seq[Long] = Seq(1L, 2L, 4L)): DataFrame = {
    require(thetas.nonEmpty && thetas.forall(_ >= 1))
    // the derived model-sized frames are reused |thetas| times —
    // checkpoint them so their aggregates don't replay per threshold
    val f = trigramModelFrames(docs).mapDerived(_.localCheckpoint())
    val qall = ngramCounts(docs, 4)
    thetas.map { th =>
      scoreQuadgramTypes(quadgramRationalTypes(qall,
          keptPrefixStats(qall.filter(col("c1234") >= th), 4), th, f))
        .agg(
          sum(when(col("c1234") >= th, 1L).otherwise(0L)).as("kept_types"),
          count(lit(1)).as("total_types"),
          sum(col("c1234")).as("n_positions"),
          sum(col("c1234") * col("s")).as("sum_micro"))
        .select(lit(th).as("theta"), col("kept_types"), col("total_types"),
          col("n_positions"),
          expr("sum_micro div n_positions").as("mean_micro"))
    }.reduce(_.unionByName(_))
  }

  def knPruneCurveQuery(spark: SparkSession, dir: String): DataFrame =
    knPruneCurve(Tables.documents(spark, dir)).orderBy(col("theta"))

  /** Left-joins the train-split trigram frames onto held-out sites whose
    * last three tokens are (a, b, c), already concatenated in column
    * `sfx` — the position-form inputs of [[trigramKn]] — plus the
    * broadcast totals. */
  private def joinTrigramSites(sites: DataFrame, f: TrigramFrames,
      sfx: String, a: Column, b: Column, c: Column): DataFrame =
    sites
      .join(f.tcnt, col(sfx) === col("tg"), "left")
      .join(f.pstats, concat_ws(" ", a, b) === col("p12"), "left")
      .join(f.mid, concat_ws(" ", b, c) === col("s23"), "left")
      .join(f.mstats, b === col("mt2"), "left")
      .join(f.cstats, c === col("ct3"), "left")
      .crossJoin(broadcast(f.btot)).crossJoin(broadcast(f.vtot))

  /** Held-out quadgram-KN (pruned) vs trigram-KN on the SAME quadgram
    * positions — lmHeldoutTrigram's frame one order up: both models
    * score every (t1 t2 t3 → t4) prediction site from train-split
    * statistics, so the mean_micro gap IS the value of the fourth
    * order net of pruning, and `unseen_quadgrams` counts kept-model
    * misses (pruned types score as misses — they are misses, that is
    * what shipping a pruned model means). kn_trigram is the
    * position-form [[trigramKn]] on the suffix (t2 t3 t4); kn_quadgram
    * stacks [[prunedRung]] on it. */
  def lmHeldoutQuadgram(docs: DataFrame, minCount: Long = 2L,
                        trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(minCount >= 1)
    val (tagged, train) = heldoutTagged(docs, trainPct, valPct)
    val f = trigramModelFrames(train)
    val (_, qkept, qpstats) = prunedFrames(train, 4, minCount)
    val sites = tagged
      .select(col("split"),
        explode(wordShingles(tokens(col("text")), 4)).as("qg"))
      .withColumn("p123", ngHead(col("qg"), 3))
      .withColumn("t2", ngTok(col("qg"), 1))
      .withColumn("t3", ngTok(col("qg"), 2))
      .withColumn("t4", ngTok(col("qg"), 3))
      .withColumn("sfx", concat_ws(" ", col("t2"), col("t3"), col("t4")))
      .join(qkept, Seq("qg"), "left")
      .join(qpstats, Seq("p123"), "left")
    val tri = trigramKn(positions = true).collapsed
    knHeldoutMeans(
      joinTrigramSites(sites, f, "sfx", col("t2"), col("t3"), col("t4")),
      4, col("c1234").isNull, Seq(
        // the den-only guard of both legs, absent branch components
        // coalesced to their bound-neutral 1
        "kn_trigram" -> knGuarded(4, heldout = true,
          Seq(coalesce(col("c123k"), lit(1L)), coalesce(col("c12"), lit(1L)),
            coalesce(col("m2"), lit(1L)), col("b") + col("v")), tri.micro),
        "kn_quadgram" -> prunedRung(4, col("c1234").isNotNull, tri)
          .micro.cast("long")))
  }

  def lmHeldoutQuadgramQuery(spark: SparkSession, dir: String): DataFrame =
    lmHeldoutQuadgram(Tables.documents(spark, dir))
      .orderBy(col("model"), col("split"))

  /** Fivegram-LM cross-entropy with count-pruned interpolated
    * Kneser-Ney — the order CCNet's KenLM gate actually ships (Wenzek
    * et al. 2020 train a 5-gram model; KenLM's own pruning keeps it
    * storable). Both top orders are pruned (θ₄ for the quadgram
    * backoff, θ₅ for the top): [[prunedRung]] on the pruned quadgram
    * rational on [[trigramKn]] — the full ladder, every branch one exact
    * int64 rational rounded ONCE to micro-nats.
    *
    * Scale shape — the trigram discipline two orders up: the
    * fivegram-type table is the most explosive frame in the repo and
    * must NEVER broadcast; every model join is a keyed equi-join
    * (the suffix-quadgram join is inner by construction: a seen
    * fivegram's suffix is a seen quadgram), scored by [[knPerDoc]].
    * den = 256·c1234k·c123k·c12·m2·(B+V) is guarded by [[knGuarded]]. */
  def fivegramSurprisalKn(docs: DataFrame, minCount4: Long = 2L,
                          minCount5: Long = 2L): DataFrame = {
    require(minCount4 >= 1 && minCount5 >= 1)
    val f = trigramModelFrames(docs)
    val (qall, _, qpstats) = prunedFrames(docs, 4, minCount4)
    val qrat = quadgramRationalTypes(qall, qpstats, minCount4, f)
    val (pall, _, ppstats) = prunedFrames(docs, 5, minCount5)
    val five = prunedRung(5, col("c12345") >= minCount5,
      Kn(col("den4"), col("num4")))
    val smodel = pall
      .withColumn("pfx4", ngHead(col("pg"), 4))
      .withColumn("sfx4", ngTail(col("pg"), 4))
      .join(ppstats, col("pfx4") === col("p1234"), "left")
      .join(qrat, col("sfx4") === col("qg"))
      .select(col("pg"), knGuarded(5, heldout = false,
        Seq(coalesce(col("c1234k"), lit(1L)), col("bound4")),
        five.micro).as("s"))
    knPerDoc(docs, 5, smodel)
  }

  def fivegramSurprisalKnQuery(spark: SparkSession, dir: String): DataFrame =
    fivegramSurprisalKn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Held-out PRUNED fivegram-KN vs pruned quadgram-KN on the SAME
    * fivegram prediction sites — lmHeldoutQuadgram's frame one order
    * up, closing the heldout ladder at the order CCNet ships: both
    * models score every (t1..t4 → t5) site from train-split stats, so
    * the mean_micro gap IS the value of the fifth order net of
    * pruning, and `unseen_fivegrams` counts kept-model misses.
    * kn_quadgram is lmHeldoutQuadgram's ladder on the suffix quadgram
    * (t2..t5); kn_fivegram stacks [[prunedRung]] on it. */
  def lmHeldoutFivegram(docs: DataFrame, minCount4: Long = 2L,
                        minCount5: Long = 2L, trainPct: Int = 80,
                        valPct: Int = 10): DataFrame = {
    require(minCount4 >= 1 && minCount5 >= 1)
    val (tagged, train) = heldoutTagged(docs, trainPct, valPct)
    val f = trigramModelFrames(train)
    val (_, qkept, qpstats) = prunedFrames(train, 4, minCount4)
    val (_, pkept, ppstats) = prunedFrames(train, 5, minCount5)
    val sites = tagged
      .select(col("split"),
        explode(wordShingles(tokens(col("text")), 5)).as("pg"))
      .withColumn("t2", ngTok(col("pg"), 1))
      .withColumn("t3", ngTok(col("pg"), 2))
      .withColumn("t4", ngTok(col("pg"), 3))
      .withColumn("t5", ngTok(col("pg"), 4))
      .withColumn("pfx4", ngHead(col("pg"), 4))
      .withColumn("sfx4", concat_ws(" ", col("t2"), col("t3"), col("t4"),
        col("t5")))
      .withColumn("sfx3", concat_ws(" ", col("t3"), col("t4"), col("t5")))
      .join(pkept, Seq("pg"), "left")
      .join(ppstats, col("pfx4") === col("p1234"), "left")
      .join(qkept, col("sfx4") === col("qg"), "left")
      .join(qpstats, concat_ws(" ", col("t2"), col("t3"), col("t4"))
        === col("p123"), "left")
    val quad = prunedRung(4, col("c1234").isNotNull,
      trigramKn(positions = true))
    knHeldoutMeans(
      joinTrigramSites(sites, f, "sfx3", col("t3"), col("t4"), col("t5")),
      5, col("c12345").isNull, Seq(
        "kn_quadgram" -> knGuarded(5, heldout = true,
          Seq(coalesce(col("c1234k"), lit(1L)),
            coalesce(col("c123k"), lit(1L)), coalesce(col("c12"), lit(1L)),
            coalesce(col("m2"), lit(1L)), col("b") + col("v")),
          quad.collapsed.micro),
        "kn_fivegram" -> prunedRung(5, col("c12345").isNotNull, quad)
          .micro.cast("long")))
  }

  def lmHeldoutFivegramQuery(spark: SparkSession, dir: String): DataFrame =
    lmHeldoutFivegram(Tables.documents(spark, dir))
      .orderBy(col("model"), col("split"))

  /** Token-distribution drift between two corpus slices — the
    * monitoring operator a continuously-crawled pipeline runs before
    * admitting a new batch: KL(new ‖ base) decomposed PER TOKEN TYPE,
    * so a drifted ingest doesn't just trip a scalar alarm, it names
    * the tokens driving the shift.
    *
    * Per type t (add-1 smoothed over the UNION vocab V, so both sides
    * are proper distributions even for tokens one side lacks):
    *   q̂(t) = (cnt_new+1)/(tot_new+V),  p̂(t) = (cnt_base+1)/(tot_base+V)
    *   contrib(t) = q̂(t) · ln(q̂(t)/p̂(t))
    * rounded ONCE per type to integer micro-nats with the four ln
    * terms in pinned left-to-right order; Σ contrib = KL + the smoothing
    * bias, and `driver` flags |contrib| ≥ driverMicro. contrib < 0
    * (token LESS common in new) is reported too — direction matters
    * for diagnosis.
    *
    * Scale shape: two map-side-combined counts keyed by token type
    * collapse the corpus to vocab-sized frames; base/new align with a
    * full-outer join on t (vocab-sized); the three scalars (totals, V)
    * broadcast. The corpus itself is touched exactly once, map-only
    * past the partial aggregate. */
  def vocabKlDrift(docs: DataFrame, isNew: Column,
                   driverMicro: Long = 300L): DataFrame = {
    val occ = docs.select(isNew.as("is_new"),
      explode(tokens(col("text"))).as("t"))
    val cnts = occ.groupBy("t").agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("cnt_base"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("cnt_new"))
      .localCheckpoint() // reused by tots + the scorer — one corpus scan
    val tots = cnts.agg(sum(col("cnt_base")).as("tot_base"),
      sum(col("cnt_new")).as("tot_new"), count(lit(1)).as("v"))
    cnts.crossJoin(broadcast(tots))
      .select(col("t"), col("cnt_base"), col("cnt_new"),
        round(((col("cnt_new") + 1) / (col("tot_new") + col("v")))
          * (log(col("cnt_new") + 1) - log(col("tot_new") + col("v"))
            - log(col("cnt_base") + 1) + log(col("tot_base") + col("v")))
          * lit(1000000.0d)).cast("long").as("kl_contrib_micro"))
      .withColumn("driver", abs(col("kl_contrib_micro")) >= driverMicro)
  }

  def vocabKlDriftQuery(spark: SparkSession, dir: String): DataFrame =
    vocabKlDrift(Tables.documents(spark, dir), col("source").isin("src0", "src1"))
      .orderBy(col("t"))

  // ------------------------------------------------- linear quality model

  /** The default classifier weights — one ROW, not hardcoded literals
    * in the scoring plan, so trained weights substitute without
    * touching the operator. Columns: intercept + one weight per
    * feature, all integer (the model's fixed-point contract). */
  def defaultQualityWeights(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((-130000L, 8L, 20L, 9L, 120L))
      .toDF("w0", "w_alpha", "w_stop", "w_ttr", "w_len")
  }

  /** Linear quality-classifier INFERENCE (the fasttext/logreg serving
    * shape): score = w0 + w·x over exact integer features — alpha and
    * stopword mass in basis points, type-token ratio in basis points,
    * and the token count. The logistic link is strictly monotone, so
    * the keep decision `sigmoid(score) > 0.5` is EXACTLY `score > 0` —
    * evaluated on the BIGINT score with no exp/division anywhere
    * (the same no-float discipline as the τ tests; a probability
    * column would add a cross-engine libm dependency for zero
    * decision-relevant information).
    *
    * Scale shape: the model is ONE broadcast row; features and score
    * are in-row expressions — the whole operator is map-only, zero
    * shuffles at any corpus size. Trained weights arrive as a
    * different one-row `weights` frame (the output of any external
    * trainer), making this the inference half of a logreg pipeline.
    */
  /** The shared integer feature block — ONE definition for inference
    * (qualityLogreg) and training (qualityTrain), so the trained
    * weights can never score different features than they trained on. */
  private[graft] def qualityFeatures(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        expr("(10000 * length(regexp_replace(text, '[^a-z]', ''))) div length(text)")
          .as("alpha_bp"),
        (lit(10000L) * size(filter(toks, t => t.isin(TextAnalysis.enStop: _*))))
          .as("stop_n"),
        (lit(10000L) * size(array_distinct(toks))).as("ttr_n"))
      .select(col("doc_id"), col("n_words"), col("alpha_bp"),
        expr("stop_n div n_words").as("stop_bp"),
        expr("ttr_n div n_words").as("ttr_bp"))
  }

  def qualityLogreg(docs: DataFrame, weights: DataFrame): DataFrame =
    qualityFeatures(docs)
      .crossJoin(broadcast(weights))
      .select(col("doc_id"), col("n_words"), col("alpha_bp"),
        col("stop_bp"), col("ttr_bp"),
        (col("w0") + col("w_alpha") * col("alpha_bp")
          + col("w_stop") * col("stop_bp") + col("w_ttr") * col("ttr_bp")
          + col("w_len") * col("n_words")).as("score"))
      .withColumn("keep", col("score") > 0)

  def qualityLogregQuery(spark: SparkSession, dir: String): DataFrame =
    qualityLogreg(Tables.documents(spark, dir),
      defaultQualityWeights(spark)).orderBy(col("doc_id"))

  /** EXACT AUC of the linear quality score against the Gopher rule
    * gate as reference labels — "does the cheap learned score rank
    * docs the way the curated rule set would keep them?", the
    * calibration eval run before trusting a classifier to replace a
    * rule stack. AUC is the Mann–Whitney U statistic normalized by
    * P·N; U is computed EXACTLY in doubled integer units
    * (u2 = 2·wins + ties, so the tie credit of ½ needs no fraction):
    * group docs into a SCORE HISTOGRAM, take one exclusive cumulative
    * of negatives over the histogram, and u2 = Σ nPos·(2·negBelow +
    * negAtSame) — a BIGINT, bit-identical cross-engine; auc_bp =
    * 10000·u2 div (2·P·N).
    *
    * Scale shape: the per-doc pass is two map-only scorers + a keyed
    * join; the cumulative runs over the |distinct score| histogram
    * (bounded by the integer feature space — the qualityFloor
    * histogram discipline; at extreme score cardinality the same
    * two-phase bucket prefix-sum as out_of_order_stats applies). */
  def scoreAucEval(docs: DataFrame): DataFrame =
    scoreAucEvalWith(docs, defaultQualityWeights(docs.sparkSession))

  /** The AUC instrument over ANY weight frame — shared by the
    * default-model eval (row 203) and the trained-model eval (row
    * 225), so both read the same U statistic. */
  def scoreAucEvalWith(docs: DataFrame, weights: DataFrame): DataFrame = {
    val scores = qualityLogreg(docs, weights)
      .select(col("doc_id"), col("score"))
    val labels = gopherRules(docs).select(col("doc_id"), col("keep"))
    val hist = scores.join(labels, "doc_id")
      .groupBy("score")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("nn"))
    val wCum = W.orderBy(col("score")).rowsBetween(W.unboundedPreceding, -1)
    hist
      .withColumn("neg_below", coalesce(sum(col("nn")).over(wCum), lit(0L)))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (lit(2L) * col("neg_below") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("(10000 * u2) div (2 * n_pos * n_neg)").as("auc_bp"))
  }

  def scoreAucEvalQuery(spark: SparkSession, dir: String): DataFrame =
    scoreAucEval(Tables.documents(spark, dir))

  /** EXACT-ARITHMETIC TRAINING of the linear quality classifier —
    * closing the loop the r11 AUC eval opened (the DEFAULT weights
    * measured auc_bp 4483, worse than chance, an honest indictment of
    * hand-set weights): full-batch gradient descent against the
    * Gopher rule gate as labels, every step bit-reproducible
    * cross-engine.
    *
    * The determinism discipline (trainIvfCentroidsExact's, applied to
    * GD): features are the shared integer block (bias cell fixed at
    * 1000); the margin S = Σ wⱼfⱼ is an exact BIGINT (|w| ≲ 10⁶,
    * f ≤ 10⁴ — products inside 2^53); the link is the HARD sigmoid
    * clamp(½ + S/4·10¹⁰, 0, 1) — the Hinton/Courbariaux 2016
    * piecewise-linear surrogate chosen here because it contains NO
    * transcendental (exp would hang every weight on libm's last ulp;
    * the prototype measured identical AUC for both links); the
    * per-doc error rounds ONCE to micro units; gradients are exact
    * BIGINT sums Σ e·fⱼ (holds to ~10⁸ docs; beyond, promote to
    * decimal(38)); the update w += G div stepDiv is a truncating
    * integer division — both engines' `div`/`//`. No float state
    * crosses an iteration.
    *
    * Output: the weight TRAJECTORY, one row per iteration (w0 is the
    * bias-cell weight; intercept = 1000·w0). Measured on sf0.01: the
    * trained weights lift auc_bp from 4483 to 6844
    * (score_auc_trained).
    *
    * Scale shape: ONE corpus pass builds the checkpointed (features,
    * label) frame; each iteration is one map-side-combined 5-column
    * aggregate over it with weights as plan literals — the 1-row
    * gradient collect is model-sized by definition (the trainBpe /
    * trainIvfCentroids loop precedent). */
  def qualityTrain(docs: DataFrame, iters: Int = 10,
                   stepDiv: Long = 10000000L): DataFrame = {
    require(iters >= 1 && stepDiv >= 1)
    val spark = docs.sparkSession
    val labels = gopherRules(docs).select(col("doc_id"), col("keep"))
    val fx = qualityFeatures(docs).join(labels, "doc_id")
      .select(lit(1000L).as("f0"), col("alpha_bp").as("f1"),
        col("stop_bp").as("f2"), col("ttr_bp").as("f3"),
        col("n_words").as("f4"),
        when(col("keep"), lit(1.0d)).otherwise(lit(0.0d)).as("y"))
      .localCheckpoint()
    var w = Array.fill(5)(0L)
    val traj = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long, Long)]
    for (t <- 1 to iters) {
      val s = (0 until 5).map(j => col(s"f$j") * lit(w(j)))
        .reduce(_ + _)
      val sig = least(lit(1.0d), greatest(lit(0.0d),
        lit(0.5d) + s.cast("double") / lit(4.0e10d)))
      val e = round((col("y") - sig) * lit(1000000.0d)).cast("long")
      val gCols = (0 until 5).map(j => sum(e * col(s"f$j")).as(s"g$j"))
      val g = fx.agg(gCols.head, gCols.tail: _*).collect()(0)
      w = Array.tabulate(5)(j => w(j) + g.getLong(j) / stepDiv)
      traj += ((t, w(0), w(1), w(2), w(3), w(4)))
    }
    import spark.implicits._
    traj.toSeq.toDF("iter", "w0", "w_alpha", "w_stop", "w_ttr", "w_len")
  }

  def qualityTrainQuery(spark: SparkSession, dir: String): DataFrame =
    qualityTrain(Tables.documents(spark, dir)).orderBy(col("iter"))

  /** The trained weights as qualityLogreg's one-row frame (intercept
    * = 1000 · bias-cell weight). */
  def trainedQualityWeights(docs: DataFrame, iters: Int = 10,
                            stepDiv: Long = 10000000L): DataFrame = {
    import docs.sparkSession.implicits._
    val last = qualityTrain(docs, iters, stepDiv)
      .orderBy(col("iter").desc).limit(1).collect()(0)
    Seq((last.getLong(1) * 1000L, last.getLong(2), last.getLong(3),
      last.getLong(4), last.getLong(5)))
      .toDF("w0", "w_alpha", "w_stop", "w_ttr", "w_len")
  }

  /** Row 203's instrument pointed at the TRAINED model — the measured
    * answer to "did training beat the hand-set weights?" (yes:
    * 4483 → 6844 bp at sf0.01). */
  def scoreAucTrainedQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    scoreAucEvalWith(docs, trainedQualityWeights(docs))
  }

  /** HELD-OUT evaluation of the unigram LM — the train/test discipline
    * the surprisal scorers themselves need (lm_surprisal trains and
    * scores on the SAME stream, so its numbers can't reveal
    * overfitting; this instrument can): the model trains on the md5
    * holdout TRAIN split only (holdoutSplit's exact bucket rule), then
    * every split is scored with it — per split, token volume, OOV
    * share, and mean surprisal in micro-nats. test-vs-train mean gap =
    * the generalization gap; the OOV rate is the vocabulary's
    * coverage decay on unseen data.
    *
    * OOV tokens score as count-1 types (s_unk = ln(total) micro — the
    * classic unseen≈hapax backstop): deterministic, one extra rounded
    * transcendental of the SAME class lm_surprisal already carries.
    *
    * Scale shape: lm_surprisal's — train counts map-side-combined, the
    * model ONE broadcast map row + one scalar, scoring map-only per
    * doc, then a 3-row split aggregate. */
  def lmHeldoutEval(docs: DataFrame, trainPct: Int = 80,
                    valPct: Int = 10): DataFrame = {
    val (tagged, train) = heldoutTagged(docs, trainPct, valPct)
    val toks = train.select(explode(tokens(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
    val model = vocab
      .agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("vtypes"),
        collect_list(struct(col("t"), col("cnt"))).as("entries"))
      .select(
        guardedModelMap("lm_heldout_eval", col("vtypes"),
          map_from_entries(transform(col("entries"), e =>
            struct(e.getField("t"),
              round((log(col("total")) - log(e.getField("cnt")))
                * lit(1000000.0d)).cast("long"))))).as("smap"),
        round(log(col("total")) * lit(1000000.0d)).cast("long").as("unk"))
    tagged.crossJoin(broadcast(model))
      .select(col("split"), tokens(col("text")).as("toks"),
        col("smap"), col("unk"))
      .select(col("split"),
        size(col("toks")).cast("long").as("n_toks"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + coalesce(element_at(col("smap"), t), col("unk")))
          .as("s_micro"),
        size(filter(col("toks"),
          t => element_at(col("smap"), t).isNull)).cast("long").as("oov"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("oov")).as("oov_tokens"),
        sum(col("s_micro")).as("sm"))
      .select(col("split"), col("n_docs"), col("n_tokens"),
        col("oov_tokens"),
        expr("(10000 * oov_tokens) div n_tokens").as("oov_bp"),
        expr("sm div n_tokens").as("mean_micro"))
  }

  def lmHeldoutEvalQuery(spark: SparkSession, dir: String): DataFrame =
    lmHeldoutEval(Tables.documents(spark, dir)).orderBy(col("split"))

  /** CALIBRATION curve of the trained quality classifier — AUC says
    * the model RANKS well; calibration says whether its probabilities
    * MEAN anything (a score used as a mixture weight or sampling
    * temperature needs calibrated mass, not just order): bin docs by
    * predicted keep-probability decile, report each bin's mean
    * predicted probability vs the OBSERVED Gopher-keep rate and the
    * |gap| — the reliability-diagram rows whose n-weighted gap sum is
    * ECE (Naeini et al. 2015).
    *
    * The probability is the TRAINING link itself in integer micro
    * units: p_micro = clamp(500000 + S div 40000, 0, 10⁶) — the same
    * hard sigmoid clamp(½ + S/4·10¹⁰) the GD loop optimized
    * (transcendental-free; div truncates toward zero identically in
    * both engines), so the curve audits exactly the quantity the
    * trainer fit. Bins are RANGE-NORMALIZED over the observed
    * [min, max] of p_micro (the GD margins are small against the
    * sigmoid scale, so fixed probability deciles would collapse into
    * one bin — range bins keep the diagram informative however narrow
    * the model's probability band is; the narrowness itself shows in
    * mean_pred_bp's span).
    *
    * Scale shape: two map-only scorers + a keyed join, then ONE
    * map-side-combined 10-row groupBy; the (min, max) is a 1-row
    * scalar aggregate broadcast back — nothing corpus-sized ever
    * shuffles; the trained weights are the collected model row
    * (quality_train's contract). */
  /** The shared reliability-bin aggregate (bin, n_docs, sp, n_pos) —
    * ONE definition for the diagram (qualityCalibration) and the
    * calibrator (qualityCalibrated), so the calibrator can never fit
    * different bins than the diagram reports. */
  /** (doc_id, p_micro, keep) — the hard-sigmoid probability under the
    * trained weights + the Gopher reference label, shared by the bin
    * aggregate and the streaming gate's frozen-model builder. */
  private[graft] def calibrationScored(docs: DataFrame,
                                       weights: DataFrame): DataFrame = {
    val scores = qualityLogreg(docs, weights)
      .select(col("doc_id"), col("score"))
    val labels = gopherRules(docs).select(col("doc_id"), col("keep"))
    scores.join(labels, "doc_id")
      .withColumn("p_micro", greatest(lit(0L),
        least(lit(1000000L), lit(500000L) + expr("score div 40000"))))
  }

  private[graft] def calibrationBins(docs: DataFrame): DataFrame =
    calibrationBinsWith(docs, trainedQualityWeights(docs))

  /** Bins against ALREADY-trained weights — so a caller that holds the
    * trained frame (CalibratedGateStream.model) never re-runs the
    * 10-iteration GD loop just to bin. */
  private[graft] def calibrationBinsWith(docs: DataFrame,
                                         weights: DataFrame): DataFrame = {
    val p = calibrationScored(docs, weights)
    val bounds = p.agg(min(col("p_micro")).as("mn"),
      max(col("p_micro")).as("mx"))
    p.crossJoin(broadcast(bounds))
      .withColumn("bin",
        least(expr("((p_micro - mn) * 10) div (mx - mn + 1)"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p_micro")).as("sp"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"))
  }

  def qualityCalibration(docs: DataFrame): DataFrame =
    calibrationBins(docs)
      .select(col("bin"), col("n_docs"),
        expr("sp div (100 * n_docs)").as("mean_pred_bp"),
        expr("(10000 * n_pos) div n_docs").as("obs_pos_bp"))
      .withColumn("gap_bp", abs(col("mean_pred_bp") - col("obs_pos_bp")))

  def qualityCalibrationQuery(spark: SparkSession, dir: String): DataFrame =
    qualityCalibration(Tables.documents(spark, dir)).orderBy(col("bin"))

  /** Pool-adjacent-violators (isotonic regression) over the dense-
    * indexed bin rows (bin, n, pos): repeatedly merge the LEFTMOST
    * adjacent pool pair whose observed rate DECREASES left→right
    * (strictly — ties stand), until the pooled rates are monotone.
    * Rate comparison is the exact cross-multiplication
    * pos_b·n_a < pos_a·n_b — no division, no floats — so the loop
    * replays bit-for-bit as the oracle's unrolled MATERIALIZED passes.
    * Pools are (loIdx, hiIdx, n, pos) over 0-based dense positions.
    * ≤ bins−1 merges, so the 9-pass oracle unroll is exact for 10
    * bins (converged passes are idempotent). */
  private[graft] def pavPools(rows: Seq[(Long, Long)])
      : Seq[(Int, Int, Long, Long)] = {
    var pools = rows.indices
      .map(i => (i, i, rows(i)._1, rows(i)._2)).toVector
    var changed = true
    while (changed) {
      (1 until pools.length).find(j =>
        pools(j)._4 * pools(j - 1)._3 < pools(j - 1)._4 * pools(j)._3) match {
        case Some(i) =>
          val a = pools(i - 1); val b = pools(i)
          pools = (pools.take(i - 1) :+
            ((a._1, b._2, a._3 + b._3, a._4 + b._4))) ++ pools.drop(i + 1)
        case None => changed = false
      }
    }
    pools
  }

  /** quality_calibrated — the monotone CALIBRATOR the r13 verdict
    * asked for (directive #3): quality_calibration measured the
    * trained model rank-good but calibration-poor (observed keep-rate
    * climbs 0→8200 bp across bins while the predicted probability sits
    * flat ~5100 bp), so raw probabilities are unusable as mixture
    * weights. Isotonic regression via PAV over the SAME reliability
    * bins (the calibration-set convention; Zadrozny & Elkan 2002)
    * replaces each bin's prediction with its pool's observed rate —
    * the least-squares monotone fit. cal_bp is the calibrated
    * keep-probability a mixture policy can actually use; gap_bp =
    * |cal − observed| is the residual within-pool deviation (zero for
    * unpooled bins), and its mean vs quality_calibration's is the
    * measured improvement (spec-asserted).
    *
    * Scale shape: everything corpus-sized is calibrationBins' (two
    * map-only scorers + one 10-row aggregate); PAV runs driver-side
    * over the collected ≤10-row bin table (the mixture_plan solver
    * contract) and ships back as a literal frame. */
  def qualityCalibrated(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val rows = calibrationBins(docs)
      .select(col("bin"), col("n_docs"), col("sp"), col("n_pos"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val pools = pavPools(rows.map(r => (r._2, r._4)))
    rows.zipWithIndex.map { case ((bin, n, sp, pos), i) =>
      val pool = pools.find(p => p._1 <= i && i <= p._2).get
      val cal = 10000L * pool._4 / pool._3
      val obs = 10000L * pos / n
      (bin, n, sp / (100L * n), obs, cal, math.abs(cal - obs))
    }.toDF("bin", "n_docs", "mean_pred_bp", "obs_pos_bp", "cal_bp",
      "gap_bp")
  }

  def qualityCalibratedQuery(spark: SparkSession, dir: String): DataFrame =
    qualityCalibrated(Tables.documents(spark, dir)).orderBy(col("bin"))

  /** Per-source PERCENTILE normalization of a quality score — the
    * comparability transform before mixing scores across domains (a
    * raw 7200 bp means "excellent" on a boilerplate farm and "poor"
    * on curated text; the percentile is the source-relative quantity
    * mixture policies should threshold): pct_bp = 10000 · (# same-
    * source docs with STRICTLY smaller score) div max(n_src − 1, 1) —
    * a deterministic, tie-stable rule (equal scores share a
    * percentile; no fractional average-rank).
    *
    * Takes any pre-SCORED frame (doc_id, source, score_bp) so it
    * composes with whichever scorer produced it — qualityLogreg's
    * `score`, textQuality, or the alpha-ratio default that
    * scorePercentileNorm (the oracle entry) applies; the normalizer
    * itself is scorer-agnostic.
    *
    * Scale shape: the qualityFloor histogram discipline — ONE
    * (source, score) histogram, the cumulative window runs over the
    * ≤10001-row per-source HISTOGRAM (never a per-source doc order),
    * and docs pick up their percentile by a keyed join back. */
  def scorePercentileNormOf(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy("source", "score_bp")
      .agg(count(lit(1)).as("c"))
    val wCum = W.partitionBy(col("source")).orderBy(col("score_bp"))
      .rowsBetween(W.unboundedPreceding, -1)
    val totals = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
    val cum = hist
      .withColumn("below", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .join(totals, "source")
      .select(col("source"), col("score_bp"),
        expr("(10000 * below) div greatest(n_src - 1, 1)").as("pct_bp"))
    scored.join(cum, Seq("source", "score_bp"))
      .select("doc_id", "source", "score_bp", "pct_bp")
  }

  /** The oracle entry: percentile-normalizes the ALPHA-RATIO score
    * (10000·alpha_chars div chars — row 28's first quality feature),
    * not qualityLogreg's composite; to normalize logreg scores, join
    * qualityLogreg's (doc_id, score) back to the docs' source column
    * and feed (doc_id, source, score AS score_bp) to
    * scorePercentileNormOf. */
  def scorePercentileNorm(docs: DataFrame): DataFrame =
    scorePercentileNormOf(docs.select(col("doc_id"), col("source"),
      expr("(10000 * length(regexp_replace(text, '[^a-z]', ''))) div length(text)")
        .as("score_bp")))

  def scorePercentileNormQuery(spark: SparkSession, dir: String): DataFrame =
    scorePercentileNorm(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The shared feature CTE (f) and Gopher label CTEs (t, m, lbl) —
    * one copy for the AUC evals and the trainer oracle. */
  private val featLblCtes: String =
    """f AS (
      | SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  (10000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
      |    // length(text) AS alpha_bp,
      |  (10000 * len(list_filter(string_split(text, ' '),
      |     t -> t IN ('the','a','of','and','to','is','in'))))
      |    // len(string_split(text, ' ')) AS stop_bp,
      |  (10000 * len(list_distinct(string_split(text, ' '))))
      |    // len(string_split(text, ' ')) AS ttr_bp
      | FROM documents),
      |t AS (
      | SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
      | FROM documents),
      |m AS (
      | SELECT doc_id, len(toks) AS w, nc - len(toks) + 1 AS alpha,
      |  len(list_distinct(toks)) AS nd,
      |  len(list_filter(list_distinct(toks), s -> s IN
      |   ('the','a','to','of','and','that','have','with'))) AS nstop,
      |  list_max(list_transform(list_distinct(toks),
      |   s -> len(list_filter(toks, x -> x = s)))) AS topc
      | FROM t),
      |lbl AS (
      | SELECT doc_id,
      |  ((w BETWEEN 15 AND 90) AND 4 * w <= alpha AND alpha <= 10 * w
      |    AND nstop >= 2 AND 10 * nd >= 3 * w AND 5 * topc <= w) AS keep
      | FROM m)""".stripMargin

  /** The exact-integer GD rounds unrolled: fx (features + label), then
    * per iteration g{t} (BIGINT gradient sums under w{t-1}'s hard-
    * sigmoid errors) and w{t} (truncating-division update). */
  private def qtrainCtes(iters: Int, stepDiv: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""$featLblCtes,
      |fx AS MATERIALIZED (
      | SELECT CAST(1000 AS BIGINT) AS f0, f.alpha_bp AS f1,
      |  f.stop_bp AS f2, f.ttr_bp AS f3, f.n_words AS f4,
      |  CASE WHEN l.keep THEN 1.0 ELSE 0.0 END AS y
      | FROM f JOIN lbl l USING (doc_id)),
      |w0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS wa,
      | CAST(0 AS BIGINT) AS ws, CAST(0 AS BIGINT) AS wt,
      | CAST(0 AS BIGINT) AS wl)""".stripMargin
    for (m <- 1 to iters) {
      sb ++= s""",
        |g$m AS (
        | SELECT CAST(sum(e * f0) AS BIGINT) AS g0,
        |  CAST(sum(e * f1) AS BIGINT) AS g1,
        |  CAST(sum(e * f2) AS BIGINT) AS g2,
        |  CAST(sum(e * f3) AS BIGINT) AS g3,
        |  CAST(sum(e * f4) AS BIGINT) AS g4
        | FROM (
        |  SELECT f0, f1, f2, f3, f4,
        |   CAST(round((y - least(1.0, greatest(0.0, 0.5
        |     + (w.b*f0 + w.wa*f1 + w.ws*f2 + w.wt*f3 + w.wl*f4)
        |       / 40000000000.0))) * 1000000) AS BIGINT) AS e
        |  FROM fx CROSS JOIN w${m - 1} w)),
        |w$m AS (
        | SELECT w.b + g.g0 // $stepDiv AS b, w.wa + g.g1 // $stepDiv AS wa,
        |  w.ws + g.g2 // $stepDiv AS ws, w.wt + g.g3 // $stepDiv AS wt,
        |  w.wl + g.g4 // $stepDiv AS wl
        | FROM w${m - 1} w CROSS JOIN g$m g)""".stripMargin
    }
    sb.toString
  }

  private def qualityTrainOracle(iters: Int, stepDiv: Long): String = {
    val rows = (1 to iters).map(m =>
      s"SELECT $m AS iter, b AS w0, wa AS w_alpha, ws AS w_stop, " +
        s"wt AS w_ttr, wl AS w_len FROM w$m").mkString("\n UNION ALL ")
    s"""WITH ${qtrainCtes(iters, stepDiv)}
       |SELECT * FROM (
       | $rows
       |) ORDER BY iter""".stripMargin
  }

  private def scoreAucTrainedOracle(iters: Int, stepDiv: Long): String =
    s"""WITH ${qtrainCtes(iters, stepDiv)},
       |sc AS (
       | SELECT f.doc_id, w.b * 1000 + w.wa * f.alpha_bp + w.ws * f.stop_bp
       |  + w.wt * f.ttr_bp + w.wl * f.n_words AS score
       | FROM f CROSS JOIN w$iters w),
       |hist AS (
       | SELECT score,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nn
       | FROM sc JOIN lbl USING (doc_id) GROUP BY 1),
       |cum AS (
       | SELECT np, nn,
       |  coalesce(sum(nn) OVER (ORDER BY score
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
       | FROM hist)
       |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |  CAST(sum(nn) AS BIGINT) AS n_neg,
       |  CAST(sum(np * (2 * neg_below + nn)) AS BIGINT) AS u2,
       |  (10000 * CAST(sum(np * (2 * neg_below + nn)) AS BIGINT))
       |    // (2 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT))
       |    AS auc_bp
       |FROM cum""".stripMargin

  private def qualityCalibrationOracle(iters: Int, stepDiv: Long): String =
    s"""WITH ${qtrainCtes(iters, stepDiv)},
       |sc AS (
       | SELECT f.doc_id, w.b * 1000 + w.wa * f.alpha_bp + w.ws * f.stop_bp
       |  + w.wt * f.ttr_bp + w.wl * f.n_words AS score
       | FROM f CROSS JOIN w$iters w),
       |p AS (
       | SELECT sc.doc_id,
       |  greatest(0, least(1000000, 500000 + score // 40000)) AS p_micro,
       |  l.keep
       | FROM sc JOIN lbl l USING (doc_id)),
       |bounds AS (SELECT CAST(min(p_micro) AS BIGINT) AS mn,
       |  CAST(max(p_micro) AS BIGINT) AS mx FROM p),
       |b AS (
       | SELECT least(((p_micro - bounds.mn) * 10)
       |   // (bounds.mx - bounds.mn + 1), 9) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(p_micro) AS BIGINT) AS sp,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       | FROM p CROSS JOIN bounds GROUP BY 1)
       |SELECT CAST(bin AS BIGINT) AS bin, n_docs,
       | CAST(sp // (100 * n_docs) AS BIGINT) AS mean_pred_bp,
       | CAST((10000 * n_pos) // n_docs AS BIGINT) AS obs_pos_bp,
       | CAST(abs(sp // (100 * n_docs) - (10000 * n_pos) // n_docs)
       |      AS BIGINT) AS gap_bp
       |FROM b ORDER BY bin""".stripMargin

  /** quality_calibrated oracle: the calibration bin chain + PAV
    * replayed as 9 unrolled MATERIALIZED passes — each pass finds the
    * leftmost adjacent pool pair with a strict rate decrease (exact
    * cross-multiplication) and merges it; converged passes are
    * idempotent. Bins are dense-indexed first so pool adjacency
    * survives empty bins. */
  private def qualityCalibratedOracle(iters: Int, stepDiv: Long): String = {
    val passes = (1 to 9).map { t =>
      s"""pv$t AS MATERIALIZED (
         | SELECT a.lo,
         |  CASE WHEN vv.vlo = a.lo THEN s.hi ELSE a.hi END AS hi,
         |  CASE WHEN vv.vlo = a.lo THEN a.n + s.n ELSE a.n END AS n,
         |  CASE WHEN vv.vlo = a.lo THEN a.pos + s.pos ELSE a.pos END AS pos
         | FROM pv${t - 1} a
         | LEFT JOIN pv${t - 1} s ON s.lo = a.hi + 1
         | LEFT JOIN (SELECT min(x.lo) AS vlo FROM pv${t - 1} x
         |            JOIN pv${t - 1} y ON y.lo = x.hi + 1
         |             AND y.pos * x.n < x.pos * y.n) vv ON TRUE
         | WHERE vv.vlo IS NULL
         |  OR a.lo <> (SELECT z.hi + 1 FROM pv${t - 1} z
         |              WHERE z.lo = vv.vlo))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${qtrainCtes(iters, stepDiv)},
       |sc AS (
       | SELECT f.doc_id, w.b * 1000 + w.wa * f.alpha_bp + w.ws * f.stop_bp
       |  + w.wt * f.ttr_bp + w.wl * f.n_words AS score
       | FROM f CROSS JOIN w$iters w),
       |p AS (
       | SELECT sc.doc_id,
       |  greatest(0, least(1000000, 500000 + score // 40000)) AS p_micro,
       |  l.keep
       | FROM sc JOIN lbl l USING (doc_id)),
       |bounds AS (SELECT CAST(min(p_micro) AS BIGINT) AS mn,
       |  CAST(max(p_micro) AS BIGINT) AS mx FROM p),
       |b AS (
       | SELECT least(((p_micro - bounds.mn) * 10)
       |   // (bounds.mx - bounds.mn + 1), 9) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(p_micro) AS BIGINT) AS sp,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       | FROM p CROSS JOIN bounds GROUP BY 1),
       |bi AS MATERIALIZED (
       | SELECT b.*, CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS idx
       | FROM b),
       |pv0 AS MATERIALIZED (
       | SELECT idx AS lo, idx AS hi, n_docs AS n, n_pos AS pos FROM bi),
       |$passes
       |SELECT CAST(bi.bin AS BIGINT) AS bin, bi.n_docs,
       | CAST(sp // (100 * n_docs) AS BIGINT) AS mean_pred_bp,
       | CAST((10000 * n_pos) // n_docs AS BIGINT) AS obs_pos_bp,
       | CAST((10000 * pv.pos) // pv.n AS BIGINT) AS cal_bp,
       | CAST(abs((10000 * pv.pos) // pv.n - (10000 * n_pos) // n_docs)
       |      AS BIGINT) AS gap_bp
       |FROM bi JOIN pv9 pv ON bi.idx BETWEEN pv.lo AND pv.hi
       |ORDER BY bin""".stripMargin
  }

  /** The trigram-KN model CTE chain over a `tok(…, toks)` CTE the
    * caller defines — trigram stream/types, prefix stats, the middle
    * continuation table, continuation-unigram stats and the two
    * scalars, mirroring [[trigramModelFrames]] frame for frame. */
  private def trigramModelCtes(withDocId: Boolean): String = {
    val docCol = if (withDocId) "doc_id, " else ""
    s"""tgocc AS (
       | SELECT ${docCol}unnest(CASE WHEN len(toks) >= 3
       |   THEN list_transform(range(1, len(toks) - 1),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |   ELSE [] END) AS tg
       | FROM tok),
       |tcnt AS (SELECT tg, CAST(count(*) AS BIGINT) AS c123
       |         FROM tgocc GROUP BY 1),
       |pstats AS (SELECT string_split(tg, ' ')[1] || ' ' ||
       |  string_split(tg, ' ')[2] AS p12,
       |  CAST(sum(c123) AS BIGINT) AS c12,
       |  CAST(count(*) AS BIGINT) AS t12types FROM tcnt GROUP BY 1),
       |mid AS (SELECT string_split(tg, ' ')[2] || ' ' ||
       |  string_split(tg, ' ')[3] AS s23,
       |  CAST(count(*) AS BIGINT) AS m23 FROM tcnt GROUP BY 1),
       |mstats AS (SELECT string_split(s23, ' ')[1] AS mt2,
       |  CAST(sum(m23) AS BIGINT) AS m2,
       |  CAST(count(*) AS BIGINT) AS t2types FROM mid GROUP BY 1),
       |bgocc AS (
       | SELECT unnest(CASE WHEN len(toks) >= 2
       |   THEN list_transform(range(1, len(toks)),
       |                       i -> toks[i] || ' ' || toks[i+1])
       |   ELSE [] END) AS bg
       | FROM tok),
       |btypes AS (SELECT bg FROM bgocc GROUP BY 1),
       |cstats AS (SELECT string_split(bg, ' ')[2] AS ct3,
       |  CAST(count(*) AS BIGINT) AS cont FROM btypes GROUP BY 1),
       |btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM btypes),
       |vtot AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM
       | (SELECT unnest(toks) AS t FROM tok)),""".stripMargin
  }

  private val trigramStreamCtes = trigramModelCtes(withDocId = true)
  private val trigramStreamCtesNoDoc = trigramModelCtes(withDocId = false)

  /** The full in-corpus trigram-KN per-doc chain (tok … per_doc) —
    * shared by the trigram_surprisal_kn and ppl_histogram oracles.
    * Concat operators sit at line ENDS: this passes through a second
    * stripMargin at the interpolation site. */
  private val trigramPerDocCtes: String =
    s"""tok AS (
       | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |$trigramStreamCtes
       |smap AS (
       | SELECT t.tg,
       |  CAST(round((ln(4*p.c12*(4*ms.m2*(bb.b+vv.v)))
       |    - ln((4*t.c123-3)*(4*ms.m2*(bb.b+vv.v))
       |        + 3*p.t12types*((4*m.m23-3)*(bb.b+vv.v)
       |                        + 3*ms.t2types*(cs.cont+1))))
       |   * 1000000) AS BIGINT) AS s
       | FROM tcnt t
       |  JOIN pstats p ON string_split(t.tg, ' ')[1] || ' ' ||
       |   string_split(t.tg, ' ')[2] = p.p12
       |  JOIN mid m ON string_split(t.tg, ' ')[2] || ' ' ||
       |   string_split(t.tg, ' ')[3] = m.s23
       |  JOIN mstats ms ON string_split(t.tg, ' ')[2] = ms.mt2
       |  JOIN cstats cs ON string_split(t.tg, ' ')[3] = cs.ct3
       |  CROSS JOIN btot bb CROSS JOIN vtot vv),
       |per_doc AS (
       | SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(s.s) AS BIGINT) AS surprisal_micro
       | FROM tgocc o JOIN smap s USING (tg) GROUP BY 1)""".stripMargin

  /** The trigram-KN exact rational PER TRIGRAM TYPE as (den3, num3)
    * columns — trigram_surprisal_kn's smap with the rounding deferred,
    * so the quadgram oracles can stack their order-4 rational on top
    * of the same integers. Expects the trigram model CTEs in scope. */
  private val trigramRationalCte: String =
    s"""tsc AS MATERIALIZED (
       | SELECT t.tg,
       |  4*p.c12*(4*ms.m2*(bb.b+vv.v)) AS den3,
       |  (4*t.c123-3)*(4*ms.m2*(bb.b+vv.v))
       |    + 3*p.t12types*((4*m.m23-3)*(bb.b+vv.v)
       |                    + 3*ms.t2types*(cs.cont+1)) AS num3
       | FROM tcnt t
       |  JOIN pstats p ON string_split(t.tg, ' ')[1] || ' ' ||
       |   string_split(t.tg, ' ')[2] = p.p12
       |  JOIN mid m ON string_split(t.tg, ' ')[2] || ' ' ||
       |   string_split(t.tg, ' ')[3] = m.s23
       |  JOIN mstats ms ON string_split(t.tg, ' ')[2] = ms.mt2
       |  JOIN cstats cs ON string_split(t.tg, ' ')[3] = cs.ct3
       |  CROSS JOIN btot bb CROSS JOIN vtot vv)""".stripMargin

  /** Quadgram occurrence + type-count CTEs over a `tok(…, toks)` CTE;
    * doc_id flows through when the caller's tok carries it. Concat
    * operators sit at line ENDS — like the trigram CTEs, this passes
    * through a second stripMargin at the interpolation site. */
  private def quadgramOccCtes(withDocId: Boolean): String = {
    val docCol = if (withDocId) "doc_id, " else ""
    s"""qgocc AS (
       | SELECT ${docCol}unnest(CASE WHEN len(toks) >= 4
       |   THEN list_transform(range(1, len(toks) - 2),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] ||
       |      ' ' || toks[i+3])
       |   ELSE [] END) AS qg
       | FROM tok),
       |qall AS (SELECT qg, CAST(count(*) AS BIGINT) AS c1234
       |         FROM qgocc GROUP BY 1)""".stripMargin
  }

  /** Kept-prefix stats + per-type pruned-KN surprisal at one
    * threshold, as suffixed CTEs (qpre_θ, smap4_θ) — the pruned
    * ladder's three branches mirror scoreQuadgramTypes exactly. */
  private def quadgramScoreCtes(theta: Long): String =
    s"""qpre_$theta AS (
       | SELECT string_split(qg, ' ')[1] || ' ' || string_split(qg, ' ')[2] ||
       |   ' ' || string_split(qg, ' ')[3] AS p123,
       |  CAST(sum(c1234) AS BIGINT) AS c123k,
       |  CAST(count(*) AS BIGINT) AS t123types
       | FROM qall WHERE c1234 >= $theta GROUP BY 1),
       |smap4_$theta AS (
       | SELECT q.qg, q.c1234,
       |  CAST(round((CASE WHEN qp.c123k IS NOT NULL
       |    THEN ln(4*qp.c123k*ts.den3)
       |      - ln(CASE WHEN q.c1234 >= $theta
       |          THEN (4*q.c1234-3)*ts.den3 + 3*qp.t123types*ts.num3
       |          ELSE 3*qp.t123types*ts.num3 END)
       |    ELSE ln(ts.den3) - ln(ts.num3) END)
       |   * 1000000) AS BIGINT) AS s
       | FROM qall q
       |  LEFT JOIN qpre_$theta qp ON string_split(q.qg, ' ')[1] || ' ' ||
       |   string_split(q.qg, ' ')[2] || ' ' ||
       |   string_split(q.qg, ' ')[3] = qp.p123
       |  JOIN tsc ts ON string_split(q.qg, ' ')[2] || ' ' ||
       |   string_split(q.qg, ' ')[3] || ' ' ||
       |   string_split(q.qg, ' ')[4] = ts.tg)""".stripMargin

  /** The pruned quadgram rational per seen type with the rounding
    * DEFERRED — (qg, den4, num4), the prefix-unkept branch folded to
    * (den3, num3) — mirroring quadgramRationalTypes so the order-5
    * oracle stacks on the same integers. Expects qall, qpre_θ and tsc
    * in scope. */
  private def quadgramRationalCtes(theta: Long): String =
    s"""qsc_$theta AS MATERIALIZED (
       | SELECT q.qg,
       |  CASE WHEN qp.c123k IS NOT NULL THEN 4*qp.c123k*ts.den3
       |   ELSE ts.den3 END AS den4,
       |  CASE WHEN qp.c123k IS NOT NULL
       |    THEN CASE WHEN q.c1234 >= $theta
       |      THEN (4*q.c1234-3)*ts.den3 + 3*qp.t123types*ts.num3
       |      ELSE 3*qp.t123types*ts.num3 END
       |   ELSE ts.num3 END AS num4
       | FROM qall q
       |  LEFT JOIN qpre_$theta qp ON string_split(q.qg, ' ')[1] || ' ' ||
       |   string_split(q.qg, ' ')[2] || ' ' ||
       |   string_split(q.qg, ' ')[3] = qp.p123
       |  JOIN tsc ts ON string_split(q.qg, ' ')[2] || ' ' ||
       |   string_split(q.qg, ' ')[3] || ' ' ||
       |   string_split(q.qg, ' ')[4] = ts.tg)""".stripMargin

  /** Fivegram occurrence + type-count CTEs over a `tok(…, toks)` CTE;
    * doc_id flows through when the caller's tok carries it. */
  private def fivegramOccCtes(withDocId: Boolean): String = {
    val docCol = if (withDocId) "doc_id, " else ""
    s"""pgocc AS (
       | SELECT ${docCol}unnest(CASE WHEN len(toks) >= 5
       |   THEN list_transform(range(1, len(toks) - 3),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] ||
       |      ' ' || toks[i+3] || ' ' || toks[i+4])
       |   ELSE [] END) AS pg
       | FROM tok),
       |pall AS (SELECT pg, CAST(count(*) AS BIGINT) AS c12345
       |         FROM pgocc GROUP BY 1)""".stripMargin
  }

  /** Kept-prefix stats + per-type pruned order-5 surprisal at one
    * threshold (ppre_θ, smap5_θ) — the three branches mirror
    * fivegramSurprisalKn's prunedRung exactly, stacked on qsc_θ₄'s
    * rational. */
  private def fivegramScoreCtes(theta: Long, theta4: Long): String =
    s"""ppre_$theta AS (
       | SELECT string_split(pg, ' ')[1] || ' ' || string_split(pg, ' ')[2] ||
       |   ' ' || string_split(pg, ' ')[3] || ' ' || string_split(pg, ' ')[4]
       |   AS p1234,
       |  CAST(sum(c12345) AS BIGINT) AS c1234k,
       |  CAST(count(*) AS BIGINT) AS t1234types
       | FROM pall WHERE c12345 >= $theta GROUP BY 1),
       |smap5_$theta AS (
       | SELECT p.pg,
       |  CAST(round((CASE WHEN pp.c1234k IS NOT NULL
       |    THEN ln(4*pp.c1234k*qs.den4)
       |      - ln(CASE WHEN p.c12345 >= $theta
       |          THEN (4*p.c12345-3)*qs.den4 + 3*pp.t1234types*qs.num4
       |          ELSE 3*pp.t1234types*qs.num4 END)
       |    ELSE ln(qs.den4) - ln(qs.num4) END)
       |   * 1000000) AS BIGINT) AS s
       | FROM pall p
       |  LEFT JOIN ppre_$theta pp ON string_split(p.pg, ' ')[1] || ' ' ||
       |   string_split(p.pg, ' ')[2] || ' ' || string_split(p.pg, ' ')[3] ||
       |   ' ' || string_split(p.pg, ' ')[4] = pp.p1234
       |  JOIN qsc_$theta4 qs ON string_split(p.pg, ' ')[2] || ' ' ||
       |   string_split(p.pg, ' ')[3] || ' ' || string_split(p.pg, ' ')[4] ||
       |   ' ' || string_split(p.pg, ' ')[5] = qs.qg)""".stripMargin

  val oracles: Map[String, String] = Map(
    // pruned interpolated quadgram KN (θ=2): per-type exact rational
    // stacked on the trigram rational via the suffix join
    "quadgram_surprisal_kn" ->
      s"""WITH tok AS (
         | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |$trigramStreamCtes
         |$trigramRationalCte,
         |${quadgramOccCtes(withDocId = true)},
         |${quadgramScoreCtes(theta = 2L)},
         |per_doc4 AS (
         | SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_quadgrams,
         |  CAST(sum(s.s) AS BIGINT) AS surprisal_micro
         | FROM qgocc o JOIN smap4_2 s USING (qg) GROUP BY 1)
         |SELECT d.doc_id, coalesce(p.n_quadgrams, 0) AS n_quadgrams,
         | coalesce(p.surprisal_micro, 0) AS surprisal_micro,
         | CASE WHEN coalesce(p.n_quadgrams, 0) > 0
         |   THEN p.surprisal_micro // p.n_quadgrams END AS mean_micro
         |FROM documents d LEFT JOIN per_doc4 p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // pruned interpolated fivegram KN (θ₄=θ₅=2): the order-5 rational
    // stacked on the deferred quadgram rational via the suffix join
    // (smap4_2 from the shared block goes unused here — DuckDB skips
    // unreferenced non-materialized CTEs)
    "fivegram_surprisal_kn" ->
      s"""WITH tok AS (
         | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |$trigramStreamCtes
         |$trigramRationalCte,
         |${quadgramOccCtes(withDocId = true)},
         |${quadgramScoreCtes(theta = 2L)},
         |${quadgramRationalCtes(theta = 2L)},
         |${fivegramOccCtes(withDocId = true)},
         |${fivegramScoreCtes(theta = 2L, theta4 = 2L)},
         |per_doc5 AS (
         | SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_fivegrams,
         |  CAST(sum(s.s) AS BIGINT) AS surprisal_micro
         | FROM pgocc o JOIN smap5_2 s USING (pg) GROUP BY 1)
         |SELECT d.doc_id, coalesce(p.n_fivegrams, 0) AS n_fivegrams,
         | coalesce(p.surprisal_micro, 0) AS surprisal_micro,
         | CASE WHEN coalesce(p.n_fivegrams, 0) > 0
         |   THEN p.surprisal_micro // p.n_fivegrams END AS mean_micro
         |FROM documents d LEFT JOIN per_doc5 p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // model rows vs corpus mean surprisal per pruning threshold:
    // Σ_positions s = Σ_types c1234·s, so no position re-scan per θ
    "kn_prune_curve" -> {
      val thetas = Seq(1L, 2L, 4L)
      val blocks = thetas.map(quadgramScoreCtes).mkString(",\n")
      val rows = thetas.map { th =>
        s"""SELECT CAST($th AS BIGINT) AS theta,
           | CAST(sum(CASE WHEN c1234 >= $th THEN 1 ELSE 0 END) AS BIGINT)
           |   AS kept_types,
           | CAST(count(*) AS BIGINT) AS total_types,
           | CAST(sum(c1234) AS BIGINT) AS n_positions,
           | CAST(sum(c1234 * s) AS BIGINT) // CAST(sum(c1234) AS BIGINT)
           |   AS mean_micro
           |FROM smap4_$th""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |$trigramStreamCtesNoDoc
         |$trigramRationalCte,
         |${quadgramOccCtes(withDocId = false)},
         |$blocks
         |$rows
         |ORDER BY theta""".stripMargin
    },
    // train-split pruned quadgram KN vs trigram KN on the SAME
    // quadgram positions; both ladders branch-for-branch with the
    // Spark side (den3/num3 computed once, rounded once per leg)
    "lm_heldout_quadgram" ->
      s"""WITH sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN b < ${4294967296L * 80 / 100} THEN 'train'
         |       WHEN b < ${4294967296L * 90 / 100} THEN 'val'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, text,
         |        ${TextAnalysis.sampleBucketSql} AS b FROM documents)),
         |tokall AS (
         | SELECT split, string_split(text, ' ') AS toks FROM sp),
         |qgall AS (
         | SELECT split, unnest(CASE WHEN len(toks) >= 4
         |   THEN list_transform(range(1, len(toks) - 2),
         |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3])
         |   ELSE [] END) AS qg
         | FROM tokall),
         |tok AS (SELECT toks FROM tokall WHERE split = 'train'),
         |$trigramStreamCtesNoDoc
         |${quadgramOccCtes(withDocId = false)},
         |qkept AS (SELECT qg, c1234 FROM qall WHERE c1234 >= 2),
         |qpre AS (
         | SELECT string_split(qg, ' ')[1] || ' ' || string_split(qg, ' ')[2]
         |   || ' ' || string_split(qg, ' ')[3] AS p123,
         |  CAST(sum(c1234) AS BIGINT) AS c123k,
         |  CAST(count(*) AS BIGINT) AS t123types
         | FROM qkept GROUP BY 1),
         |rows0 AS (
         | SELECT g.split, (k.c1234 IS NULL) AS unseen,
         |  k.c1234, qp.c123k, qp.t123types,
         |  CASE WHEN p.c12 IS NOT NULL
         |    THEN 4*p.c12*(4*ms.m2*(bb.b+vv.v))
         |   WHEN ms.m2 IS NOT NULL THEN 4*ms.m2*(bb.b+vv.v)
         |   ELSE bb.b+vv.v END AS den3,
         |  CASE WHEN p.c12 IS NOT NULL
         |    THEN greatest(4*COALESCE(t.c123, 0) - 3, 0)
         |        *(4*ms.m2*(bb.b+vv.v))
         |      + 3*p.t12types*(greatest(4*COALESCE(m.m23, 0) - 3, 0)
         |          *(bb.b+vv.v)
         |        + 3*ms.t2types*(COALESCE(cs.cont, 0)+1))
         |   WHEN ms.m2 IS NOT NULL
         |    THEN greatest(4*COALESCE(m.m23, 0) - 3, 0)*(bb.b+vv.v)
         |      + 3*ms.t2types*(COALESCE(cs.cont, 0)+1)
         |   ELSE COALESCE(cs.cont, 0) + 1 END AS num3
         | FROM qgall g
         |  LEFT JOIN qkept k USING (qg)
         |  LEFT JOIN qpre qp ON string_split(g.qg, ' ')[1] || ' ' ||
         |    string_split(g.qg, ' ')[2] || ' ' ||
         |    string_split(g.qg, ' ')[3] = qp.p123
         |  LEFT JOIN tcnt t ON string_split(g.qg, ' ')[2] || ' ' ||
         |    string_split(g.qg, ' ')[3] || ' ' ||
         |    string_split(g.qg, ' ')[4] = t.tg
         |  LEFT JOIN pstats p ON string_split(g.qg, ' ')[2] || ' ' ||
         |    string_split(g.qg, ' ')[3] = p.p12
         |  LEFT JOIN mid m ON string_split(g.qg, ' ')[3] || ' ' ||
         |    string_split(g.qg, ' ')[4] = m.s23
         |  LEFT JOIN mstats ms ON string_split(g.qg, ' ')[3] = ms.mt2
         |  LEFT JOIN cstats cs ON string_split(g.qg, ' ')[4] = cs.ct3
         |  CROSS JOIN btot bb CROSS JOIN vtot vv),
         |rows AS (
         | SELECT split, unseen,
         |  CAST(round((ln(den3) - ln(num3)) * 1000000) AS BIGINT) AS s_tri,
         |  CAST(round((CASE WHEN c123k IS NOT NULL
         |    THEN ln(4*c123k*den3) - ln(CASE WHEN c1234 IS NOT NULL
         |        THEN (4*c1234-3)*den3 + 3*t123types*num3
         |        ELSE 3*t123types*num3 END)
         |    ELSE ln(den3) - ln(num3) END) * 1000000) AS BIGINT) AS s_quad
         | FROM rows0),
         |agg AS (
         | SELECT split, CAST(count(*) AS BIGINT) AS n_quadgrams,
         |  CAST(sum(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT)
         |   AS unseen_quadgrams,
         |  CAST(sum(s_tri) AS BIGINT) AS st,
         |  CAST(sum(s_quad) AS BIGINT) AS sq
         | FROM rows GROUP BY 1)
         |SELECT 'kn_quadgram' AS model, split, n_quadgrams,
         | unseen_quadgrams, sq // n_quadgrams AS mean_micro FROM agg
         |UNION ALL
         |SELECT 'kn_trigram', split, n_quadgrams, unseen_quadgrams,
         | st // n_quadgrams FROM agg
         |ORDER BY model, split""".stripMargin,
    // train-split pruned fivegram KN vs pruned quadgram KN on the SAME
    // fivegram positions; the quadgram leg's ladder (trigram ladder on
    // (t3 t4 t5) + the pruned order-4 stack) branch-for-branch with
    // the Spark side, the fivegram leg stacked on top
    "lm_heldout_fivegram" ->
      s"""WITH sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN b < ${4294967296L * 80 / 100} THEN 'train'
         |       WHEN b < ${4294967296L * 90 / 100} THEN 'val'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, text,
         |        ${TextAnalysis.sampleBucketSql} AS b FROM documents)),
         |tokall AS (
         | SELECT split, string_split(text, ' ') AS toks FROM sp),
         |pgall AS (
         | SELECT split, unnest(CASE WHEN len(toks) >= 5
         |   THEN list_transform(range(1, len(toks) - 3),
         |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |   ELSE [] END) AS pg
         | FROM tokall),
         |tok AS (SELECT toks FROM tokall WHERE split = 'train'),
         |$trigramStreamCtesNoDoc
         |${quadgramOccCtes(withDocId = false)},
         |qkept AS (SELECT qg, c1234 FROM qall WHERE c1234 >= 2),
         |qpre AS (
         | SELECT string_split(qg, ' ')[1] || ' ' || string_split(qg, ' ')[2]
         |   || ' ' || string_split(qg, ' ')[3] AS p123,
         |  CAST(sum(c1234) AS BIGINT) AS c123k,
         |  CAST(count(*) AS BIGINT) AS t123types
         | FROM qkept GROUP BY 1),
         |${fivegramOccCtes(withDocId = false)},
         |pkept AS (SELECT pg, c12345 FROM pall WHERE c12345 >= 2),
         |ppre AS (
         | SELECT string_split(pg, ' ')[1] || ' ' || string_split(pg, ' ')[2]
         |   || ' ' || string_split(pg, ' ')[3] || ' ' ||
         |   string_split(pg, ' ')[4] AS p1234,
         |  CAST(sum(c12345) AS BIGINT) AS c1234k,
         |  CAST(count(*) AS BIGINT) AS t1234types
         | FROM pkept GROUP BY 1),
         |rows0 AS (
         | SELECT g.split, (k.c12345 IS NULL) AS unseen,
         |  k.c12345, pp.c1234k, pp.t1234types,
         |  qk.c1234, qp.c123k, qp.t123types,
         |  CASE WHEN p.c12 IS NOT NULL
         |    THEN 4*p.c12*(4*ms.m2*(bb.b+vv.v))
         |   WHEN ms.m2 IS NOT NULL THEN 4*ms.m2*(bb.b+vv.v)
         |   ELSE bb.b+vv.v END AS den3,
         |  CASE WHEN p.c12 IS NOT NULL
         |    THEN greatest(4*COALESCE(t.c123, 0) - 3, 0)
         |        *(4*ms.m2*(bb.b+vv.v))
         |      + 3*p.t12types*(greatest(4*COALESCE(m.m23, 0) - 3, 0)
         |          *(bb.b+vv.v)
         |        + 3*ms.t2types*(COALESCE(cs.cont, 0)+1))
         |   WHEN ms.m2 IS NOT NULL
         |    THEN greatest(4*COALESCE(m.m23, 0) - 3, 0)*(bb.b+vv.v)
         |      + 3*ms.t2types*(COALESCE(cs.cont, 0)+1)
         |   ELSE COALESCE(cs.cont, 0) + 1 END AS num3
         | FROM pgall g
         |  LEFT JOIN pkept k USING (pg)
         |  LEFT JOIN ppre pp ON string_split(g.pg, ' ')[1] || ' ' ||
         |    string_split(g.pg, ' ')[2] || ' ' ||
         |    string_split(g.pg, ' ')[3] || ' ' ||
         |    string_split(g.pg, ' ')[4] = pp.p1234
         |  LEFT JOIN qkept qk ON string_split(g.pg, ' ')[2] || ' ' ||
         |    string_split(g.pg, ' ')[3] || ' ' ||
         |    string_split(g.pg, ' ')[4] || ' ' ||
         |    string_split(g.pg, ' ')[5] = qk.qg
         |  LEFT JOIN qpre qp ON string_split(g.pg, ' ')[2] || ' ' ||
         |    string_split(g.pg, ' ')[3] || ' ' ||
         |    string_split(g.pg, ' ')[4] = qp.p123
         |  LEFT JOIN tcnt t ON string_split(g.pg, ' ')[3] || ' ' ||
         |    string_split(g.pg, ' ')[4] || ' ' ||
         |    string_split(g.pg, ' ')[5] = t.tg
         |  LEFT JOIN pstats p ON string_split(g.pg, ' ')[3] || ' ' ||
         |    string_split(g.pg, ' ')[4] = p.p12
         |  LEFT JOIN mid m ON string_split(g.pg, ' ')[4] || ' ' ||
         |    string_split(g.pg, ' ')[5] = m.s23
         |  LEFT JOIN mstats ms ON string_split(g.pg, ' ')[4] = ms.mt2
         |  LEFT JOIN cstats cs ON string_split(g.pg, ' ')[5] = cs.ct3
         |  CROSS JOIN btot bb CROSS JOIN vtot vv),
         |rows1 AS (
         | SELECT split, unseen, c12345, c1234k, t1234types,
         |  CASE WHEN c123k IS NOT NULL THEN 4*c123k*den3
         |   ELSE den3 END AS den4,
         |  CASE WHEN c123k IS NOT NULL
         |    THEN CASE WHEN c1234 IS NOT NULL
         |      THEN (4*c1234-3)*den3 + 3*t123types*num3
         |      ELSE 3*t123types*num3 END
         |   ELSE num3 END AS num4
         | FROM rows0),
         |rows AS (
         | SELECT split, unseen,
         |  CAST(round((ln(den4) - ln(num4)) * 1000000) AS BIGINT) AS s_quad,
         |  CAST(round((CASE WHEN c1234k IS NOT NULL
         |    THEN ln(4*c1234k*den4) - ln(CASE WHEN c12345 IS NOT NULL
         |        THEN (4*c12345-3)*den4 + 3*t1234types*num4
         |        ELSE 3*t1234types*num4 END)
         |    ELSE ln(den4) - ln(num4) END) * 1000000) AS BIGINT) AS s_five
         | FROM rows1),
         |agg AS (
         | SELECT split, CAST(count(*) AS BIGINT) AS n_fivegrams,
         |  CAST(sum(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT)
         |   AS unseen_fivegrams,
         |  CAST(sum(s_quad) AS BIGINT) AS sq,
         |  CAST(sum(s_five) AS BIGINT) AS sf
         | FROM rows GROUP BY 1)
         |SELECT 'kn_fivegram' AS model, split, n_fivegrams,
         | unseen_fivegrams, sf // n_fivegrams AS mean_micro FROM agg
         |UNION ALL
         |SELECT 'kn_quadgram', split, n_fivegrams, unseen_fivegrams,
         | sq // n_fivegrams FROM agg
         |ORDER BY model, split""".stripMargin,
    "quality_calibrated" -> qualityCalibratedOracle(iters = 10,
      stepDiv = 10000000L),
    "quality_train" -> qualityTrainOracle(iters = 10,
      stepDiv = 10000000L),
    "score_auc_trained" -> scoreAucTrainedOracle(iters = 10,
      stepDiv = 10000000L),
    // trained-weight replay + the integer hard-sigmoid link, 10-bin
    // reliability rows
    "quality_calibration" -> qualityCalibrationOracle(iters = 10,
      stepDiv = 10000000L),
    // train-split unigram model + unseen≈hapax backstop, 3 split rows
    "lm_heldout_eval" ->
      s"""WITH sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN b < ${4294967296L * 80 / 100} THEN 'train'
         |       WHEN b < ${4294967296L * 90 / 100} THEN 'val'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, text,
         |        ${TextAnalysis.sampleBucketSql} AS b FROM documents)),
         |tok AS (
         | SELECT unnest(string_split(text, ' ')) AS t FROM sp
         | WHERE split = 'train'),
         |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
         |          FROM tok GROUP BY 1),
         |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
         |smap AS MATERIALIZED (
         | SELECT t, CAST(round((ln(total) - ln(cnt)) * 1000000) AS BIGINT)
         |   AS s
         | FROM vocab CROSS JOIN total),
         |unk AS (SELECT CAST(round(ln(total) * 1000000) AS BIGINT) AS u
         |        FROM total),
         |atok AS (
         | SELECT split, doc_id, unnest(string_split(text, ' ')) AS t
         | FROM sp),
         |per_doc AS (
         | SELECT a.split, a.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(COALESCE(m.s, (SELECT u FROM unk))) AS BIGINT)
         |   AS s_micro,
         |  CAST(sum(CASE WHEN m.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS oov
         | FROM atok a LEFT JOIN smap m USING (t) GROUP BY 1, 2)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         | CAST(sum(oov) AS BIGINT) AS oov_tokens,
         | (10000 * CAST(sum(oov) AS BIGINT))
         |   // CAST(sum(n_toks) AS BIGINT) AS oov_bp,
         | CAST(sum(s_micro) AS BIGINT)
         |   // CAST(sum(n_toks) AS BIGINT) AS mean_micro
         |FROM per_doc GROUP BY split ORDER BY split""".stripMargin,
    // the same integer features and one-row model, weights as literals
    // (the oracle pins the DEFAULT model; a trained model reuses the
    // operator unchanged)
    "quality_logreg" ->
      """WITH f AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  (10000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
        |    // length(text) AS alpha_bp,
        |  (10000 * len(list_filter(string_split(text, ' '),
        |     t -> t IN ('the','a','of','and','to','is','in'))))
        |    // len(string_split(text, ' ')) AS stop_bp,
        |  (10000 * len(list_distinct(string_split(text, ' '))))
        |    // len(string_split(text, ' ')) AS ttr_bp
        | FROM documents)
        |SELECT doc_id, n_words, alpha_bp, stop_bp, ttr_bp,
        |  -130000 + 8 * alpha_bp + 20 * stop_bp + 9 * ttr_bp
        |    + 120 * n_words AS score,
        |  (-130000 + 8 * alpha_bp + 20 * stop_bp + 9 * ttr_bp
        |    + 120 * n_words) > 0 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "lm_surprisal" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        |smap AS (
        | SELECT t, CAST(round((ln(total) - ln(cnt)) * 1000000) AS BIGINT) AS s
        | FROM vocab CROSS JOIN total),
        |per_doc AS (
        | SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(smap.s) AS BIGINT) AS surprisal_micro
        | FROM tok JOIN smap USING (t) GROUP BY 1)
        |SELECT doc_id, n_toks, surprisal_micro,
        | surprisal_micro // n_toks AS mean_micro,
        | (surprisal_micro // n_toks) BETWEEN 3200000 AND 3600000 AS keep
        |FROM per_doc ORDER BY doc_id""".stripMargin,
    // lm_surprisal's scoring CTEs with lang carried, then the
    // centinat-histogram tercile thresholds mirrored integer-for-
    // integer (smallest covering bin, 3c >= k*n compares)
    "ppl_buckets" ->
      """WITH tok AS (
        | SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        | FROM documents),
        |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
        |          FROM tok GROUP BY 1),
        |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        |smap AS (
        | SELECT t, CAST(round((ln(total) - ln(cnt)) * 1000000) AS BIGINT) AS s
        | FROM vocab CROSS JOIN total),
        |per_doc AS (
        | SELECT tok.doc_id, tok.lang, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(smap.s) AS BIGINT) AS surprisal_micro
        | FROM tok JOIN smap USING (t) GROUP BY 1, 2),
        |sc AS (
        | SELECT doc_id, lang, surprisal_micro // n_toks AS mean_micro,
        |  (surprisal_micro // n_toks) // 10000 AS m
        | FROM per_doc),
        |hist AS (SELECT lang, m, CAST(count(*) AS BIGINT) AS n
        |         FROM sc GROUP BY 1, 2),
        |cum AS (
        | SELECT lang, m,
        |  CAST(sum(n) OVER (PARTITION BY lang ORDER BY m) AS BIGINT) AS c
        | FROM hist),
        |nl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
        |       FROM hist GROUP BY 1),
        |th AS (
        | SELECT lang,
        |  CAST(min(CASE WHEN c * 3 >= n_lang THEN m END) AS BIGINT) AS t1,
        |  CAST(min(CASE WHEN c * 3 >= n_lang * 2 THEN m END) AS BIGINT) AS t2
        | FROM cum JOIN nl USING (lang) GROUP BY 1)
        |SELECT sc.doc_id, sc.lang, sc.mean_micro,
        | CASE WHEN sc.m <= th.t1 THEN 'head'
        |      WHEN sc.m <= th.t2 THEN 'middle'
        |      ELSE 'tail' END AS ppl_bucket
        |FROM sc JOIN th USING (lang) ORDER BY sc.doc_id""".stripMargin,
    "quality_floor_per_source" ->
      """WITH scored AS (
        | SELECT doc_id, source,
        |  (10000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
        |    // length(text) AS score_bp
        | FROM documents),
        |ranked AS (
        | SELECT *,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY score_bp DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n_src
        | FROM scored)
        |SELECT doc_id, source, score_bp,
        | rn <= (9 * n_src + 9) // 10 AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin,
    // hashed unigram+bigram buckets, add-1 smoothed target/raw
    // log-ratio rounded once per bucket (ln terms in the Spark-side
    // order), BIGINT doc sums, trunc-div mean, global top-100
    "dsir_importance" ->
      """WITH docs_t AS (
        | SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |feats AS (
        | SELECT doc_id, lang,
        |  list_concat(toks, CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)),
        |                        i -> toks[i] || ' ' || toks[i+1])
        |    ELSE [] END) AS fs
        | FROM docs_t),
        |occ AS (
        | SELECT doc_id, lang,
        |  CAST('0x' || substr(md5(f), 1, 7) AS BIGINT) % 256 AS b
        | FROM (SELECT doc_id, lang, unnest(fs) AS f FROM feats)),
        |counts AS (
        | SELECT b, CAST(count(*) AS BIGINT) AS cr,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        | FROM occ GROUP BY 1),
        |tots AS (
        | SELECT CAST(count(*) AS BIGINT) AS tr,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
        | FROM occ),
        |lam AS (
        | SELECT b,
        |  CAST(round((ln(ct + 1) - ln(tt + 256) - ln(cr + 1) + ln(tr + 256))
        |             * 1000000) AS BIGINT) AS lam_micro
        | FROM counts CROSS JOIN tots),
        |per_doc AS (
        | SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
        |  CAST(sum(l.lam_micro) AS BIGINT) AS lw_micro
        | FROM occ o JOIN lam l USING (b) GROUP BY 1),
        |ranked AS (
        | SELECT doc_id, n_feat, lw_micro, lw_micro // n_feat AS mean_micro
        | FROM per_doc),
        |sel AS (
        | SELECT doc_id FROM (
        |  SELECT doc_id,
        |   row_number() OVER (ORDER BY mean_micro DESC, doc_id) AS rn
        |  FROM ranked) WHERE rn <= 100)
        |SELECT r.doc_id, r.n_feat, r.lw_micro, r.mean_micro,
        | r.doc_id IN (SELECT doc_id FROM sel) AS selected
        |FROM ranked r ORDER BY r.doc_id""".stripMargin,
    // named per-rule flags, every comparison cross-multiplied — pure
    // integer arithmetic, bit-identical by construction
    "score_percentile_norm" ->
      """WITH sc AS (
        | SELECT doc_id, source,
        |  (10000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
        |    // length(text) AS score_bp
        | FROM documents),
        |h AS (SELECT source, score_bp, CAST(count(*) AS BIGINT) AS c
        |      FROM sc GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |        FROM sc GROUP BY 1),
        |cum AS (
        | SELECT source, score_bp,
        |  coalesce(sum(c) OVER (PARTITION BY source ORDER BY score_bp
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        | FROM h)
        |SELECT s.doc_id, s.source, s.score_bp,
        |  CAST((10000 * cum.below) // greatest(t.n_src - 1, 1)
        |       AS BIGINT) AS pct_bp
        |FROM sc s
        | JOIN cum ON s.source = cum.source AND s.score_bp = cum.score_bp
        | JOIN tot t ON s.source = t.source
        |ORDER BY s.doc_id""".stripMargin,

    // the quality_logreg score and gopher keep fragments composed,
    // then the same histogram/doubled-units U computation
    "score_auc_eval" ->
      """WITH f AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  (10000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
        |    // length(text) AS alpha_bp,
        |  (10000 * len(list_filter(string_split(text, ' '),
        |     t -> t IN ('the','a','of','and','to','is','in'))))
        |    // len(string_split(text, ' ')) AS stop_bp,
        |  (10000 * len(list_distinct(string_split(text, ' '))))
        |    // len(string_split(text, ' ')) AS ttr_bp
        | FROM documents),
        |sc AS (
        | SELECT doc_id, -130000 + 8 * alpha_bp + 20 * stop_bp + 9 * ttr_bp
        |   + 120 * n_words AS score
        | FROM f),
        |t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
        | FROM documents),
        |m AS (
        | SELECT doc_id, len(toks) AS w, nc - len(toks) + 1 AS alpha,
        |  len(list_distinct(toks)) AS nd,
        |  len(list_filter(list_distinct(toks), s -> s IN
        |   ('the','a','to','of','and','that','have','with'))) AS nstop,
        |  list_max(list_transform(list_distinct(toks),
        |   s -> len(list_filter(toks, x -> x = s)))) AS topc
        | FROM t),
        |lbl AS (
        | SELECT doc_id,
        |  ((w BETWEEN 15 AND 90) AND 4 * w <= alpha AND alpha <= 10 * w
        |    AND nstop >= 2 AND 10 * nd >= 3 * w AND 5 * topc <= w) AS keep
        | FROM m),
        |hist AS (
        | SELECT score,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nn
        | FROM sc JOIN lbl USING (doc_id) GROUP BY 1),
        |cum AS (
        | SELECT np, nn,
        |  coalesce(sum(nn) OVER (ORDER BY score
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
        | FROM hist)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * (2 * neg_below + nn)) AS BIGINT) AS u2,
        |  (10000 * CAST(sum(np * (2 * neg_below + nn)) AS BIGINT))
        |    // (2 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)) AS auc_bp
        |FROM cum""".stripMargin,
    "gopher_rules" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
        | FROM documents),
        |m AS (
        | SELECT doc_id, len(toks) AS w, nc - len(toks) + 1 AS alpha,
        |  len(list_distinct(toks)) AS nd,
        |  len(list_filter(list_distinct(toks), s -> s IN
        |   ('the','a','to','of','and','that','have','with'))) AS nstop,
        |  list_max(list_transform(list_distinct(toks),
        |   s -> len(list_filter(toks, x -> x = s)))) AS topc
        | FROM t)
        |SELECT doc_id, w AS n_words,
        | w BETWEEN 15 AND 90 AS r_word_count,
        | (4 * w <= alpha AND alpha <= 10 * w) AS r_word_len,
        | nstop >= 2 AS r_stopwords,
        | 10 * nd >= 3 * w AS r_ttr,
        | 5 * topc <= w AS r_top_token,
        | ((w BETWEEN 15 AND 90) AND 4 * w <= alpha AND alpha <= 10 * w
        |   AND nstop >= 2 AND 10 * nd >= 3 * w AND 5 * topc <= w) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // bigram add-1 model: prefix counts REUSE the bigram table; the
    // two ln terms rounded once per bigram type, BIGINT doc sums
    "bigram_surprisal" ->
      """WITH tok AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bgocc AS (
        | SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |   THEN list_transform(range(1, len(toks)),
        |                       i -> toks[i] || ' ' || toks[i+1])
        |   ELSE [] END) AS bg
        | FROM tok),
        |bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt
        |         FROM bgocc GROUP BY 1),
        |pcnt AS (SELECT string_split(bg, ' ')[1] AS t1,
        |          CAST(sum(cnt) AS BIGINT) AS pc FROM bcnt GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM
        |       (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        |smap AS (
        | SELECT bg,
        |  CAST(round((ln(pc + v) - ln(cnt + 1)) * 1000000) AS BIGINT) AS s
        | FROM bcnt JOIN pcnt ON string_split(bg, ' ')[1] = pcnt.t1
        | CROSS JOIN vv),
        |per_doc AS (
        | SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(s.s) AS BIGINT) AS surprisal_micro
        | FROM bgocc b JOIN smap s USING (bg) GROUP BY 1)
        |SELECT d.doc_id,
        | coalesce(p.n_bigrams, 0) AS n_bigrams,
        | coalesce(p.surprisal_micro, 0) AS surprisal_micro,
        | CASE WHEN coalesce(p.n_bigrams, 0) > 0
        |   THEN p.surprisal_micro // p.n_bigrams END AS mean_micro,
        | coalesce((p.surprisal_micro // p.n_bigrams)
        |   BETWEEN 3340000 AND 3420000, FALSE) AS keep
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the absolute-discount backoff model: one rational per seen
    // bigram type, two pinned-order ln terms rounded once
    "bigram_surprisal_kn" ->
      """WITH tok AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bgocc AS (
        | SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |   THEN list_transform(range(1, len(toks)),
        |                       i -> toks[i] || ' ' || toks[i+1])
        |   ELSE [] END) AS bg
        | FROM tok),
        |bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt
        |         FROM bgocc GROUP BY 1),
        |pstats AS (SELECT string_split(bg, ' ')[1] AS t1,
        |  CAST(sum(cnt) AS BIGINT) AS pc,
        |  CAST(count(*) AS BIGINT) AS t1types FROM bcnt GROUP BY 1),
        |ucnt AS (SELECT t, CAST(count(*) AS BIGINT) AS u FROM
        | (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        | GROUP BY 1),
        |tot AS (SELECT CAST(sum(u) AS BIGINT) AS n_tok,
        |        CAST(count(*) AS BIGINT) AS v FROM ucnt),
        |smap AS (
        | SELECT bg,
        |  CAST(round((ln(4*pc*(n_tok+v))
        |    - ln((4*cnt-3)*(n_tok+v) + 3*t1types*(u+1)))
        |   * 1000000) AS BIGINT) AS s
        | FROM bcnt JOIN pstats ON string_split(bg, ' ')[1] = pstats.t1
        |  JOIN ucnt ON string_split(bg, ' ')[2] = ucnt.t
        |  CROSS JOIN tot),
        |per_doc AS (
        | SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(s.s) AS BIGINT) AS surprisal_micro
        | FROM bgocc b JOIN smap s USING (bg) GROUP BY 1)
        |SELECT d.doc_id,
        | coalesce(p.n_bigrams, 0) AS n_bigrams,
        | coalesce(p.surprisal_micro, 0) AS surprisal_micro,
        | CASE WHEN coalesce(p.n_bigrams, 0) > 0
        |   THEN p.surprisal_micro // p.n_bigrams END AS mean_micro
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // train-split models, every split scored by add-1 AND backoff via
    // the one-formula-per-model fallback ladder
    "lm_heldout_bigram" ->
      s"""WITH sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN b < ${4294967296L * 80 / 100} THEN 'train'
         |       WHEN b < ${4294967296L * 90 / 100} THEN 'val'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, text,
         |        ${TextAnalysis.sampleBucketSql} AS b FROM documents)),
         |tok AS (
         | SELECT split, string_split(text, ' ') AS toks FROM sp),
         |bgall AS (
         | SELECT split, unnest(CASE WHEN len(toks) >= 2
         |   THEN list_transform(range(1, len(toks)),
         |                       i -> toks[i] || ' ' || toks[i+1])
         |   ELSE [] END) AS bg
         | FROM tok),
         |btr AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
         |        FROM bgall WHERE split = 'train' GROUP BY 1),
         |pstats AS (SELECT string_split(bg, ' ')[1] AS t1,
         |  CAST(sum(c12) AS BIGINT) AS c1,
         |  CAST(count(*) AS BIGINT) AS t1types FROM btr GROUP BY 1),
         |cstats AS (SELECT string_split(bg, ' ')[2] AS t2,
         |  CAST(count(*) AS BIGINT) AS cont FROM btr GROUP BY 1),
         |ucnt AS (SELECT t, CAST(count(*) AS BIGINT) AS u FROM
         | (SELECT unnest(string_split(text, ' ')) AS t FROM sp
         |  WHERE split = 'train') GROUP BY 1),
         |tot AS (SELECT CAST(sum(u) AS BIGINT) AS n_tok,
         |        CAST(count(*) AS BIGINT) AS v FROM ucnt),
         |btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM btr),
         |rows AS (
         | SELECT b.split, (t.c12 IS NULL) AS unseen,
         |  CAST(round((ln(COALESCE(p.c1, 0) + tt.v)
         |    - ln(COALESCE(t.c12, 0) + 1)) * 1000000) AS BIGINT) AS s_add1,
         |  CAST(round((CASE WHEN p.c1 IS NOT NULL
         |    THEN ln(4*p.c1*(tt.n_tok+tt.v))
         |      - ln(greatest(4*COALESCE(t.c12, 0) - 3, 0)*(tt.n_tok+tt.v)
         |          + 3*p.t1types*(COALESCE(u.u, 0) + 1))
         |    ELSE ln(tt.n_tok+tt.v) - ln(COALESCE(u.u, 0) + 1) END)
         |   * 1000000) AS BIGINT) AS s_kn,
         |  CAST(round((CASE WHEN p.c1 IS NOT NULL
         |    THEN ln(4*p.c1*(bb.b+tt.v))
         |      - ln(greatest(4*COALESCE(t.c12, 0) - 3, 0)*(bb.b+tt.v)
         |          + 3*p.t1types*(COALESCE(cs.cont, 0) + 1))
         |    ELSE ln(bb.b+tt.v) - ln(COALESCE(cs.cont, 0) + 1) END)
         |   * 1000000) AS BIGINT) AS s_knc
         | FROM bgall b
         |  LEFT JOIN btr t USING (bg)
         |  LEFT JOIN pstats p ON string_split(b.bg, ' ')[1] = p.t1
         |  LEFT JOIN cstats cs ON string_split(b.bg, ' ')[2] = cs.t2
         |  LEFT JOIN ucnt u ON string_split(b.bg, ' ')[2] = u.t
         |  CROSS JOIN tot tt CROSS JOIN btot bb),
         |agg AS (
         | SELECT split, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT)
         |   AS unseen_bigrams,
         |  CAST(sum(s_add1) AS BIGINT) AS sa,
         |  CAST(sum(s_kn) AS BIGINT) AS sk,
         |  CAST(sum(s_knc) AS BIGINT) AS skc
         | FROM rows GROUP BY 1)
         |SELECT 'add1' AS model, split, n_bigrams, unseen_bigrams,
         | sa // n_bigrams AS mean_micro FROM agg
         |UNION ALL
         |SELECT 'backoff', split, n_bigrams, unseen_bigrams,
         | sk // n_bigrams FROM agg
         |UNION ALL
         |SELECT 'kn_cont', split, n_bigrams, unseen_bigrams,
         | skc // n_bigrams FROM agg
         |ORDER BY model, split""".stripMargin,
    // interpolated trigram KN: one exact rational per seen trigram
    // type (nested middle-order continuation), two pinned ln terms
    "trigram_surprisal_kn" ->
      s"""WITH $trigramPerDocCtes
         |SELECT d.doc_id, coalesce(p.n_trigrams, 0) AS n_trigrams,
         | coalesce(p.surprisal_micro, 0) AS surprisal_micro,
         | CASE WHEN coalesce(p.n_trigrams, 0) > 0
         |   THEN p.surprisal_micro // p.n_trigrams END AS mean_micro
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // per-(lang, bucket) histogram of per-doc mean trigram-KN
    // surprisal; bucket = exact floor-div (non-negative, so Spark's
    // trunc div agrees), NULL bucket for no-evidence docs
    "ppl_histogram" ->
      s"""WITH $trigramPerDocCtes,
         |dsc AS (
         | SELECT d.lang,
         |  CASE WHEN coalesce(p.n_trigrams, 0) > 0
         |    THEN (p.surprisal_micro // p.n_trigrams) // 500000 END
         |   AS bucket,
         |  coalesce(p.n_trigrams, 0) AS n_trigrams,
         |  CASE WHEN coalesce(p.n_trigrams, 0) > 0
         |    THEN p.surprisal_micro // p.n_trigrams END AS mean_micro
         | FROM documents d LEFT JOIN per_doc p USING (doc_id))
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_trigrams) AS BIGINT) AS n_trigrams,
         | min(mean_micro) AS min_mean_micro,
         | max(mean_micro) AS max_mean_micro
         |FROM dsc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // train-split trigram KN vs bigram KN on the SAME trigram
    // positions, full three-level fallback ladder
    "lm_heldout_trigram" ->
      s"""WITH sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN b < ${4294967296L * 80 / 100} THEN 'train'
         |       WHEN b < ${4294967296L * 90 / 100} THEN 'val'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, text,
         |        ${TextAnalysis.sampleBucketSql} AS b FROM documents)),
         |tokall AS (
         | SELECT split, string_split(text, ' ') AS toks FROM sp),
         |tgall AS (
         | SELECT split, unnest(CASE WHEN len(toks) >= 3
         |   THEN list_transform(range(1, len(toks) - 1),
         |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |   ELSE [] END) AS tg
         | FROM tokall),
         |tok AS (SELECT toks FROM tokall WHERE split = 'train'),
         |$trigramStreamCtesNoDoc
         |btr AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb2
         |        FROM bgocc GROUP BY 1),
         |bpstats AS (SELECT string_split(bg, ' ')[1] AS bt1,
         |  CAST(sum(cb2) AS BIGINT) AS bc1,
         |  CAST(count(*) AS BIGINT) AS bt1types FROM btr GROUP BY 1),
         |rows AS (
         | SELECT g.split, (t.c123 IS NULL) AS unseen,
         |  CAST(round((CASE
         |    WHEN p.c12 IS NOT NULL
         |    THEN ln(4*p.c12*(4*ms.m2*(bb.b+vv.v)))
         |      - ln(greatest(4*COALESCE(t.c123, 0) - 3, 0)
         |            *(4*ms.m2*(bb.b+vv.v))
         |          + 3*p.t12types*(greatest(4*COALESCE(m.m23, 0) - 3, 0)
         |              *(bb.b+vv.v)
         |            + 3*ms.t2types*(COALESCE(cs.cont, 0)+1)))
         |    WHEN ms.m2 IS NOT NULL
         |    THEN ln(4*ms.m2*(bb.b+vv.v))
         |      - ln(greatest(4*COALESCE(m.m23, 0) - 3, 0)*(bb.b+vv.v)
         |          + 3*ms.t2types*(COALESCE(cs.cont, 0)+1))
         |    ELSE ln(bb.b+vv.v) - ln(COALESCE(cs.cont, 0) + 1) END)
         |   * 1000000) AS BIGINT) AS s_tri,
         |  CAST(round((CASE WHEN bp.bc1 IS NOT NULL
         |    THEN ln(4*bp.bc1*(bb.b+vv.v))
         |      - ln(greatest(4*COALESCE(bt.cb2, 0) - 3, 0)*(bb.b+vv.v)
         |          + 3*bp.bt1types*(COALESCE(cs.cont, 0) + 1))
         |    ELSE ln(bb.b+vv.v) - ln(COALESCE(cs.cont, 0) + 1) END)
         |   * 1000000) AS BIGINT) AS s_big
         | FROM tgall g
         |  LEFT JOIN tcnt t USING (tg)
         |  LEFT JOIN pstats p ON string_split(g.tg, ' ')[1] || ' '
         |    || string_split(g.tg, ' ')[2] = p.p12
         |  LEFT JOIN mid m ON string_split(g.tg, ' ')[2] || ' '
         |    || string_split(g.tg, ' ')[3] = m.s23
         |  LEFT JOIN mstats ms ON string_split(g.tg, ' ')[2] = ms.mt2
         |  LEFT JOIN cstats cs ON string_split(g.tg, ' ')[3] = cs.ct3
         |  LEFT JOIN btr bt ON string_split(g.tg, ' ')[2] || ' '
         |    || string_split(g.tg, ' ')[3] = bt.bg
         |  LEFT JOIN bpstats bp ON string_split(g.tg, ' ')[2] = bp.bt1
         |  CROSS JOIN btot bb CROSS JOIN vtot vv),
         |agg AS (
         | SELECT split, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT)
         |   AS unseen_trigrams,
         |  CAST(sum(s_tri) AS BIGINT) AS st,
         |  CAST(sum(s_big) AS BIGINT) AS sb
         | FROM rows GROUP BY 1)
         |SELECT 'kn_bigram' AS model, split, n_trigrams, unseen_trigrams,
         | sb // n_trigrams AS mean_micro FROM agg
         |UNION ALL
         |SELECT 'kn_trigram', split, n_trigrams, unseen_trigrams,
         | st // n_trigrams FROM agg
         |ORDER BY model, split""".stripMargin,
    // add-1 smoothed per-type KL contribution, four ln terms in the
    // Spark-side order, q-hat as a double division on both engines
    "vocab_kl_drift" ->
      """WITH occ AS (
        | SELECT (source IN ('src0', 'src1')) AS is_new,
        |  unnest(string_split(text, ' ')) AS t
        | FROM documents),
        |cnts AS (
        | SELECT t,
        |  CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS cnt_base,
        |  CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS cnt_new
        | FROM occ GROUP BY 1),
        |tots AS (SELECT CAST(sum(cnt_base) AS BIGINT) AS tot_base,
        |  CAST(sum(cnt_new) AS BIGINT) AS tot_new,
        |  CAST(count(*) AS BIGINT) AS v FROM cnts),
        |scored AS (
        | SELECT t, cnt_base, cnt_new,
        |  CAST(round(((cnt_new + 1) / (tot_new + v))
        |   * (ln(cnt_new + 1) - ln(tot_new + v)
        |      - ln(cnt_base + 1) + ln(tot_base + v))
        |   * 1000000) AS BIGINT) AS kl_contrib_micro
        | FROM cnts CROSS JOIN tots)
        |SELECT t, cnt_base, cnt_new, kl_contrib_micro,
        | abs(kl_contrib_micro) >= 300 AS driver
        |FROM scored ORDER BY t""".stripMargin)
}
