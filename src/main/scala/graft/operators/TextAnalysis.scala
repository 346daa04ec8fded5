package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}

import graft.core.Tables
import graft.functions.TextFunctions._

/** Text analysis + exact dedup for the training-data-pipeline surface:
  * quality scoring, language ID, token counting, fingerprinting — all
  * pure column functions (no UDFs, whole-stage-codegen friendly), each
  * replicated exactly by a DuckDB oracle.
  */
object TextAnalysis {

  // ---------------------------------------------------------------- exact dedup

  /** Exact dedup: canonical keep-id per identical-text class.
    *
    * Scale shape: the window partitions by md5(text) — a 32-byte key —
    * so the shuffle carries a fixed-width hash instead of the full text
    * as the partition key. One shuffle total; at 100 TB this is the
    * minimum possible for a global dedup (every equality class must
    * meet on one partition). */
  def dedupExact(docs: DataFrame): DataFrame = {
    val w = W.partitionBy(md5(col("text")))
    docs.select(
      col("doc_id"),
      min(col("doc_id")).over(w).as("keep_id"))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
  }

  def dedupExactQuery(spark: SparkSession, dir: String): DataFrame =
    dedupExact(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The normalization applied before fuzzy-exact dedup: lowercase,
    * strip everything but [a-z0-9 ], collapse runs of spaces, trim.
    * Shared between the operator and its spec; the regex subset
    * ([^...] classes, ' +') is one Java and RE2 evaluate identically —
    * the same contract the PII patterns rely on. */
  private[operators] def normExpr(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Normalized exact dedup (the "fuzzy-exact" rule most corpus
    * pipelines run between exact and near-dup passes): docs equal
    * after case-folding, punctuation stripping and whitespace
    * collapse are duplicates — catches reformatted copies that hash
    * differently but need no Jaccard machinery.
    *
    * Scale shape: identical to dedupExact — ONE shuffle, keyed on the
    * 32-byte md5 of the NORMALIZED text (normalization runs map-side
    * in the scan stage; the shuffle still carries a fixed-width key,
    * never the text). */
  def dedupExactNorm(docs: DataFrame): DataFrame = {
    val w = W.partitionBy(md5(normExpr(col("text"))))
    docs.select(
      col("doc_id"),
      min(col("doc_id")).over(w).as("keep_id"))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
  }

  def dedupExactNormQuery(spark: SparkSession, dir: String): DataFrame =
    dedupExactNorm(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- quality

  private[operators] val enStop = Seq("the", "a", "of", "and", "to", "is", "in")

  /** The corpus keep rule as a reusable column expression (word count
    * in [5, 1000] and ROUNDED alpha ratio > 0.5 — the rounding matters
    * for cross-engine tie behavior). Shared by textQuality and the
    * fused curation pipeline so the rule cannot drift. */
  def qualityKeepExpr(text: Column): Column = {
    val nWords = size(tokens(text))
    val alpha = round(
      length(regexp_replace(text, "[^a-z]", "")).cast("double") / length(text), 4)
    nWords >= 5 && nWords <= 1000 && alpha > 0.5
  }

  /** Quality scoring: length/word/punctuation/alpha/stopword ratios and
    * a keep flag — the standard pre-training corpus filters. Ratios are
    * exact int/int double divisions, bit-identical across engines. */
  def textQuality(docs: DataFrame): DataFrame = {
    val nChars = length(col("text"))
    val toks   = tokens(col("text"))
    val nWords = size(toks)
    val nPunct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", ""))
    val nStop  = size(filter(toks, t => t.isin(enStop: _*)))
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      round((nChars - (nWords - lit(1))).cast("double") / nWords, 4).as("avg_word_len"),
      round(nPunct.cast("double") / nChars, 4).as("punct_ratio"),
      round(nAlpha.cast("double") / nChars, 4).as("alpha_ratio"),
      round(nStop.cast("double") / nWords, 4).as("stopword_ratio"),
      qualityKeepExpr(col("text")).as("keep"))
  }

  def textQualityQuery(spark: SparkSession, dir: String): DataFrame =
    textQuality(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- lang id

  /** Stopword inventories per language. Deliberately small and
    * non-overlapping so the scoring is transparent; the oracle carries
    * the same lists. */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> enStop,
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une", "des"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Heuristic language ID: per-language stopword hit counts, argmax
    * with a fixed priority order (en > de > es > fr > zh) on ties, and
    * 'und' when no list scores. Emitted next to the labeled `lang`
    * column with a correctness flag so the operator doubles as an
    * accuracy eval. */
  /** The language prediction as a reusable column expression — shared
    * by langId and the fused curation pipeline. */
  def predLangExpr(text: Column): Column = {
    val toks = tokens(text)
    val score: Map[String, Column] = stopwords.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }.toMap
    val Seq(en, de, es, fr, zh) =
      Seq("en", "de", "es", "fr", "zh").map(score)
    when(en === 0 && de === 0 && es === 0 && fr === 0 && zh === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr && en >= zh, lit("en"))
      .when(de >= es && de >= fr && de >= zh, lit("de"))
      .when(es >= fr && es >= zh, lit("es"))
      .when(fr >= zh, lit("fr"))
      .otherwise(lit("zh"))
  }

  def langId(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("lang").as("true_lang"),
      predLangExpr(col("text")).as("pred_lang"))
      .withColumn("correct", col("pred_lang") === col("true_lang"))

  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  private[operators] val langList = Seq("de", "en", "es", "fr", "zh")

  /** Char-trigram generative language ID (the Cavnar–Trenkle 1994
    * n-gram family at LM order, the dual of row 29's stopword
    * heuristic): per-language add-1-smoothed trigram models TRAINED
    * FROM the labeled corpus itself, each doc classified by argmax of
    * Σ log p(tri | lang) over its trigram occurrences — no curated
    * word list, so it generalizes to languages the stopword table
    * doesn't cover and doubles as an accuracy eval against the label.
    *
    * Fixed-point discipline (the lm_surprisal contract): per-(lang,
    * tri) log-prob rounded ONCE to integer micro-nats with the two ln
    * terms in pinned order (ln(cnt+1) − ln(tot+V)); unseen trigrams
    * score the language's smoothing floor (same expression at cnt=0);
    * doc scores are BIGINT sums — bit-identical in any order; argmax
    * ties break to the alphabetically first language via one in-row
    * array_min over (−score, lang) structs.
    *
    * Scale shape: training is ONE corpus pass — a single map-side-
    * combined (lang, tri) count, localCheckpointed at vocab size;
    * per-language totals are Σcnt OVER that table and V a distinct
    * count over it (the bigram_surprisal discipline: every derived
    * statistic comes FROM the count table, never a corpus rescan — the
    * trigram explode is the largest intermediate in the pipeline and
    * is materialized exactly once). The model collapses to a
    * BROADCAST vocab-wide score table (V rows × |langs| columns, all
    * floors pre-substituted so lookups never branch), and
    * CLASSIFICATION is the codegen path: trigram explode → broadcast
    * hash join → map-side-combined per-doc sum columns → in-row
    * argmin. The r12 rework replaced five interpreted per-trigram map
    * folds with this join (the classify stage was 60% of the wall at
    * sf0.1 — interpreted HOF probes, the round-5 ANN lesson applied
    * to the scorer); the one exchange carries doc-sized partial sums
    * (n×5 longs), never the trigram stream. Total corpus scans: 2
    * (train + classify). */
  def langIdNgram(docs: DataFrame): DataFrame = {
    val tri3 = expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
    val eligible = docs.filter(length(col("text")) >= 3)
    val occ = eligible.select(col("lang"), explode(tri3).as("s3"))
    val cnts = occ.groupBy("lang", "s3").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tots = cnts.groupBy("lang").agg(sum(col("cnt")).as("tot"))
    val vsz = cnts.agg(count_distinct(col("s3")).as("vsz"))
    val sv = cnts.join(tots, "lang").crossJoin(broadcast(vsz))
      .select(col("lang"), col("s3"),
        round((log(col("cnt") + 1) - log(col("tot") + col("vsz")))
          * lit(1000000.0d)).cast("long").as("sv"))
    val fCols = langList.map(l =>
      max(when(col("lang") === l, col("fv"))).as(s"f_$l"))
    val floorRow = tots.crossJoin(broadcast(vsz))
      .select(col("lang"),
        round((log(lit(1.0d)) - log(col("tot") + col("vsz")))
          * lit(1000000.0d)).cast("long").as("fv"))
      .groupBy(lit(1).as("g"))
      .agg(fCols.head, fCols.tail: _*).drop("g")
    // vocab-wide score table, one row per trigram, one column per
    // language, floors substituted where a language never saw the
    // trigram — so the classify join needs no per-row branching.
    // A language absent from training has NULL floor AND NULL sv:
    // its column stays all-NULL, the per-doc sum is NULL, and the
    // argmin ranks it last (the oracle's inner join on floors
    // equivalently never lets an untrained language win).
    val vCols = langList.map(l =>
      max(when(col("lang") === l, col("sv"))).as(s"v_$l"))
    val svw = sv.groupBy("s3")
      .agg(vCols.head, vCols.tail: _*)
      .crossJoin(broadcast(floorRow))
      .select(col("s3") +: langList.map(l =>
        coalesce(col(s"v_$l"), col(s"f_$l")).as(s"sv_$l")): _*)
    val sumCols = langList.map(l => sum(col(s"sv_$l")).as(s"sc_$l"))
    val scored = eligible
      .select(col("doc_id"), col("lang").as("true_lang"),
        explode(tri3).as("s3"))
      .join(broadcast(svw), Seq("s3"), "left")
      .crossJoin(broadcast(floorRow))
      // an UNSEEN trigram (not in any language's training stream)
      // scores every language's floor — same value the fold's
      // element_at-miss branch produced
      .select(col("doc_id") +: col("true_lang") +: langList.map(l =>
        coalesce(col(s"sv_$l"), col(s"f_$l")).as(s"sv_$l")): _*)
      .groupBy("doc_id", "true_lang")
      .agg(sumCols.head, sumCols.tail: _*)
    val best = array_min(array(langList.map(l =>
      struct(when(col(s"sc_$l").isNull, lit(Long.MaxValue))
          .otherwise(lit(0L) - col(s"sc_$l")).as("ns"),
        lit(l).as("lg"))): _*))
    scored
      .select(col("doc_id"), col("true_lang"), best.getField("lg").as("pred_lang"))
      .withColumn("correct", col("pred_lang") === col("true_lang"))
  }

  def langIdNgramQuery(spark: SparkSession, dir: String): DataFrame =
    langIdNgram(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Span-corruption PLAN (the T5/UL2 denoising-objective prep, Raffel
    * et al. 2020 §3.1.4): deterministic non-overlapping mask spans —
    * each full `blockSize`-token block masks one `spanLen`-token span
    * at an md5-derived in-block offset, so the mask rate is
    * spanLen/blockSize (15% at the 3/20 defaults) and spans CANNOT
    * overlap by construction (the property ad-hoc random span
    * placement has to rejection-sample for); a doc's plan is a pure
    * function of (doc_id, text) — reproducible across epochs, engines
    * and retries, like every sampling decision in this library.
    * Output one row per span: (doc_id, block, span_start, span_text).
    * Docs shorter than one block emit nothing (nothing to mask at the
    * target rate). Entirely map-only: blocks explode from an in-row
    * sequence, offsets are in-row hashes, span text an in-row slice. */
  def spanCorruptionPlan(docs: DataFrame, blockSize: Int = 20,
                         spanLen: Int = 3): DataFrame = {
    require(spanLen >= 1 && blockSize > spanLen)
    val nBlocks = (size(tokens(col("text"))) / blockSize).cast("int")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        explode(when(nBlocks >= 1, sequence(lit(0), nBlocks - 1))
          .otherwise(array().cast("array<int>"))).as("block"))
      .withColumn("off",
        (hash28(concat(col("doc_id").cast("string"), lit("#"),
          col("block").cast("string")))
          % (blockSize - spanLen + 1)).cast("int"))
      .select(col("doc_id"), col("block"),
        (col("block") * blockSize + col("off")).cast("long").as("span_start"),
        concat_ws(" ", slice(col("toks"),
          col("block") * blockSize + col("off") + 1, lit(spanLen)))
          .as("span_text"))
  }

  def spanCorruptionPlanQuery(spark: SparkSession, dir: String): DataFrame =
    spanCorruptionPlan(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("block"))

  // ---------------------------------------------------------------- tokens

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs | digit runs | single other non-space). The pattern is
    * deliberately RE2-and-Java-regex agreeing. */
  def tokenCount(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"))
  }

  def tokenCountQuery(spark: SparkSession, dir: String): DataFrame =
    tokenCount(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- fingerprint

  /** Document fingerprinting: a 60-bit md5 whole-text fingerprint plus a
    * positional polynomial over token hashes (order-sensitive, so
    * re-ordered words change it, unlike a bag-of-words hash). All
    * integer arithmetic — bit-identical across engines; max term is
    * n_tokens * 2^28, far below long overflow. */
  def docFingerprint(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val poly = aggregate(
      transform(toks, (t, i) => (i + lit(1)).cast("long") * hash28(t)),
      lit(0L), (acc, x) => acc + x) % lit(1000000007L)
    docs.select(
      col("doc_id"),
      hash60(col("text")).as("fp60"),
      poly.as("poly_fp"))
  }

  def docFingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    docFingerprint(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- curation

  /** The end-to-end corpus curation pass a training-data pipeline
    * actually runs — quality filter → language ID → exact dedup →
    * per-language token accounting — FUSED into one plan instead of
    * joined op-by-op: every per-doc feature (keep flag, predicted
    * language, token count) is a column expression over the same scan,
    * so they all evaluate in one whole-stage-codegen pass; the only
    * shuffles are the dedup window (fixed-width md5 key) and the final
    * tiny per-language aggregate. At 100 TB this reads the corpus
    * ONCE — the op-composition form (4 scans + 3 joins) reads it four
    * times and shuffles three 1:1 joins for nothing. */
  def curationSummary(docs: DataFrame): DataFrame = {
    val w = W.partitionBy(md5(col("text")))
    docs.select(
        col("doc_id"), col("text"),
        predLangExpr(col("text")).as("pred_lang"),
        size(tokens(col("text"))).as("ws_tokens"),
        qualityKeepExpr(col("text")).as("keep"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("keep") && col("doc_id") === col("keep_id"))
      .groupBy(col("pred_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("total_tokens"),
        round(sum(col("ws_tokens")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"))
  }

  def curationSummaryQuery(spark: SparkSession, dir: String): DataFrame =
    curationSummary(Tables.documents(spark, dir)).orderBy(col("pred_lang"))

  // ---------------------------------------------------------------- packing

  /** Token-budget packing: assign each doc to a training shard
    * (pack_id) by its starting offset in the per-(lang, source)
    * cumulative token stream — the deterministic, order-preserving
    * sharding a pre-training pipeline runs to cut a corpus into
    * ~budget-token chunks (greedy first-fit reshuffles docs and is
    * order-dependent; offset sharding is a pure function of the sorted
    * stream, so it is reproducible and resumable).
    *
    * Scale shape: ONE window, partitioned by (lang, source) — in a
    * real corpus `source` is the crawl shard (thousands to millions of
    * values), so partitions stay bounded; the global-stream variant
    * would need the classic two-phase scan (per-range partial sums +
    * broadcast prefix offsets) instead of a window. The running sum is
    * rows-framed (no range lookback), and pack_id is integer division
    * — no fp drift at any offset magnitude. */
  def packTokenBudget(docs: DataFrame, budget: Long): DataFrame =
    // the one-giant-shard degenerate case of the sharded form (shard =
    // doc_id div MaxValue = 0 everywhere, so the window keys and
    // offsets are identical — the equivalence the sharded spec pins);
    // ONE copy of the packing pipeline to keep in sync, not two
    packTokenBudgetSharded(docs, budget, Long.MaxValue).drop("shard")

  def packTokenBudgetQuery(spark: SparkSession, dir: String): DataFrame =
    packTokenBudget(Tables.documents(spark, dir), budget = 512)
      .orderBy(col("doc_id"))

  /** Sharded token-budget packing — the hot-stratum fallback measured
    * by ScaleProbe's [scale-prep-skew]: a window partition cannot be
    * AQE-split, so when one (lang, source) stratum owns a large corpus
    * share its whole prefix sum serializes in ONE task. Sharding by
    * doc_id range (shard = doc_id div shardDocs) caps every window
    * partition at ~shardDocs rows while keeping the assignment a pure
    * function of the sorted stream (reproducible, resumable — the
    * property plain packing has). The trade, stated: offsets reset at
    * shard boundaries, so each shard's final pack may run under
    * budget — bounded waste of < budget tokens per shard, the price of
    * bounded parallelism. A pack is identified by the full key
    * (lang, source, shard, pack_id) — pack_id alone restarts at 0 per
    * (stratum, shard), exactly as the plain operator's pack_id
    * restarts per stratum; no arithmetic composition of shard into
    * pack_id (a fixed stride would silently collide once a shard's
    * token mass exceeded stride×budget). */
  def packTokenBudgetSharded(docs: DataFrame, budget: Long,
                             shardDocs: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shardDocs > 0, s"shardDocs must be positive, got $shardDocs")
    val w = W.partitionBy(col("lang"), col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("lang"), col("source"),
        expr(s"doc_id div $shardDocs").as("shard"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"))
      .withColumn("start_off", coalesce(sum(col("ws_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"start_off div $budget"))
  }

  def packTokenBudgetShardedQuery(spark: SparkSession, dir: String): DataFrame =
    packTokenBudgetSharded(Tables.documents(spark, dir), budget = 512,
      shardDocs = 100).orderBy(col("doc_id"))

  /** GLOBAL token-budget packing (one corpus-wide stream in doc_id
    * order) via the classic TWO-PHASE prefix sum — the pattern that
    * replaces a window when there is no stratum key to partition by:
    * an unpartitioned window would sort the ENTIRE corpus in one task.
    *
    * Phase 1: per-range partial sums (range = doc_id div rangeDocs), a
    * map-side-combined aggregate over ~n/rangeDocs rows. Phase 2: the
    * exclusive prefix over RANGES — a window over the range frame,
    * which is rangeDocs-fold smaller than the corpus (pick rangeDocs
    * so that frame is millions, not billions) — broadcast-joined back,
    * so each doc's global offset = its range's base + its within-range
    * offset from a window bounded by rangeDocs rows. Offsets are
    * IDENTICAL to the single-window form (integer sums reassociate
    * exactly), which the oracle — a plain global window — proves. */
  def packTokenBudgetGlobal(docs: DataFrame, budget: Long,
                            rangeDocs: Long = 100000L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(rangeDocs > 0, s"rangeDocs must be positive, got $rangeDocs")
    val sized = docs.select(col("doc_id"),
      expr(s"doc_id div $rangeDocs").as("rng"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"))
    // phase 1: token mass per range (tiny frame: n / rangeDocs rows)
    val rangeSums = sized.groupBy("rng")
      .agg(sum(col("ws_tokens")).as("rng_tokens"))
    // phase 2: exclusive prefix over ranges — window over the SMALL
    // range frame only (single partition of n/rangeDocs rows, by
    // construction bounded), then broadcast back
    val wRng = W.orderBy(col("rng")).rowsBetween(W.unboundedPreceding, -1)
    val rangeBase = rangeSums
      .withColumn("rng_base", coalesce(sum(col("rng_tokens")).over(wRng), lit(0L)))
      .select(col("rng"), col("rng_base"))
    val wIn = W.partitionBy(col("rng")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    sized.join(broadcast(rangeBase), "rng")
      .withColumn("start_off",
        col("rng_base") + coalesce(sum(col("ws_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("ws_tokens"), col("start_off"),
        expr(s"start_off div $budget").as("pack_id"))
  }

  def packTokenBudgetGlobalQuery(spark: SparkSession, dir: String): DataFrame =
    packTokenBudgetGlobal(Tables.documents(spark, dir), budget = 512,
      rangeDocs = 100).orderBy(col("doc_id"))

  /** Pack MATERIALIZATION — the step after assignment: each pack's
    * member documents concatenated in stream order with an EOS
    * separator, plus audit counts — the physical training shard a
    * pretraining loader memory-maps. Split from packTokenBudget
    * deliberately: assignment shuffles only metadata columns and is
    * what dedup/sampling recompute against; materialization is the
    * one pass that must move the text itself.
    *
    * Scale shape: the assignment join is on doc_id (1:1, text moves
    * ONCE into its pack group); the groupBy collect_list is bounded
    * per pack by ~budget tokens + one doc overflow — pack granularity
    * is chosen precisely so a pack fits in memory, so the reassembly
    * aggregate is bounded by construction, never corpus-scale. */
  def materializePacks(docs: DataFrame, budget: Long,
                       eos: String = "<|eos|>"): DataFrame = {
    val assign = packTokenBudget(docs, budget)
      .select(col("doc_id"), col("lang"), col("source"),
        col("ws_tokens"), col("pack_id"))
    assign.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(col("lang"), col("source"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("n_tokens"),
        concat_ws(eos, transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("text").as("t")))),
          x => x.getField("t"))).as("pack_text"))
  }

  def materializePacksQuery(spark: SparkSession, dir: String): DataFrame =
    materializePacks(Tables.documents(spark, dir), budget = 512)
      .orderBy(col("lang"), col("source"), col("pack_id"))

  // ---------------------------------------------------------------- chunking

  /** Overlapping token-window chunking — the context-window prep step
    * of a pretraining / retrieval pipeline: each doc's token stream is
    * cut into chunks of `chunkTokens` starting every `stride` tokens
    * (stride < chunkTokens ⇒ overlap), with the tail chunk shortened
    * rather than dropped so every token lands in ≥1 chunk.
    *
    * Scale shape: map-only — sequence + explode amplify each doc by
    * ceil(n/stride) rows with NO shuffle and NO lambda (the chunk index
    * comes from exploding a numeric range, and the slice/concat are
    * native collection ops); partition output volume is bounded by
    * fanOut upstream. */
  def chunkTokens(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        explode(sequence(lit(0L),
          expr(s"(n_toks - 1) div $stride"))).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * stride)
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        least(lit(chunkTokens.toLong), col("n_toks") - col("start_tok"))
          .as("n_tok"),
        concat_ws(" ",
          slice(col("toks"), (col("start_tok") + 1).cast("int"), lit(chunkTokens)))
          .as("chunk_text"))
  }

  def chunkTokensQuery(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables.documents(spark, dir), chunkTokens = 32, stride = 8)
      .orderBy(col("doc_id"), col("chunk_id"))

  // ---------------------------------------------------------------- keywords

  /** Per-doc TF-IDF-style keyword extraction: top `k` tokens per doc
    * ranked by tf/df (term frequency over corpus document frequency —
    * the log-free form, so the score is ONE ieee division both engines
    * compute identically), ties broken on the token string.
    *
    * Scale shape: tf is a map-side-combined (doc, token) aggregate, df
    * an aggregate over the distinct postings joined back (the same
    * shape as the dedup df — never a window over the token key), and
    * the final top-k window partitions by doc_id (bounded by doc
    * vocabulary, never corpus-scale). */
  def keywordExtract(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val w = W.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t"))
    tf.join(df, "t")
      .withColumn("score", round(col("tf").cast("double") / col("df"), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  def keywordExtractQuery(spark: SparkSession, dir: String): DataFrame =
    keywordExtract(Tables.documents(spark, dir), k = 3)
      .orderBy(col("doc_id"), col("rnk"))

  // ---------------------------------------------------------------- repetition

  /** Internal-repetition quality signals (the Gopher-rule family): the
    * fraction of duplicated words / bigrams / trigrams WITHIN each
    * document — high values mark boilerplate loops, keyboard mash, and
    * template spam that per-corpus dedup cannot see (the doc is unique;
    * its content is not).
    *
    * dup_frac(k) = 1 − distinct_kgrams / total_kgrams (0 when the doc
    * has no k-grams). Entirely map-only: the token array and shingle
    * arrays are in-row collection ops, so the operator adds ZERO
    * shuffles to a curation scan at any corpus size. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    def dupFrac(all: Column): Column =
      when(size(all) > 0,
        round(lit(1.0) - size(array_distinct(all)).cast("double") / size(all), 4))
        .otherwise(lit(0.0))
    val toks = tokens(col("text"))
    docs.select(col("doc_id"),
      dupFrac(toks).as("dup_word_frac"),
      dupFrac(wordShingles(toks, 2)).as("dup_2gram_frac"),
      dupFrac(wordShingles(toks, 3)).as("dup_3gram_frac"))
  }

  def repetitionStatsQuery(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- blocklist

  /** Demo blocklist for the query entry; a real deployment loads a
    * domain list (C4 used the "bad words" list) — the operator takes
    * the terms as a parameter. */
  private[graft] val blockTerms = Seq("spark", "slow", "big")

  /** Term-blocklist filter + redaction — the C4-style banned-term rule
    * every public-web curation pipeline runs: per-doc count and ratio
    * of blocklisted tokens, a keep flag (C4 drops on ANY hit), and the
    * redacted text (hits masked with `***`) for pipelines that redact
    * instead of drop.
    *
    * Scale shape: entirely map-only — the blocklist compiles into an
    * `isin` literal set inside whole-stage codegen (for a list too big
    * to inline, the same operator becomes a broadcast left_semi join
    * on the exploded token — the decontaminate shape); ZERO shuffles
    * at any corpus size. */
  def blocklistRedact(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist must not be empty")
    val toks = tokens(col("text"))
    val nHits = size(filter(toks, t => t.isin(terms: _*)))
    docs.select(
      col("doc_id"),
      nHits.as("n_blocked"),
      round(nHits.cast("double") / size(toks), 4).as("blocked_ratio"),
      (nHits === 0).as("keep"),
      concat_ws(" ", transform(toks,
        t => when(t.isin(terms: _*), lit("***")).otherwise(t)))
        .as("redacted_text"))
  }

  def blocklistRedactQuery(spark: SparkSession, dir: String): DataFrame =
    blocklistRedact(Tables.documents(spark, dir), blockTerms)
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- pii

  /** PII patterns — deliberately in the regex dialect subset Java and
    * RE2 (DuckDB) evaluate identically: character classes, bounded
    * repetition, ASCII \b word boundaries; no backrefs, no lookaround
    * (RE2 has neither). */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    // (name, pattern, replacement) — applied IN ORDER: email first (it
    // contains dots/digits the later rules would mangle), then dotted
    // IPv4, then long digit runs (account/card-number shaped)
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("idnum", "\\b\\d{9,}\\b", "[IDNUM]"))

  /** PII detection + redaction — the privacy-scrub pass a public-web
    * corpus runs before training: per-doc counts of email / IPv4 /
    * long-digit-run matches, a has_pii flag, and the redacted text
    * with each match replaced by a typed sentinel. Entirely map-only
    * regex column ops (codegen'd, zero shuffles); rules apply in a
    * fixed order so overlapping matches resolve identically in any
    * engine. */
  def piiRedact(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).as(s"n_$name")
    }
    val redacted = piiPatterns.foldLeft(col("text")) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
    }
    docs.select(col("doc_id") +: counts :+
      redacted.as("redacted_text"): _*)
      .withColumn("has_pii",
        piiPatterns.map { case (n, _, _) => col(s"n_$n") > 0 }
          .reduce(_ || _))
  }

  def piiRedactQuery(spark: SparkSession, dir: String): DataFrame =
    piiRedact(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- mixture

  /** Per-language epoch weights for the query entry: >1 upsamples
    * (full copies + a deterministic fractional remainder), <1
    * downsamples (the fractional rule alone), 1.0 passes through. */
  private[graft] val mixtureWeights: Seq[(String, Double)] = Seq(
    "en" -> 0.7, "de" -> 1.5, "es" -> 1.0, "fr" -> 2.5, "zh" -> 3.0)

  /** Mixture construction by deterministic epoch replication — the
    * up/down-weighting step that turns a curated corpus into a
    * training mixture: each doc is emitted floor(w) times, plus one
    * more iff its md5 bucket falls under the fractional part (the
    * SAME bucket rule as stratifiedSample, so a doc's fate is a pure
    * function of (doc_id, lang) — reproducible across runs, engines,
    * and cluster sizes; weights < 1 degenerate to stratified
    * downsampling, the two rules provably one mechanism). Languages
    * absent from the weight list get weight 0 (dropped).
    *
    * Scale shape: map-only — the copy fan-out is an explode over a
    * per-row numeric range (no shuffle, no RNG state); output volume
    * is sum(w_l * n_l) rows, the training-mixture size itself. */
  def upsampleMixture(docs: DataFrame,
                      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.forall(_._2 >= 0), "weights must be non-negative")
    val base = weights.foldLeft(lit(0L)) { case (acc, (lang, w)) =>
      when(col("lang") === lang, lit(math.floor(w).toLong)).otherwise(acc)
    }
    val fracThresh = weights.foldLeft(lit(0L)) { case (acc, (lang, w)) =>
      when(col("lang") === lang,
        lit(((w - math.floor(w)) * 4294967296L).toLong)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"), sampleBucket.as("bucket"))
      .withColumn("n_copies",
        base + when(col("bucket") < fracThresh, lit(1L)).otherwise(lit(0L)))
      // sequence(1, 0) counts DOWNWARD in Spark — filter before exploding
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("lang"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  def upsampleMixtureQuery(spark: SparkSession, dir: String): DataFrame =
    upsampleMixture(Tables.documents(spark, dir), mixtureWeights)
      .orderBy(col("doc_id"), col("copy"))

  // ---------------------------------------------------------------- caps

  /** Per-source document cap — the standard anti-domination rule of a
    * curation mixture (no single domain/crawl-source may contribute
    * more than maxDocs documents): keep the first maxDocs docs per
    * source in doc_id order, emitting a keep flag for EVERY doc (rows
    * are never dropped — a NULL source forms its own capped group,
    * which is why the count join-back is null-safe).
    *
    * Scale shape: ONE window partitioned by source — in a real corpus
    * source is the domain/crawl shard (high cardinality), so
    * partitions stay bounded; a pathological mega-source serializes
    * its sort in one task, the same residual as the pack window with
    * the same mitigation family (pre-filter by a cheap per-source
    * count join-back before ranking — only sources OVER the cap need
    * the ordered rank at all). That pre-filter is implemented: sources
    * at or under the cap skip the window entirely via a
    * map-side-combined count + broadcastable join. */
  def capPerSource(docs: DataFrame, maxDocs: Int): DataFrame = {
    require(maxDocs > 0, s"maxDocs must be positive, got $maxDocs")
    val base = docs.select(col("doc_id"), col("source"))
    val srcCounts = base.groupBy("source")
      .agg(count(lit(1)).as("src_docs"))
      .select(col("source").as("cs"), col("src_docs"))
    // null-safe key: groupBy emits a NULL-source group, and a plain
    // equi-join would silently DROP every null-source row here
    val joined = base.join(srcCounts, col("source") <=> col("cs"))
      .select(col("doc_id"), col("source"), col("src_docs"))
    val small = joined.filter(col("src_docs") <= maxDocs)
      .select(col("doc_id"), col("source"), lit(true).as("keep"))
    val w = W.partitionBy(col("source")).orderBy(col("doc_id"))
    val big = joined.filter(col("src_docs") > maxDocs)
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("source"), (col("rnk") <= maxDocs).as("keep"))
    small.unionByName(big)
  }

  def capPerSourceQuery(spark: SparkSession, dir: String): DataFrame =
    capPerSource(Tables.documents(spark, dir), maxDocs = 30)
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- sampling

  /** Default per-language sampling rates for the query entry — the
    * up/down-weighting shape every data-mixture recipe uses. */
  private[graft] val sampleRates: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "de" -> 0.3, "es" -> 0.3, "fr" -> 0.2, "zh" -> 0.2)

  /** The sampling bucket: first 32 md5 bits of doc_id as a long. */
  private[operators] def sampleBucket: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** The keep predicate as a reusable expression over (doc_id, lang) —
    * shared by stratifiedSample and the composed corpus-prep pipeline
    * so the sampling rule cannot drift between them. */
  private[operators] def sampleKeepExpr(rates: Seq[(String, Double)]): Column = {
    val thresh = rates.foldLeft(lit(0L)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit((r * 4294967296L).toLong)).otherwise(acc)
    }
    sampleBucket < thresh
  }

  /** Deterministic stratified sampling: keep a doc iff the first 32
    * md5 bits of its doc_id fall below floor(rate(lang) * 2^32). A
    * pure map-side filter — zero shuffles, zero RNG state — and the
    * SAME rows are kept on every run, every engine, every cluster
    * size: the property a training pipeline needs so a re-run (or an
    * incremental top-up) reproduces the mixture exactly. Unlisted
    * strata get rate 0. */
  def stratifiedSample(docs: DataFrame,
                       rates: Seq[(String, Double)]): DataFrame =
    docs.select(col("doc_id"), col("lang"), sampleBucket.as("bucket"))
      .filter(sampleKeepExpr(rates))

  def stratifiedSampleQuery(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), sampleRates)
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test holdout assignment — the disjoint
    * EXHAUSTIVE partition every training corpus needs before anything
    * else touches it (vs stratifiedSample, which thins). Same md5
    * bucket as the sampling family, so the split is a pure map-side
    * expression: reproducible across runs/engines, stable under
    * corpus growth (a doc's split never changes when other docs
    * arrive — the property a row_number-based split lacks), and free
    * of RNG state. Thresholds are integer floor(pct·2^32/100) so both
    * engines cut at exactly the same bucket. */
  def holdoutSplit(docs: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      splitColumn(trainPct, valPct).as("split"))

  /** The "train"/"val"/"test" label of [[holdoutSplit]] as a reusable
    * expression over doc_id — the one split rule every held-out
    * evaluation (lm_heldout_eval, the KN heldout ladder) tags with. */
  private[operators] def splitColumn(trainPct: Int, valPct: Int): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split $trainPct/$valPct")
    val trainT = 4294967296L * trainPct / 100
    val valT = 4294967296L * (trainPct + valPct) / 100
    when(sampleBucket < trainT, "train")
      .when(sampleBucket < valT, "val")
      .otherwise("test")
  }

  def holdoutSplitQuery(spark: SparkSession, dir: String): DataFrame =
    holdoutSplit(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Deterministic WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis 2006 exponential race: each doc draws
    * u ∈ (0, 1] from the family's md5 bucket ((bucket+1)/2^32 — exact
    * in double, no RNG state) and races with priority −ln(u)/w; the n
    * SMALLEST priorities win, which selects proportionally to weight
    * w without replacement — the principled way to thin a corpus
    * toward quality (w here = the alpha-ratio quality score + 1)
    * while every doc keeps a nonzero, weight-proportional chance.
    * Unlike temperature_sample (per-SOURCE reweighting) this races
    * DOCUMENTS; unlike stratifiedSample (per-stratum uniform thinning)
    * the keep decision is weight-graded. Priorities round once to
    * integer NANO units (pinned op order: ln → ×10^9 → /w → round);
    * ties break on the exact-integer md5 BUCKET before doc_id, so
    * whatever quantization collapses is re-decided by the race's own
    * randomness, not id order (at the old micro scale ~0.5% of docs
    * with w near 10⁴ landed on priority 0 and the doc_id tiebreak
    * biased selection toward low ids — the r13 ADVICE finding).
    * Stable across engines and runs, and a doc's priority never
    * changes as the corpus grows. Residual cross-engine assumption:
    * JVM Math.log and DuckDB ln are each ~1-ulp libm implementations
    * that agreed on every bucket value tested on this host pair; nano
    * scaling still leaves a 1-ulp ln disagreement ~1e-6 of the
    * rounding unit (the langIdNgram slack), so a flip would need a
    * value sitting within ~1e-6 of a .5 boundary — same discipline,
    * not a proof.
    *
    * Scale shape: scoring is MAP-ONLY; the global top-n plans as
    * TakeOrderedAndProject (per-partition heaps, no full sort
    * shuffle); the rank window runs over the n-row RESULT only. */
  /** The race's per-doc priorities WITHOUT the top-n cut — exposed
    * because a doc's priority is a pure function of (doc_id, text):
    * the streaming weighted reservoir (WeightedSampleStreamSpec)
    * maintains top-n over any arrival order from exactly this frame,
    * and min-n(A ∪ B) = min-n(min-n(A) ∪ B) makes the running
    * reservoir batch-split invariant by algebra. */
  private[graft] def weightedPriorities(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), sampleBucket.as("bucket"),
        expr("(10000 * length(regexp_replace(text, '[^a-z]', ''))) div length(text) + 1")
          .as("w_bp"))
      .withColumn("priority",
        round((lit(0.0d) - log((col("bucket") + 1).cast("double")
            / lit(4294967296.0d)))
          * lit(1.0e9d) / col("w_bp")).cast("long"))

  def weightedSample(docs: DataFrame, n: Int = 100): DataFrame = {
    require(n >= 1)
    val wr = W.orderBy(col("priority").asc, col("bucket"), col("doc_id"))
    weightedPriorities(docs)
      .orderBy(col("priority").asc, col("bucket"), col("doc_id")).limit(n)
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .select("doc_id", "source", "w_bp", "priority", "rnk")
  }

  def weightedSampleQuery(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir)).orderBy(col("rnk"))

  /** Deterministic global training-order shuffle + shard assignment:
    * every doc gets a dense permutation index 0..n−1 in md5-key order
    * (full digest of the family's md5(doc_id) derivation; doc_id
    * breaks digest collisions) and shard = idx div shardSize — the
    * reproducible dataloader order a training run needs (epoch
    * determinism, resumable mid-epoch by idx, shards of exactly
    * shardSize docs). The RANK-based complement to holdoutSplit:
    * split membership there is growth-stable by design; a permutation
    * index is inherently not (inserting a doc shifts everything
    * after it) — which is why shuffle order is stamped per corpus
    * VERSION, not maintained incrementally.
    *
    * Scale shape — the classic two-phase rank, never a global sort:
    * the bucket is the key's FIRST TWO HEX CHARS (256 values), an
    * order-preserving prefix, so (bucket, key) order ≡ key order by
    * construction; per-bucket counts (256 rows) take an exclusive
    * prefix sum in one tiny window; per-bucket dense ranks window
    * over ~n/256 rows each; idx = bucket offset + rank − 1. The
    * oracle computes the SAME index with one global window — the
    * two-phase equivalence is the point (packTokenBudgetGlobal's
    * discipline applied to a permutation). */
  def shuffleShards(docs: DataFrame, shardSize: Long = 1000L): DataFrame = {
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
    val keyed = docs.select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("bkt",
        conv(substring(col("skey"), 1, 2), 16, 10).cast("int"))
    val offs = keyed.groupBy("bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum(col("cnt")).over(W.orderBy(col("bkt"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val wB = W.partitionBy(col("bkt")).orderBy(col("skey"), col("doc_id"))
    keyed.withColumn("rn", row_number().over(wB))
      .join(broadcast(offs), "bkt")
      .select(col("doc_id"),
        (col("off") + col("rn") - 1).as("idx"))
      .withColumn("shard", expr(s"idx div $shardSize"))
  }

  def shuffleShardsQuery(spark: SparkSession, dir: String): DataFrame =
    shuffleShards(Tables.documents(spark, dir), shardSize = 64)
      .orderBy(col("idx"))

  /** Temperature-balanced language sampling (the multilingual-mixture
    * rule): each language is downsampled at rate
    * sqrt(n_lang / n_largest) — alpha = 0.5 temperature flattening
    * toward the largest language, the standard fix for head-language
    * domination. Selection reuses the stratified_sample md5-bucket
    * rule, so the kept set is bit-reproducible.
    *
    * Rates are DERIVED FROM THE DATA (unlike stratifiedSample's
    * configured rates): one tiny per-language aggregate (map-side
    * combined to |langs| rows), its max folded in as a scalar, and the
    * thresholds broadcast back onto a map-side filter — the doc-side
    * scan never shuffles. Every fp step is bit-deterministic
    * cross-engine: counts are exact longs, n/n_max is one IEEE divide,
    * sqrt is IEEE-exact, floor(rate·2^32) is exact below 2^53.
    *
    * 100 TB: the aggregate is the same one-pass lang count any mixture
    * audit runs; the filter side is identical to stratified_sample
    * (zero-shuffle map filter). */
  def temperatureSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val mx = counts.agg(max(col("n_docs")).as("n_max"))
    val thresholds = counts.crossJoin(broadcast(mx))
      .withColumn("rate", sqrt(col("n_docs").cast("double") / col("n_max")))
      .withColumn("thr", floor(col("rate") * 4294967296L).cast("long"))
      .select(col("lang").as("t_lang"), col("n_docs"), col("thr"))
    docs.select(col("doc_id"), col("lang"), sampleBucket.as("bucket"))
      .join(broadcast(thresholds), col("lang") === col("t_lang"))
      .filter(col("bucket") < col("thr"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("thr"))
  }

  def temperatureSampleQuery(spark: SparkSession, dir: String): DataFrame =
    temperatureSample(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- oracles

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  /** Oracle-side fragments mirrored from the column expressions above;
    * shared with the corpus-prep oracle so the rules cannot drift. */
  private[operators] val sampleBucketSql =
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)"
  private[operators] def sampleCaseSql: String =
    "CASE lang " + sampleRates.map { case (lang, r) =>
      s"WHEN '$lang' THEN ${(r * 4294967296L).toLong}"
    }.mkString(" ") + " ELSE 0 END"
  private[operators] val keepSql =
    """len(string_split(text,' ')) >= 5 AND len(string_split(text,' ')) <= 1000
      |  AND round(CAST(length(regexp_replace(text,'[^a-z]','','g')) AS DOUBLE)
      |   / length(text), 4) > 0.5""".stripMargin
  private[operators] def packSelectSql(budget: Long, from: String): String =
    s"""SELECT doc_id, lang, source, ws_tokens, start_off,
       | CAST(start_off // $budget AS BIGINT) AS pack_id
       |FROM (
       | SELECT doc_id, lang, source,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
       |  CAST(COALESCE(sum(len(string_split(text,' '))) OVER (
       |    PARTITION BY lang, source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |   AS start_off
       | FROM $from)""".stripMargin

  /** Per-source mixture audit — the table a pipeline owner reads
    * before setting mixture weights / per-source caps: document and
    * token counts, language spread, exact-duplicate count, and corpus
    * share per source.
    *
    * Scale shape: ONE corpus scan into one groupBy(source). The two
    * DISTINCT aggregates (langs, text hashes) make Catalyst plan an
    * Expand (3 projections of the thin pre-projected frame — source,
    * lang, md5, token count; the text column itself dies at the scan).
    * Exact per-source dup counting inherently moves one md5 per doc;
    * 32 bytes/doc is the floor for that statistic. The corpus total
    * is a scalar aggregate broadcast back — bytes, not rows. */
  def sourceStats(docs: DataFrame): DataFrame = {
    val tot = docs.agg(count(lit(1)).as("corpus_docs"))
    docs.select(col("source"), col("lang"), md5(col("text")).as("h"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("ws_tokens")).as("tot_tokens"),
        (count(lit(1)) - countDistinct(col("h"))).as("exact_dup_docs"))
      .crossJoin(broadcast(tot))
      .withColumn("corpus_share", round(col("n_docs") / col("corpus_docs"), 6))
      .drop("corpus_docs")
      .orderBy(col("source"))
  }

  def sourceStatsQuery(spark: SparkSession, dir: String): DataFrame =
    sourceStats(Tables.documents(spark, dir))

  val oracles: Map[String, String] = Map(
    "source_stats" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT lang) AS n_langs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tokens,
        | count(*) - count(DISTINCT md5(text)) AS exact_dup_docs,
        | round(count(*) / (SELECT count(*) FROM documents), 6) AS corpus_share
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, keep_id, doc_id <> keep_id AS is_dup FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact_norm" ->
      """SELECT doc_id, keep_id, doc_id <> keep_id AS is_dup FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |         ' +', ' ', 'g')))) AS keep_id
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "temperature_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |m AS (SELECT max(n_docs) AS n_max FROM c),
         |t AS (SELECT lang,
         |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_max AS DOUBLE))
         |             * 4294967296) AS BIGINT) AS thr
         |  FROM c, m)
         |SELECT doc_id, d.lang, bucket, thr
         |FROM (SELECT doc_id, lang, $sampleBucketSql AS bucket FROM documents) d
         |JOIN t ON d.lang = t.lang
         |WHERE bucket < thr
         |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, n_chars, n_words, avg_word_len, punct_ratio,
         | alpha_ratio, stopword_ratio,
         | n_words >= 5 AND n_words <= 1000 AND alpha_ratio > 0.5 AS keep
         |FROM (
         |  SELECT doc_id, length(text) AS n_chars,
         |   len(string_split(text, ' ')) AS n_words,
         |   round(CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
         |     / len(string_split(text,' ')), 4) AS avg_word_len,
         |   round(CAST(length(text) - length(regexp_replace(text,'[.,!?;:]','','g')) AS DOUBLE)
         |     / length(text), 4) AS punct_ratio,
         |   round(CAST(length(regexp_replace(text,'[^a-z]','','g')) AS DOUBLE)
         |     / length(text), 4) AS alpha_ratio,
         |   round(CAST(len(list_filter(string_split(text,' '),
         |     t -> t IN ${inList(enStop)})) AS DOUBLE)
         |     / len(string_split(text,' ')), 4) AS stopword_ratio
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // same deterministic block/offset arithmetic over DuckDB lists
    "span_corruption_plan" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |b AS (
        | SELECT doc_id, t, unnest(range(0, len(t) // 20)) AS block
        | FROM toks WHERE len(t) >= 20),
        |o AS (
        | SELECT doc_id, t, block,
        |  CAST('0x' || substr(md5(doc_id || '#' || block), 1, 7) AS BIGINT)
        |    % 18 AS off
        | FROM b)
        |SELECT doc_id, CAST(block AS INTEGER) AS block,
        |  CAST(block * 20 + off AS BIGINT) AS span_start,
        |  array_to_string(t[block*20 + off + 1 : block*20 + off + 3], ' ')
        |    AS span_text
        |FROM o ORDER BY doc_id, block""".stripMargin,

    // same trained model replicated: add-1 trigram log-probs rounded
    // once to micro-nats (ln terms in pinned order), unseen trigrams
    // at the smoothing floor, argmax ties to the first language
    "lang_id_ngram" ->
      """WITH elig AS (SELECT * FROM documents WHERE length(text) >= 3),
        |occ AS (
        | SELECT doc_id, lang,
        |  unnest(list_transform(range(1, length(text) - 1),
        |         i -> text[i:i+2])) AS s3
        | FROM elig),
        |cnts AS (SELECT lang, s3, CAST(count(*) AS BIGINT) AS cnt
        |         FROM occ GROUP BY 1, 2),
        |tots AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot
        |         FROM occ GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT s3) AS BIGINT) AS vsz FROM occ),
        |model AS (
        | SELECT lang, s3,
        |  CAST(round((ln(cnt + 1) - ln(tot + vsz)) * 1000000.0) AS BIGINT) AS sv
        | FROM cnts JOIN tots USING (lang) CROSS JOIN vv),
        |floors AS (
        | SELECT lang,
        |  CAST(round((ln(1.0) - ln(tot + vsz)) * 1000000.0) AS BIGINT) AS fv
        | FROM tots CROSS JOIN vv),
        |pairs AS (
        | SELECT d.doc_id, l.lang, sum(coalesce(m.sv, f.fv)) AS score
        | FROM occ d
        |  CROSS JOIN (VALUES ('de'), ('en'), ('es'), ('fr'), ('zh')) l(lang)
        |  LEFT JOIN model m ON m.lang = l.lang AND m.s3 = d.s3
        |  JOIN floors f ON f.lang = l.lang
        | GROUP BY 1, 2),
        |pred AS (
        | SELECT doc_id, lang AS pred_lang FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, lang) AS rn
        |  FROM pairs) WHERE rn = 1)
        |SELECT e.doc_id, e.lang AS true_lang, p.pred_lang,
        |  e.lang = p.pred_lang AS correct
        |FROM elig e JOIN pred p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "lang_id" -> {
      val scores = stopwords.map { case (lang, words) =>
        s"len(list_filter(w, t -> t IN ${inList(words)})) AS s_$lang"
      }.mkString(",\n   ")
      s"""SELECT doc_id, true_lang, pred_lang, pred_lang = true_lang AS correct
         |FROM (
         |  SELECT doc_id, true_lang,
         |   CASE
         |    WHEN s_en=0 AND s_de=0 AND s_es=0 AND s_fr=0 AND s_zh=0 THEN 'und'
         |    WHEN s_en>=s_de AND s_en>=s_es AND s_en>=s_fr AND s_en>=s_zh THEN 'en'
         |    WHEN s_de>=s_es AND s_de>=s_fr AND s_de>=s_zh THEN 'de'
         |    WHEN s_es>=s_fr AND s_es>=s_zh THEN 'es'
         |    WHEN s_fr>=s_zh THEN 'fr'
         |    ELSE 'zh' END AS pred_lang
         |  FROM (
         |   SELECT doc_id, lang AS true_lang,
         |    $scores
         |   FROM (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents)))
         |ORDER BY doc_id""".stripMargin
    },
    "curation_summary" -> {
      val scores = stopwords.map { case (lang, words) =>
        s"len(list_filter(w, t -> t IN ${inList(words)})) AS s_$lang"
      }.mkString(",\n   ")
      s"""SELECT pred_lang, count(*) AS n_docs,
         | CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
         | round(CAST(sum(ws_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens
         |FROM (
         | SELECT doc_id, ws_tokens, keep, keep_id,
         |  CASE
         |   WHEN s_en=0 AND s_de=0 AND s_es=0 AND s_fr=0 AND s_zh=0 THEN 'und'
         |   WHEN s_en>=s_de AND s_en>=s_es AND s_en>=s_fr AND s_en>=s_zh THEN 'en'
         |   WHEN s_de>=s_es AND s_de>=s_fr AND s_de>=s_zh THEN 'de'
         |   WHEN s_es>=s_fr AND s_es>=s_zh THEN 'es'
         |   WHEN s_fr>=s_zh THEN 'fr'
         |   ELSE 'zh' END AS pred_lang
         | FROM (
         |  SELECT doc_id,
         |   len(w) AS ws_tokens,
         |   len(w) >= 5 AND len(w) <= 1000 AND
         |    round(CAST(length(regexp_replace(text,'[^a-z]','','g')) AS DOUBLE)
         |     / length(text), 4) > 0.5 AS keep,
         |   min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
         |   $scores
         |  FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents)))
         |WHERE keep AND doc_id = keep_id
         |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
    },
    "token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        | CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT) AS fp60,
        | CAST(list_sum(list_transform(range(1, len(w)+1),
        |   i -> i * CAST(concat('0x', substr(md5(w[i]),1,7)) AS BIGINT)))
        |  % 1000000007 AS BIGINT) AS poly_fp
        |FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "pack_token_budget" ->
      (packSelectSql(512, "documents") + "\nORDER BY doc_id"),
    "pack_materialize" ->
      s"""WITH packed AS (${packSelectSql(512, "documents")})
         |SELECT p.lang, p.source, p.pack_id,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(p.ws_tokens) AS BIGINT) AS n_tokens,
         | string_agg(d.text, '<|eos|>' ORDER BY p.doc_id) AS pack_text
         |FROM packed p JOIN documents d ON p.doc_id = d.doc_id
         |GROUP BY p.lang, p.source, p.pack_id
         |ORDER BY p.lang, p.source, p.pack_id""".stripMargin,
    "pack_token_budget_sharded" ->
      """SELECT doc_id, lang, source, shard, ws_tokens, start_off,
        | CAST(start_off // 512 AS BIGINT) AS pack_id
        |FROM (
        | SELECT doc_id, lang, source,
        |  CAST(doc_id // 100 AS BIGINT) AS shard,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        |  CAST(COALESCE(sum(len(string_split(text,' '))) OVER (
        |    PARTITION BY lang, source, doc_id // 100 ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS start_off
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "pack_token_budget_global" ->
      """SELECT doc_id, ws_tokens, start_off,
        | CAST(start_off // 512 AS BIGINT) AS pack_id
        |FROM (
        | SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        |  CAST(COALESCE(sum(len(string_split(text,' '))) OVER (
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS start_off
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "chunk_tokens" ->
      """SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
        | CAST(ci * 8 AS BIGINT) AS start_tok,
        | CAST(LEAST(32, n - ci * 8) AS BIGINT) AS n_tok,
        | array_to_string(list_slice(toks, CAST(ci*8 + 1 AS BIGINT),
        |   CAST(ci*8 + 32 AS BIGINT)), ' ') AS chunk_text
        |FROM (
        | SELECT doc_id, toks, n, unnest(range(0, (n - 1) // 8 + 1)) AS ci
        | FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |       FROM documents))
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "repetition_stats" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |grams AS (
        | SELECT doc_id, w AS g1,
        |  CASE WHEN len(w) >= 2
        |   THEN [w[i]||' '||w[i+1] FOR i IN range(1, len(w))] ELSE [] END AS g2,
        |  CASE WHEN len(w) >= 3
        |   THEN [w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN range(1, len(w)-1)]
        |   ELSE [] END AS g3
        | FROM words)
        |SELECT doc_id,
        | CASE WHEN len(g1) > 0
        |  THEN round(1.0 - len(list_distinct(g1))::DOUBLE / len(g1), 4)
        |  ELSE 0.0 END AS dup_word_frac,
        | CASE WHEN len(g2) > 0
        |  THEN round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 4)
        |  ELSE 0.0 END AS dup_2gram_frac,
        | CASE WHEN len(g3) > 0
        |  THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4)
        |  ELSE 0.0 END AS dup_3gram_frac
        |FROM grams ORDER BY doc_id""".stripMargin,
    "cap_per_source" ->
      """SELECT doc_id, source,
        | (row_number() OVER (PARTITION BY source ORDER BY doc_id)) <= 30
        |   AS keep
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "keyword_extract" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dfx AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        | SELECT tf.doc_id, tf.t, tf.tf, dfx.df,
        |  round(tf.tf::DOUBLE / dfx.df, 6) AS score
        | FROM tf JOIN dfx USING (t))
        |SELECT doc_id, t AS term, tf, df, score, rnk FROM (
        | SELECT *, row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY score DESC, t) AS rnk
        | FROM scored)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "stratified_sample" ->
      s"""SELECT doc_id, lang, bucket FROM (
         | SELECT doc_id, lang, $sampleBucketSql AS bucket
         | FROM documents)
         |WHERE bucket < $sampleCaseSql
         |ORDER BY doc_id""".stripMargin,
    // the identical exponential race in SQL: same bucket, same pinned
    // op order (ln -> x1e6 -> /w -> round), same tie rule
    "weighted_sample" ->
      s"""WITH p AS (
         | SELECT doc_id, source,
         |  (10000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
         |    // length(text) + 1 AS w_bp,
         |  $sampleBucketSql AS bucket
         | FROM documents),
         |pr AS (
         | SELECT doc_id, source, w_bp, bucket,
         |  CAST(round((0 - ln((bucket + 1) / 4294967296.0))
         |    * 1000000000.0 / w_bp) AS BIGINT) AS priority
         | FROM p),
         |r AS (SELECT *, CAST(row_number() OVER (
         |   ORDER BY priority ASC, bucket, doc_id) AS BIGINT) AS rnk FROM pr)
         |SELECT doc_id, source, w_bp, priority, rnk FROM r
         |WHERE rnk <= 100 ORDER BY rnk""".stripMargin,
    "holdout_split" ->
      s"""SELECT doc_id, lang, source,
         | CASE WHEN b < ${4294967296L * 80 / 100} THEN 'train'
         |      WHEN b < ${4294967296L * 90 / 100} THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang, source, $sampleBucketSql AS b
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // the oracle ranks with ONE global window; the operator's
    // two-phase (bucket offsets + per-bucket ranks) must equal it
    "shuffle_shards" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
        |   AS BIGINT) AS idx,
        |  CAST((row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 64
        |   AS BIGINT) AS shard
        |FROM documents ORDER BY idx""".stripMargin,
    "pii_redact" -> {
      val counts = piiPatterns.map { case (name, pat, _) =>
        s"len(regexp_extract_all(text, '$pat')) AS n_$name"
      }.mkString(",\n ")
      val redacted = piiPatterns.foldLeft("text") {
        case (acc, (_, pat, repl)) =>
          s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      val hasPii = piiPatterns.map { case (n, _, _) => s"n_$n > 0" }
        .mkString(" OR ")
      s"""SELECT doc_id, n_email, n_ip, n_idnum, redacted_text,
         | $hasPii AS has_pii
         |FROM (
         | SELECT doc_id,
         | $counts,
         | $redacted AS redacted_text
         | FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "blocklist_redact" -> {
      val inL = inList(blockTerms)
      s"""SELECT doc_id,
         | len(list_filter(w, t -> t IN $inL)) AS n_blocked,
         | round(CAST(len(list_filter(w, t -> t IN $inL)) AS DOUBLE)
         |   / len(w), 4) AS blocked_ratio,
         | len(list_filter(w, t -> t IN $inL)) = 0 AS keep,
         | array_to_string(list_transform(w,
         |   t -> CASE WHEN t IN $inL THEN '***' ELSE t END), ' ')
         |  AS redacted_text
         |FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "upsample_mixture" -> {
      val baseCase = "CASE lang " + mixtureWeights.map { case (lang, w) =>
        s"WHEN '$lang' THEN ${math.floor(w).toLong}"
      }.mkString(" ") + " ELSE 0 END"
      val fracCase = "CASE lang " + mixtureWeights.map { case (lang, w) =>
        s"WHEN '$lang' THEN ${((w - math.floor(w)) * 4294967296L).toLong}"
      }.mkString(" ") + " ELSE 0 END"
      s"""SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies,
         | CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy
         |FROM (
         | SELECT doc_id, lang,
         |  ($baseCase) + CASE WHEN bucket < ($fracCase) THEN 1 ELSE 0 END
         |   AS n_copies
         | FROM (SELECT doc_id, lang, $sampleBucketSql AS bucket
         |       FROM documents))
         |WHERE n_copies >= 1
         |ORDER BY doc_id, copy""".stripMargin
    },
  )
}
