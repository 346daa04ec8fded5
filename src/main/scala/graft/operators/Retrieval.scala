package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}

import graft.core.Tables
import graft.functions.TextFunctions._

/** Ranked retrieval over the corpus — the search-side operator a
  * training-data pipeline needs the moment curation becomes
  * query-driven ("pull the top documents about X for the eval set",
  * "rank candidate docs against this instruction"). The reference's
  * wordcount/keyword surface (SensorPipeline wordcount, TextAnalysis
  * keywordExtract) stops at term statistics; this adds the full
  * Okapi BM25 scoring function on top of the same postings shape.
  *
  * Cross-engine exactness: BM25 is usually float arithmetic, which
  * would make the doc score depend on summation order. Here every
  * per-term score is computed in FIXED-POINT micro-units
  * (idf: the one transcendental, ln(...), rounded ONCE to 1e-6 nats;
  * tf-normalization: an exact integer rational — k1=1.2 / b=0.75
  * clear denominators, see tfnMicro below), so the per-doc score is a
  * SUM OF BIGINTS — bit-identical in any accumulation order, in any
  * engine. At 100 TB the same plan would typically relax to double
  * scoring (ranking tolerates last-ulp noise; the fixed-point form
  * exists to make the oracle exact), and the 1e6·sumdl products would
  * need the scale factor folded down to stay inside 64 bits.
  */
object Retrieval {

  /** Demo query set for the oracle entry; the operator takes any
    * (query_id, qtext) frame. Terms drawn from the corpus vocabulary. */
  private[graft] val demoQueries: Seq[(Int, String)] = Seq(
    0 -> "spark stream window",
    1 -> "join merge sort",
    2 -> "hash table scan batch",
    3 -> "slow query filter")

  /** BM25 top-k documents per query (k1 = 1.2, b = 0.75 — the standard
    * Robertson defaults, folded into exact integer rationals).
    *
    * Per (query term t, doc d):
    *   idf_micro(t) = round(ln((N - df + 0.5)/(df + 0.5) + 1) * 1e6)
    *     (the Lucene always-positive +1 variant)
    *   tfn_micro    = (22·tf·sumdl·1e6) div (10·tf·sumdl + 3·sumdl + 9·dl·N)
    *     (= tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with avgdl =
    *      sumdl/N and both sides multiplied by 10·sumdl — all-integer)
    *   term score   = (idf_micro · tfn_micro) div 1e6
    * Doc score = Σ term scores, a BIGINT.
    *
    * Scale shape:
    *  - The token stream is filtered to QUERY TERMS FIRST (an `isin`
    *    literal set here; a broadcast semi-join for query sets too big
    *    to inline) — postings, tf and df are built only for terms some
    *    query mentions, so the big aggregate is bounded by
    *    |query vocab| · |docs containing them|, not corpus vocab. The
    *    df computed from the filtered stream is still the TRUE corpus
    *    df (filtering is per-term).
    *  - (N, sumdl) is one scalar aggregate broadcast into the scorer;
    *    df is a tiny per-term frame (≤ |query vocab| rows), broadcast.
    *  - Scoring joins the bounded query-term frame to the postings —
    *    a broadcast hash join; the only corpus-sized shuffle is the
    *    per-(query, doc) score aggregate, carrying fixed-width longs.
    *  - Top-k is TWO-PHASE: partial top-k inside each of `shards`
    *    doc_id shards (row_number over (query, shard) — bounded
    *    partitions), then the final top-k per query sees ≤ shards·k
    *    rows. A single window keyed only by query_id would funnel
    *    every scored doc of a popular query through one task at 100 TB.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int,
               shards: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queries.nonEmpty, "query set must not be empty")

    // queries are driver-side constants by contract (like blockTerms /
    // the decontam benchmark set), so the term set inlines as literals
    // with no job at plan-construction time
    val spark = docs.sparkSession
    val qdf = spark.createDataFrame(queries).toDF("query_id", "qtext")
    val qterms = qdf.select(col("query_id"),
      explode(array_distinct(tokens(col("qtext")))).as("t"))
    val termSet: Seq[String] =
      queries.flatMap(_._2.split(" ")).distinct.sorted

    val scored = bm25Scored(docs, qterms, _.filter(col("t").isin(termSet: _*)))
    shardedTopK(scored, col("score_micro"), k, shards)
      .select("query_id", "doc_id", "score_micro", "rnk")
  }

  /** The shared BM25 scoring core: fixed-point per-term scores summed
    * to a BIGINT per (query, doc). `filterToks` prunes the exploded
    * (doc_id, dl, t) token stream to query terms — an `isin` literal
    * set when the query text is driver-side, a broadcast semi-join
    * when the query vocab is data-derived (hybridRrfTopK). Filtering
    * is per-term, so df computed AFTER it is still true corpus df. */
  private def bm25Scored(docs: DataFrame, qterms: DataFrame,
                         filterToks: DataFrame => DataFrame): DataFrame = {
    val toks = filterToks(
      docs.select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("t")))

    val postings = toks.groupBy("doc_id", "t")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfx = postings.groupBy("t").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(tokens(col("text"))).cast("long")).as("sumdl"))

    val idfMicro =
      round(log((col("n") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d))
        + lit(1.0d)) * lit(1000000.0d)).cast("long")
    val tfnMicro = expr(
      "(22 * tf * sumdl * 1000000) div (10 * tf * sumdl + 3 * sumdl + 9 * dl * n)")

    broadcast(qterms)
      .join(postings, "t")
      .join(broadcast(dfx), "t")
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro", idfMicro)
      .withColumn("tfn_micro", tfnMicro)
      .withColumn("term_micro", expr("(idf_micro * tfn_micro) div 1000000"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_micro")).as("score_micro"))
  }

  /** Two-phase per-query top-k (partial top-k inside doc_id shards,
    * then the final window sees <= shards*k rows) — identical output
    * to a single window ordered by (score desc, doc_id), without ever
    * funneling a popular query's full candidate list through one task. */
  private def shardedTopK(scored: DataFrame, score: Column, k: Int,
                          shards: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(shards > 0, s"shards must be positive, got $shards")
    val wShard = W.partitionBy(col("query_id"), pmod(col("doc_id"), lit(shards)))
      .orderBy(score.desc, col("doc_id"))
    val wFinal = W.partitionBy(col("query_id"))
      .orderBy(score.desc, col("doc_id"))
    scored
      .withColumn("srnk", row_number().over(wShard))
      .filter(col("srnk") <= k)
      .withColumn("rnk", row_number().over(wFinal))
      .filter(col("rnk") <= k)
      .drop("srnk")
  }

  def bm25TopKQuery(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(Tables.documents(spark, dir), demoQueries, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** HYBRID retrieval: reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher 2009) of a lexical BM25 ranking and a semantic
    * embedding-cosine ranking — the standard two-tower retrieval shape
    * (sparse + dense) that beats either list alone because their
    * failure modes are disjoint (BM25 misses paraphrase, dense misses
    * rare exact terms). Query-by-example: the query is a corpus doc
    * (doc_id < numQueries); its distinct tokens form the BM25 query
    * and its aligned embedding (the synthetic corpus pairs vec_id with
    * doc_id 1:1) the dense query.
    *
    * RRF(d) = Σ_lists 1/(rrfK + rank_list(d)) over lists where d
    * appears in the top kFuse — computed in integer micro-units
    * (1000000 div (rrfK + rank)), so fusion scores compare exactly
    * cross-engine. rrfK = 60 per the paper.
    *
    * Scale shape:
    *  - the BM25 side reuses bm25Scored with the query vocab pruned by
    *    a broadcast SEMI-JOIN (data-derived terms can't inline as
    *    literals); same bounded-postings story as bm25TopK, top-kFuse
    *    via the two-phase sharded window.
    *  - the dense side is the bounded-query broadcast scan (one corpus
    *    pass, no shuffle before the per-query top-kFuse).
    *  - fusion joins two |Q|·kFuse frames — trivially small; a rank
    *    absent from a list contributes 0 by the full-outer coalesce.
    */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame, numQueries: Int = 4,
                    kFuse: Int = 10, k: Int = 5, rrfK: Int = 60,
                    shards: Int = 8): DataFrame = {
    require(numQueries > 0, s"numQueries must be positive, got $numQueries")
    require(kFuse >= k, s"fusion depth $kFuse must be >= final k $k")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")

    val qterms = docs.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(tokens(col("text")))).as("t"))
    val termSet = qterms.select("t").distinct()
    val lexScored = bm25Scored(docs, qterms,
        _.join(broadcast(termSet), Seq("t"), "left_semi"))
      .filter(col("doc_id") =!= col("query_id"))
    val lex = shardedTopK(lexScored, col("score_micro"), kFuse, shards)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))

    val v = Similarity.vectors(emb)
    val semScored = Similarity.fp32Pairs(v, Similarity.prefixQueries(v, numQueries))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cos"))
    val sem = shardedTopK(semScored, col("cos"), kFuse, shards)
      .select(col("query_id"), col("doc_id"), col("rnk").as("sem_rnk"))

    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rnk"), lit(0)).as("lex_rnk"),
        coalesce(col("sem_rnk"), lit(0)).as("sem_rnk"))
      .withColumn("rrf_micro", expr(
        s"CASE WHEN lex_rnk > 0 THEN 1000000 div ($rrfK + lex_rnk) ELSE 0 END" +
        s" + CASE WHEN sem_rnk > 0 THEN 1000000 div ($rrfK + sem_rnk) ELSE 0 END"))
    val wF = W.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "lex_rnk", "sem_rnk", "rrf_micro", "rnk")
  }

  def hybridRrfTopKQuery(spark: SparkSession, dir: String): DataFrame =
    hybridRrfTopK(Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rnk"))

  private def queryValuesSql: String =
    demoQueries.map { case (i, s) => s"($i, '$s')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "bm25_topk" ->
      s"""WITH queries(query_id, qtext) AS (VALUES $queryValuesSql),
         |qterms AS (
         | SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS t
         | FROM queries),
         |docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |stats AS (
         | SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(len(toks)) AS BIGINT) AS sumdl
         | FROM docs),
         |tok AS (
         | SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS t
         | FROM docs),
         |postings AS (
         | SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
         | FROM tok WHERE t IN (SELECT DISTINCT t FROM qterms)
         | GROUP BY 1, 2),
         |dfx AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY 1),
         |scored AS (
         | SELECT q.query_id, p.doc_id,
         |  CAST(round(ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0) * 1000000)
         |       AS BIGINT) AS idf_micro,
         |  (22 * p.tf * s.sumdl * 1000000)
         |    // (10 * p.tf * s.sumdl + 3 * s.sumdl + 9 * p.dl * s.n) AS tfn_micro
         | FROM qterms q
         | JOIN postings p USING (t)
         | JOIN dfx d USING (t)
         | CROSS JOIN stats s),
         |agg AS (
         | SELECT query_id, doc_id,
         |  CAST(sum((idf_micro * tfn_micro) // 1000000) AS BIGINT) AS score_micro
         | FROM scored GROUP BY 1, 2)
         |SELECT query_id, doc_id, score_micro, rnk FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score_micro DESC, doc_id) AS rnk
         | FROM agg)
         |WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,
    // full replication of both ranked lists (lexical BM25 over the
    // query docs' distinct terms, dense cosine over aligned
    // embeddings) and the integer RRF fusion
    "hybrid_rrf_topk" ->
      """WITH docs_t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |qterms AS (
        | SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS t
        | FROM docs_t WHERE doc_id < 4),
        |stats AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(len(toks)) AS BIGINT) AS sumdl
        | FROM docs_t),
        |tok AS (
        | SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS t
        | FROM docs_t),
        |postings AS (
        | SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
        | FROM tok WHERE t IN (SELECT DISTINCT t FROM qterms)
        | GROUP BY 1, 2),
        |dfx AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY 1),
        |scored AS (
        | SELECT q.query_id, p.doc_id,
        |  CAST(round(ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0) * 1000000)
        |       AS BIGINT) AS idf_micro,
        |  (22 * p.tf * s.sumdl * 1000000)
        |    // (10 * p.tf * s.sumdl + 3 * s.sumdl + 9 * p.dl * s.n) AS tfn_micro
        | FROM qterms q
        | JOIN postings p USING (t)
        | JOIN dfx d USING (t)
        | CROSS JOIN stats s
        | WHERE p.doc_id <> q.query_id),
        |agg AS (
        | SELECT query_id, doc_id,
        |  CAST(sum((idf_micro * tfn_micro) // 1000000) AS BIGINT) AS score_micro
        | FROM scored GROUP BY 1, 2),
        |lex AS (
        | SELECT query_id, doc_id, rnk AS lex_rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY score_micro DESC, doc_id) AS rnk
        |  FROM agg) WHERE rnk <= 10),
        |v AS (
        | SELECT vec_id, embedding::DOUBLE[] AS e,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        | FROM embeddings),
        |sem AS (
        | SELECT query_id, neighbor_id AS doc_id, rnk AS sem_rnk FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id
        |                      ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM (
        |   SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*x.e[i]))
        |      / (q.nrm * x.nrm), 6) AS cos
        |   FROM v q JOIN v x ON x.vec_id <> q.vec_id
        |   WHERE q.vec_id < 4)) WHERE rnk <= 10),
        |fused AS (
        | SELECT coalesce(l.query_id, s.query_id) AS query_id,
        |        coalesce(l.doc_id, s.doc_id) AS doc_id,
        |        coalesce(l.lex_rnk, 0) AS lex_rnk,
        |        coalesce(s.sem_rnk, 0) AS sem_rnk
        | FROM lex l FULL JOIN sem s
        |  ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
        |rrf AS (
        | SELECT query_id, doc_id, lex_rnk, sem_rnk,
        |  CAST(CASE WHEN lex_rnk > 0 THEN 1000000 // (60 + lex_rnk) ELSE 0 END
        |     + CASE WHEN sem_rnk > 0 THEN 1000000 // (60 + sem_rnk) ELSE 0 END
        |    AS BIGINT) AS rrf_micro
        | FROM fused)
        |SELECT query_id, doc_id, lex_rnk, sem_rnk, rrf_micro, rnk FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |                              ORDER BY rrf_micro DESC, doc_id) AS rnk
        | FROM rrf)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
}
