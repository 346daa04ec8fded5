package graft.oracle

import AnnSql.{cosSql, cosine, defaultCents, ivf, ranked, sql, truth, vectors}

/** The DuckDB oracles of the five kNN-graph queries (knn_graph,
  * knn_graph_clusters, knn_graph_refine, knn_refine_converged,
  * knn_refine_recall). Their edge frame is [[AnnSql]]'s IVF serving chain
  * with EVERY vector a query: [[AnnSql.vectors]], the first C vectors as
  * centroids ([[AnnSql.defaultCents]], C adaptive), [[AnnSql.ivf]],
  * [[AnnSql.cosine]] and the one top-k wrapper [[AnnSql.ranked]] — so the
  * ranks break ties exactly as the ANN oracles do, on (rounded cos desc,
  * id asc). The NN-Descent rounds and the recall aggregate over the
  * all-pairs [[AnnSql.truth]] are specific to the graph. */
object KnnSql {

  /** Every vector is a query: q(query_id, e) over all of v. */
  private val allQueries = "q AS (SELECT vec_id AS query_id, e FROM v)"

  /** The oracle's replica of Similarity.adaptiveCentroids — ceil(sqrt(n))
    * clamped to [16, 65536], computed over the same corpus; IEEE sqrt
    * and ceil are bit-identical across engines on integer inputs. */
  private val adaptiveCentroids: String =
    "(SELECT least(65536, greatest(16, CAST(ceil(sqrt(CAST(count(*) " +
      "AS DOUBLE))) AS BIGINT))) FROM v)"

  /** The kNN edge frame edges(src, dst, cos, rnk): the IVF serving replay
    * with the probe set widened to the whole corpus, each vertex's top k.
    * MATERIALIZED — the k-core lesson: a recursive consumer would
    * otherwise replay the whole chain per reference. */
  private def edges(k: Int, nProbe: Int): Seq[String] =
    Seq(vectors, allQueries, defaultCents(adaptiveCentroids)) ++ ivf(nProbe) ++ Seq(
      cosine("sc", "cand"), ranked("top", "sc", k),
      "edges AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst, cos, rnk FROM top)")

  private def knnGraph(k: Int, nProbe: Int): String =
    sql(edges(k, nProbe),
      """SELECT e.src, e.dst, e.cos, e.rnk, (r.src IS NOT NULL) AS mutual
        |FROM edges e LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
        |ORDER BY e.src, e.rnk""".stripMargin)

  /** One round-suffixed NN-Descent step over `prev`: the candidate set
    * per vertex (neighbors ∪ reverse ∪ two-hop), exact rescore, top-k
    * re-rank into er$sfx — the unrolled replica of the Spark loop's
    * per-round state. */
  private def refineRound(k: Int, prev: String, sfx: String): Seq[String] = Seq(
    s"""cnd$sfx AS (
       | SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM $prev
       |  UNION ALL SELECT dst, src FROM $prev
       |  UNION ALL SELECT a.src, b.dst FROM $prev a
       |   JOIN $prev b ON a.dst = b.src
       | ) WHERE src <> dst)""".stripMargin,
    s"""rsc$sfx AS MATERIALIZED (
       | SELECT c.src, c.dst,
       |  ${cosSql("q.e", "x.e")} AS cos
       | FROM cnd$sfx c JOIN v q ON c.src = q.vec_id
       |  JOIN v x ON c.dst = x.vec_id)""".stripMargin,
    s"""er$sfx AS MATERIALIZED (
       | SELECT src, dst, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src
       |                               ORDER BY cos DESC, dst) AS rnk
       |  FROM rsc$sfx) WHERE rnk <= $k)""".stripMargin)

  private def knnRefine(k: Int, nProbe: Int): String =
    sql(edges(k, nProbe) ++ refineRound(k, "edges", ""),
      "SELECT src, dst, cos, rnk FROM er ORDER BY src, rnk")

  /** knn_refine_converged: maxRounds refine rounds unrolled, chg_$r
    * counting round r's NEW (src, dst) pairs, and the effective round
    * picked by the SAME early-stop rule the Spark loop applies (first
    * round whose new-edge count falls below epsBp bp of n·k; the round
    * cap needs no chg test — the loop takes its last round
    * unconditionally). */
  private def knnRefineConverged(k: Int, nProbe: Int, maxRounds: Int,
                                 epsBp: Long): String = {
    val rounds = (1 to maxRounds).flatMap { r =>
      val prev = if (r == 1) "edges" else s"er_${r - 1}"
      refineRound(k, prev, s"_$r") :+
        s"""chg_$r AS (
           | SELECT CAST(count(*) AS BIGINT) AS c FROM er_$r e
           |  LEFT JOIN $prev p ON p.src = e.src AND p.dst = e.dst
           | WHERE p.src IS NULL)""".stripMargin
    }
    val cases = (1 until maxRounds).map { r =>
      s"WHEN 10000 * (SELECT c FROM chg_$r) < " +
        s"$epsBp * (SELECT count(*) FROM v) * $k THEN $r"
    }.mkString("\n  ")
    val branches = (1 to maxRounds).map { r =>
      s"SELECT src, dst, cos, rnk FROM er_$r WHERE (SELECT e FROM eff) = $r"
    }.mkString("\nUNION ALL\n")
    sql(edges(k, nProbe) ++ rounds :+
      s"""eff AS (SELECT CASE
         |  $cases
         |  ELSE $maxRounds END AS e)""".stripMargin,
      s"$branches\nORDER BY src, rnk")
  }

  /** knn_refine_recall: the ivf and refined edge sets against the
    * EXHAUSTIVE exact kNN graph (all-pairs top-k — the truth the
    * nProbe = C boundary spec pins on the Spark side); recall_bp is
    * (10000·hits) div (n·k) over all n vertices. */
  private def knnRefineRecall(k: Int, nProbe: Int): String =
    sql(edges(k, nProbe) ++ refineRound(k, "edges", "") ++ truth(k) ++ Seq(
      """st AS (SELECT 'ivf' AS stage, src, dst FROM edges
        | UNION ALL SELECT 'refined', src, dst FROM er)""".stripMargin,
      "nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM v)"),
      s"""SELECT st.stage,
         | CAST(sum(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS BIGINT) AS hits,
         | nv.n_vec,
         | (10000 * CAST(sum(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS BIGINT)) // (nv.n_vec * $k) AS recall_bp
         |FROM st LEFT JOIN truth t ON t.query_id = st.src AND t.vec_id = st.dst
         | CROSS JOIN nv
         |GROUP BY 1, nv.n_vec ORDER BY 1""".stripMargin)

  /** knn_graph_clusters: the edge frame, reciprocal filter, then
    * min-label connected components as a recursive CTE (the
    * dedup_clusters pattern over the mutual graph). */
  private def knnGraphClusters(k: Int, nProbe: Int): String =
    sql(edges(k, nProbe) ++ Seq(
      """mut AS MATERIALIZED (
        | SELECT e.src, e.dst FROM edges e
        |  JOIN edges r ON r.src = e.dst AND r.dst = e.src
        | WHERE e.src < e.dst)""".stripMargin,
      "und AS (SELECT src, dst FROM mut UNION ALL SELECT dst, src FROM mut)",
      """reach(n, l) AS (
        | SELECT vec_id, vec_id FROM v
        | UNION
        | SELECT e.dst, r.l FROM reach r JOIN und e ON e.src = r.n)""".stripMargin,
      "comp AS (SELECT n AS vec_id, min(l) AS rep_id FROM reach GROUP BY n)",
      "sz AS (SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY 1)"),
      """SELECT c.vec_id, c.rep_id,
        | CAST(sz.cluster_size AS BIGINT) AS cluster_size,
        | c.vec_id = c.rep_id AS is_canonical
        |FROM comp c JOIN sz USING (rep_id) ORDER BY vec_id""".stripMargin,
      recursive = true)

  /** The five kNN-graph oracles: k = 5 neighbors, 4 probes, and up to 3
    * refine rounds with a 100 bp early stop — the Spark queries' shape. */
  val oracles: Map[String, String] = Map(
    "knn_graph" -> knnGraph(k = 5, nProbe = 4),
    "knn_graph_clusters" -> knnGraphClusters(k = 5, nProbe = 4),
    "knn_graph_refine" -> knnRefine(k = 5, nProbe = 4),
    "knn_refine_recall" -> knnRefineRecall(k = 5, nProbe = 4),
    "knn_refine_converged" -> knnRefineConverged(k = 5, nProbe = 4,
      maxRounds = 3, epsBp = 100L))
}
