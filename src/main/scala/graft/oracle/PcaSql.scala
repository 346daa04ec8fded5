package graft.oracle

/** The power-iteration CTE chains behind the top-component oracles
  * (top_component, embed_all_but_top, embed_all_but_top2) and the
  * all-but-the-top recall oracle (ann_abt_recall). */
object PcaSql {

  /** The power-iteration CTE chain alone (qm … v$iters): the identical
    * milli-gram + max-rescaled power recurrence unrolled as MATERIALIZED
    * CTEs (plain CTE inlining would replay the gram per reference — the
    * k-core lesson). */
  def topComponentCtes(iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""qm AS (
      | SELECT list_transform(embedding::DOUBLE[],
      |   x -> CAST(round(x * 1000.0) AS BIGINT)) AS q
      | FROM embeddings),
      |px AS (SELECT q, unnest(range(1, len(q) + 1)) AS i FROM qm),
      |pr AS (SELECT q, i, unnest(range(1, len(q) + 1)) AS j FROM px),
      |g AS MATERIALIZED (
      | SELECT i - 1 AS i, j - 1 AS j, CAST(sum(q[i] * q[j]) AS BIGINT) AS m
      | FROM pr GROUP BY 1, 2),
      |sd AS (SELECT i AS sj FROM g WHERE i = j ORDER BY m DESC, i LIMIT 1),
      |v0 AS MATERIALIZED (
      | SELECT jj AS j, CASE WHEN jj = (SELECT sj FROM sd)
      |  THEN 10000 ELSE 0 END AS v
      | FROM (SELECT unnest(range(0, $dim)) AS jj))""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",w$t AS MATERIALIZED (
        | SELECT g.i, sum(CAST(g.m AS HUGEINT) * vp.v) AS w
        | FROM g JOIN v${t - 1} vp ON g.j = vp.j GROUP BY 1),
        |m$t AS MATERIALIZED (SELECT max(abs(w)) AS mw FROM w$t),
        |v$t AS MATERIALIZED (
        | SELECT i AS j, CAST(round(CAST(w AS DOUBLE) / CAST(mw AS DOUBLE)
        |   * 10000.0) AS BIGINT) AS v
        | FROM w$t, m$t)""".stripMargin
    }
    sb.toString
  }

  /** The all-but-the-top projection CTE chain over the power
    * iteration's v$iters — emits `abt(vec_id, qq, xv, vv, num, nrm)`,
    * the exact-integer residual frame both abt oracles read. */
  def allButTopCtes(iters: Int, dim: Int): String =
    s"""${topComponentCtes(iters, dim)},
       |varr AS MATERIALIZED (
       | SELECT list(v ORDER BY j) AS va,
       |  CAST(list_sum(list_transform(list(v ORDER BY j), y -> y * y))
       |   AS BIGINT) AS vv
       | FROM v$iters),
       |qv AS (
       | SELECT vec_id, list_transform(embedding::DOUBLE[],
       |   x -> CAST(round(x * 1000.0) AS BIGINT)) AS q
       | FROM embeddings),
       |pj AS (
       | SELECT qv.vec_id, qv.q, r.va, r.vv,
       |  CAST(list_sum(list_transform(qv.q, y -> y * y)) AS BIGINT) AS qq,
       |  CAST(list_sum(list_transform(range(1, len(qv.q) + 1),
       |    i -> qv.q[i] * r.va[i])) AS BIGINT) AS xv
       | FROM qv CROSS JOIN varr r),
       |abt AS MATERIALIZED (
       | SELECT vec_id, qq, xv, vv, num,
       |  sqrt(list_sum(list_transform(num,
       |    n -> CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) AS nrm
       | FROM (
       |  SELECT vec_id, qq, xv, vv,
       |   list_transform(range(1, len(q) + 1),
       |     i -> q[i] * vv - xv * va[i]) AS num
       |  FROM pj))""".stripMargin
}
