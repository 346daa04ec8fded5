package graft.oracle

import graft.operators.Similarity.{planeMatrix, probeMasks}

/** The DuckDB oracles of the 27 ANN/PQ queries, each one composition of
  * the stage fragments below — the SQL twin of the Spark serving chain
  * in `Similarity`, written independently of it (see the package doc).
  *
  * Stages, each defined once:
  *  - inputs: [[vectors]], and the query set q(query_id, e): a [[prefix]]
  *    or the [[heldout]] set;
  *  - truth: the brute-force top-k, [[truth]];
  *  - coarse: [[flat]], [[lsh]] or [[ivf]] over [[defaultCents]] or
  *    [[trainedCents]] — every coarse stage emits candidate pairs
  *    cand(query_id, vec_id[, prnk]);
  *  - codes: fp32 and int8 ([[int8Codes]]) score with [[cosine]]; raw and
  *    residual PQ encode against a named codebook and score with ONE ADC
  *    scorer ([[pq]]); int4 is one pack and one unpack;
  *  - scoring and ranking: [[ranked]] (the one top-k wrapper),
  *    [[rerank]] (shortlist + exact fp32 rerank), [[sweep]] (one scored
  *    frame serving every budget);
  *  - recall: [[recall]], the one aggregate.
  *
  * Naming: a fragment writes the CTE names it documents, suffixed by
  * `sfx` where one statement holds several branches of the same stage.
  * Scored frames keep their candidate columns and add `cos`; every rank
  * orders by (cos DESC, vec_id). */
object AnnSql {

  // ------------------------------------------------------------- helpers

  /** The shared cosine SQL fragment: dot and norms as in-order
    * list_sum folds, rounded to 6 dp — the CosineSimilarity parity
    * contract. Valid over DOUBLE and integer lists (small ints pass
    * through double exactly). */
  def cosSql(a: String, b: String): String =
    s"""round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))
       |   / (sqrt(list_sum(list_transform($a, x -> x*x)))
       |      * sqrt(list_sum(list_transform($b, x -> x*x)))), 6)""".stripMargin

  /** cosSql over the first `d` components only — same sequential
    * accumulation order as CosineSimilarity over slice(·, 1, d). */
  private def cosSliceSql(a: String, b: String, d: Int): String =
    s"""round(list_sum(list_transform(range(1, ${d + 1}), i -> $a[i]*$b[i]))
       |   / (sqrt(list_sum(list_transform($a[1:$d], x -> x*x)))
       |      * sqrt(list_sum(list_transform($b[1:$d], x -> x*x)))), 6)""".stripMargin

  /** The micro-int view of a DOUBLE list: each component rounded ONCE
    * to 10⁻⁶ units as BIGINT; nothing downstream rounds again. */
  private def micro(e: String): String =
    s"list_transform($e, x -> CAST(round(x * 1000000.0) AS BIGINT))"

  /** Exact BIGINT squared L2 of two `d`-long integer lists. */
  private def l2(a: String, b: String, d: Int): String =
    s"list_sum(list_transform(range(1, ${d + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  /** One row per PQ subspace, s.s in [0, numSub), and a row's sub-slice. */
  private def subs(numSub: Int): String = s"range(0, $numSub) s(s)"

  private def slice(e: String, subDim: Int): String =
    s"list_transform(range(1, ${subDim + 1}), j -> $e[s.s*$subDim + j])"

  private def mat(materialize: Boolean): String =
    if (materialize) "MATERIALIZED " else ""

  /** One statement: the CTEs in order, then the final select. */
  private[oracle] def sql(ctes: Seq[String], select: String,
                          recursive: Boolean = false): String =
    ctes.mkString(if (recursive) "WITH RECURSIVE " else "WITH ", ",\n", "\n") + select

  // -------------------------------------------------------------- inputs

  /** Inputs: the corpus v(vec_id, e), each embedding widened to DOUBLE[]
    * once; every fp32 score folds over these doubles. */
  private[oracle] val vectors: String = "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"

  /** Inputs: the prefix query set `name`(query_id, e), the first n rows
    * of `vs`. */
  private def prefix(n: Int, vs: String = "v", name: String = "q"): String =
    s"$name AS (SELECT vec_id AS query_id, e FROM $vs WHERE vec_id < $n)"

  /** Inputs: the HELD-OUT query set q(query_id, e) — heldoutQueries'
    * rule: drop the seed prefix vec_id < skip, drop the md5-ASC first
    * `skip` (the trainers' init sample), take the md5-DESC tail n, ties
    * on vec_id. MATERIALIZED: every branch reads the same n rows. */
  private def heldout(n: Int, skip: Int): Seq[String] = Seq(
    s"""tinit AS (SELECT vec_id FROM (
       | SELECT vec_id, row_number() OVER (
       |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM v)
       | WHERE rn <= $skip)""".stripMargin,
    s"""q AS MATERIALIZED (
       | SELECT vec_id AS query_id, e FROM v
       | WHERE vec_id >= $skip
       |  AND vec_id NOT IN (SELECT vec_id FROM tinit)
       | ORDER BY md5(CAST(vec_id AS VARCHAR)) DESC, vec_id DESC
       | LIMIT $n)""".stripMargin)

  // --------------------------------------------------------------- truth

  /** Truth: truth(query_id, vec_id, cos, rnk), each query's exact fp32
    * top-k over the whole corpus — coarse flat, fp32 codes, top-k. */
  private[oracle] def truth(k: Int): Seq[String] = Seq(
    flat("tcand"), cosine("tsc", "tcand"), ranked("truth", "tsc", k))

  // -------------------------------------------------------------- coarse

  /** Coarse flat: `out`(query_id, vec_id), every row of `vs` paired with
    * every query of `q` but itself. */
  private def flat(out: String = "cand", q: String = "q", vs: String = "v"): String =
    s"$out AS (SELECT q.query_id, x.vec_id FROM $q q JOIN $vs x ON x.vec_id <> q.query_id)"

  /** Coarse LSH: cand(query_id, vec_id). The plane matrix and probe masks
    * are the serving path's driver-side constants as literals (Double
    * .toString round-trips exactly through DuckDB's parser); a bucket
    * is the sign bits of in-order plane dots, and each query probes its
    * bucket XOR every mask. A vector has one bucket and masks are
    * distinct, so a pair arises at most once. */
  private def lsh(numPlanes: Int, probeHamming: Int): Seq[String] = {
    val planeRows = planeMatrix(numPlanes, 64).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}])"
    }.mkString(",\n   ")
    val probeRows = probeMasks(numPlanes, probeHamming).map(m => s"($m)").mkString(",")
    Seq(
      s"planes(pi, pvec) AS (VALUES\n   $planeRows)",
      s"""dots AS (
         | SELECT v.vec_id, p.pi,
         |  list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * p.pvec[i])) AS d
         | FROM v, planes p)""".stripMargin,
      """buckets AS (
        | SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (1 << pi) ELSE 0 END) AS INTEGER) AS bucket
        | FROM dots GROUP BY 1)""".stripMargin,
      s"""probes AS (
         | SELECT b.vec_id AS query_id, xor(b.bucket, m.m) AS probe
         | FROM buckets b, (VALUES $probeRows) AS m(m)
         | WHERE b.vec_id IN (SELECT query_id FROM q))""".stripMargin,
      """cand AS (
        | SELECT p.query_id, x.vec_id
        | FROM probes p JOIN buckets x ON x.bucket = p.probe AND x.vec_id <> p.query_id)""".stripMargin)
  }

  /** Coarse IVF centroids, default: cents$sfx(cid, ce), the first C
    * vectors — C is SQL: a count literal or a scalar subquery. */
  private[oracle] def defaultCents(numCentroids: String, sfx: String = ""): String =
    s"cents$sfx AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < $numCentroids)"

  /** Coarse IVF centroids, trained: trainIvfCentroidsExact replicated —
    * micro rounding, md5-ordered init, per-iteration round(cos,6)/cid-
    * tiebreak assignment and floored integer-mean update, ending in
    * cents$sfx(cid, ce) (micro-valued). Assumes `v`. */
  def trainedCents(numCentroids: Int, iters: Int, sfx: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""vm AS (SELECT vec_id,
      | list_transform(e, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS em
      | FROM v),
      |tc0 AS (SELECT cid, cm FROM (
      | SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |   vec_id) AS BIGINT) AS cid, em AS cm FROM vm)
      | WHERE cid <= $numCentroids)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
        |ta$t AS (SELECT m.vec_id, m.em, c.cid,
        |  ${cosSql("m.em", "c.cm")} AS ccos
        | FROM vm m CROSS JOIN tc${t - 1} c),
        |ts$t AS (SELECT vec_id, em, cell FROM (
        | SELECT vec_id, em, cid AS cell,
        |  row_number() OVER (PARTITION BY vec_id
        |                     ORDER BY ccos DESC, cid) AS rn
        | FROM ta$t) WHERE rn = 1),
        |tc$t AS (SELECT cell AS cid, list(cv ORDER BY i) AS cm FROM (
        | SELECT cell, i,
        |  CAST(floor(CAST(sum(em[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        | FROM ts$t, UNNEST(range(1, len(em)+1)) u(i) GROUP BY cell, i)
        | GROUP BY cell)""".stripMargin
    }
    sb ++= s""",
      |cents$sfx AS (SELECT cid, list_transform(cm, x -> CAST(x AS DOUBLE)) AS ce
      | FROM tc$iters)""".stripMargin
    sb.toString
  }

  /** Coarse IVF over cents$sfx: assigned$sfx(vec_id, cell) puts every
    * vector in its nearest cell, probes$sfx(query_id, probe, prnk) gives
    * each query its nProbe nearest cells WITH their rank — both by
    * (rounded-6 ccos desc, cid asc) — and cand$sfx(query_id, vec_id,
    * prnk) tags each candidate with the rank of the probe that found it,
    * so one candidate set at the largest budget serves every smaller
    * one through a prnk filter. */
  private[oracle] def ivf(nProbe: Int, sfx: String = ""): Seq[String] = Seq(
    s"""ac$sfx AS (
       | SELECT v.vec_id, c.cid,
       |  ${cosSql("v.e", "c.ce")} AS ccos
       | FROM v CROSS JOIN cents$sfx c)""".stripMargin,
    s"""assigned$sfx AS (
       | SELECT vec_id, cid AS cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY ccos DESC, cid) AS rn
       |  FROM ac$sfx) WHERE rn = 1)""".stripMargin,
    s"""probes$sfx AS (
       | SELECT vec_id AS query_id, cid AS probe, rn AS prnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY ccos DESC, cid) AS rn
       |  FROM ac$sfx WHERE vec_id IN (SELECT query_id FROM q))
       | WHERE rn <= $nProbe)""".stripMargin,
    s"""cand$sfx AS (
       | SELECT p.query_id, a.vec_id, p.prnk
       | FROM probes$sfx p JOIN assigned$sfx a
       |  ON a.cell = p.probe AND a.vec_id <> p.query_id)""".stripMargin)

  // ----------------------------------------------------- codes: fp32, int8

  /** Codes int8: qv(vec_id, q), embed_quantize_int8's explicit
    * sign·floor(|x|·127/max + 0.5) form (an all-zero vector quantizes
    * to zeros). The codes are small integers, so [[cosine]] over them is
    * exact integer arithmetic until the final sqrt and divide. */
  private val int8Codes: String =
    """qv AS (
      | SELECT vec_id, list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
      |   ELSE CAST(sign(x) * floor(abs(x) * 127.0 / maxabs + 0.5)
      |             AS INTEGER) END) AS q
      | FROM (SELECT vec_id, e,
      |        list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v))""".stripMargin

  /** Codes fp32 (col e of v) or int8 (col q of qv): `out` = the `keep`
    * columns of candidate rows `cand`(query_id, vec_id, ...) plus their
    * [[cosSql]] score `cos`. */
  private[oracle] def cosine(out: String, cand: String, vs: String = "v", col: String = "e",
             keep: String = "c.*", materialize: Boolean = false): String =
    s"""$out AS ${mat(materialize)}(
       | SELECT $keep, ${cosSql(s"a.$col", s"b.$col")} AS cos
       | FROM $cand c JOIN $vs a ON c.query_id = a.vec_id
       |  JOIN $vs b ON c.vec_id = b.vec_id)""".stripMargin

  // -------------------------------------------------------- codes: PQ

  /** A PQ code: what it encodes and how its ADC scores.
    * @param src   encoded rows (ids..., col)
    * @param w     the codebook's codeword column
    * @param d2    encode distance of slice x to codeword c (subDim given)
    * @param mat   whether the code rows are MATERIALIZED
    * @param key   the model table's key the code rows join on
    * @param query the ADC query side (query_id, <vector>, qn) over q
    * @param tm    per-(query, model row) table dot `t` (subDim given)
    * @param r2    per-vector reconstruction norm² aggregate over model `t`
    * @param dm    the summed table dots
    * @param cos   the finishing cosine over sc.dm, sc.qn and r2.r2m */
  private final case class Pq(src: String, ids: Seq[String], col: String,
                              w: String, d2: (String, String, Int) => String,
                              mat: Boolean, key: Seq[String], query: String,
                              tm: Int => String, r2: String, dm: String,
                              cos: String)

  /** Raw PQ (Jégou et al. 2011) over v against cb(sub, cid, c): distance²
    * = x·x + c·c − 2x·c rounded to 6 places; table dots and codeword
    * norms² round ONCE to micro units and sum as integers; qn = ‖q‖ in
    * fp64, one IEEE sqrt + divide to finish. */
  private val raw = Pq("v", Seq("vec_id"), "e", "c",
    (x, c, d) =>
      s"""round(list_sum(list_transform(range(1, ${d + 1}),
         |       i -> $x[i]*$x[i]))
         |      + list_sum(list_transform(range(1, ${d + 1}),
         |       i -> $c[i]*$c[i]))
         |      - 2*list_sum(list_transform(range(1, ${d + 1}),
         |       i -> $x[i]*$c[i])),
         |     6)""".stripMargin,
    mat = false, Seq("sub", "cid"),
    "SELECT query_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS qn FROM q",
    d => s"""CAST(round(list_sum(list_transform(range(1, ${d + 1}),
            |    i -> q.e[t.sub*$d + i] * t.c[i])) * 1000000) AS BIGINT)""".stripMargin,
    "sum(CAST(round(list_sum(list_transform(t.c, x -> x*x)) * 1000000) AS BIGINT))",
    "sum(t.tm)",
    """CASE WHEN r2.r2m <= 0 OR sc.qn = 0 THEN 0.0
      |       ELSE round((sc.dm / 1000000.0)
      |            / (sc.qn * sqrt(r2.r2m / 1000000.0)), 6) END""".stripMargin)

  /** Residual PQ (FAISS IVFADC) over resrm against a micro codebook
    * (sub, cid, wm): exact BIGINT L2 encode, model rows xh(cell, sub,
    * cid, xh = c_cell + ŵ), and dm, qn = ‖qm‖², r2m all exact micro²
    * BIGINTs (< 2⁵³, so they pass through double exactly). */
  private val residual = Pq("resrm", Seq("vec_id", "cell"), "rm", "wm", l2,
    mat = true, Seq("cell", "sub", "cid"),
    s"""SELECT query_id, qm,
       |  CAST(list_sum(list_transform(qm, x -> x*x)) AS BIGINT) AS qn
       | FROM (SELECT query_id, ${micro("e")} AS qm FROM q)""".stripMargin,
    d => s"""CAST(list_sum(list_transform(range(1, ${d + 1}),
            |    i -> q.qm[t.sub*$d + i] * t.xh[i])) AS BIGINT)""".stripMargin,
    "CAST(sum(CAST(list_sum(list_transform(t.xh, x -> x*x)) AS BIGINT)) AS BIGINT)",
    "CAST(sum(t.tm) AS BIGINT)",
    """CASE WHEN r2.r2m <= 0 OR sc.qn <= 0 THEN 0.0
      |       ELSE round(CAST(sc.dm AS DOUBLE)
      |            / (sqrt(CAST(sc.qn AS DOUBLE))
      |               * sqrt(CAST(r2.r2m AS DOUBLE))), 6) END""".stripMargin)

  /** The residual base over `cents` and `assigned`: resvm (micro
    * vectors), cmm(cell, cm) — `cmExpr` converts a centroid component:
    * ×10⁶ rounding for raw-scale centroids, a plain CAST for the
    * already-micro trained ones — and resrm(vec_id, cell, rm), each
    * vector's micro residual against its cell. */
  private def residuals(cmExpr: String): Seq[String] = Seq(
    s"resvm AS (SELECT vec_id,\n ${micro("e")} AS em\n FROM v)",
    s"cmm AS (SELECT cid AS cell,\n list_transform(ce, x -> $cmExpr) AS cm\n FROM cents)",
    """resrm AS MATERIALIZED (
      | SELECT m.vec_id, a.cell,
      |  list_transform(range(1, len(m.em)+1), i -> m.em[i] - c.cm[i]) AS rm
      | FROM resvm m JOIN assigned a USING (vec_id)
      |  JOIN cmm c ON a.cell = c.cell)""".stripMargin)

  private val rawCm = "CAST(round(x * 1000000.0) AS BIGINT)"
  private val trainedCm = "CAST(x AS BIGINT)"

  /** Data-seeded codebook `name`(sub, cid, w): the sub-slices of the code's
    * rows [from, from + numCodes). Raw seeds the prefix vec_id < numCodes
    * (from = 0 adds no lower bound); residual seeds PAST the centroid
    * sample, whose residuals are zero. */
  private def seeded(name: String, code: Pq, from: Int, numSub: Int,
                     subDim: Int, numCodes: Int): String = {
    val lo = if (from > 0) s"r.vec_id >= $from AND " else ""
    s"""$name AS (
       | SELECT s.s AS sub, r.vec_id AS cid,
       |  ${slice(s"r.${code.col}", subDim)} AS ${code.w}
       | FROM ${code.src} r, ${subs(numSub)}
       | WHERE ${lo}r.vec_id < ${from + numCodes})""".stripMargin
  }

  /** TRAINED codebook `name`: the per-subspace integer Lloyd core
    * (pqLloydOnMicro step for step) over the code's micro rows — md5-
    * rank init over their vec_ids, BIGINT-L2 assignment ties cid asc,
    * floored integer means. Raw codewords return to fp scale by the
    * exact /10⁶; residual ones stay micro. */
  private def trained(name: String, code: Pq, numSub: Int, subDim: Int,
                      numCodes: Int, iters: Int): Seq[String] = {
    val (p, src, col, out) =
      if (code eq raw) ("p", "pm", "em", "list_transform(cm, x -> x/1000000.0) AS c")
      else ("r", code.src, code.col, "cm AS wm")
    val micros = if (code eq raw) Seq(s"pm AS (SELECT vec_id,\n ${micro("e")} AS em\n FROM v)")
      else Nil
    val steps = (1 to iters).flatMap { t => Seq(
      s"""${p}a$t AS (SELECT m.vec_id, m.sub, m.xm, c.cid,
         |  ${l2("m.xm", "c.cm", subDim)} AS d2
         | FROM ${p}vs m JOIN ${p}c${t - 1} c ON m.sub = c.sub)""".stripMargin,
      s"""${p}s$t AS (SELECT sub, cid, xm FROM (
         | SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |   ORDER BY d2, cid) AS rn FROM ${p}a$t) WHERE rn = 1)""".stripMargin,
      s"""${p}c$t AS MATERIALIZED (
         | SELECT sub, cid, list(cv ORDER BY i) AS cm FROM (
         |  SELECT sub, cid, i,
         |   CAST(floor(CAST(sum(xm[i]) AS DOUBLE)/count(*)) AS BIGINT) AS cv
         |  FROM ${p}s$t, UNNEST(range(1, ${subDim + 1})) u(i)
         |  GROUP BY sub, cid, i)
         | GROUP BY sub, cid)""".stripMargin) }
    micros ++ Seq(
      s"""${p}vs AS MATERIALIZED (SELECT r.vec_id, s.s AS sub,
         | ${slice(s"r.$col", subDim)} AS xm
         | FROM $src r, ${subs(numSub)})""".stripMargin,
      s"""${p}init AS (SELECT vec_id, CAST(row_number() OVER (
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cid
         | FROM $src)""".stripMargin,
      s"""${p}c0 AS (SELECT m.sub, p.cid, m.xm AS cm
         | FROM ${p}vs m JOIN ${p}init p USING (vec_id)
         | WHERE p.cid <= $numCodes)""".stripMargin) ++ steps :+
      s"$name AS (SELECT sub, cid, $out FROM ${p}c$iters)"
  }

  /** THE PQ encoder: each code row sliced per subspace takes the codeword
    * of `cb` nearest by the code's d2, ties to the smallest cid →
    * enc$sfx(ids..., sub, cid). */
  private def encode(sfx: String, code: Pq, cb: String, numSub: Int,
                     subDim: Int): Seq[String] = {
    val ids = code.ids.mkString(", ")
    val xids = code.ids.map("x." + _).mkString(", ")
    Seq(
      s"""cx$sfx AS (
         | SELECT ${code.ids.map("r." + _).mkString(", ")}, s.s AS sub,
         |  ${slice(s"r.${code.col}", subDim)} AS x
         | FROM ${code.src} r, ${subs(numSub)})""".stripMargin,
      s"""enc$sfx AS ${mat(code.mat)}(
         | SELECT $ids, sub, cid FROM (
         |  SELECT $xids, x.sub, cb.cid,
         |   row_number() OVER (PARTITION BY $xids, x.sub ORDER BY
         |    ${code.d2("x.x", s"cb.${code.w}", subDim)}, cb.cid) AS rn
         |  FROM cx$sfx x JOIN $cb cb ON x.sub = cb.sub) WHERE rn = 1)""".stripMargin)
  }

  /** THE int4 pack (FAISS PQx4) and unpack between encode and serving:
    * packed[b] = n(cid[2b]) | n(cid[2b+1]) << 4 with n(c) = c − base,
    * then cid = ((packed[s div 2] >> 4·(s mod 2)) & 15) + base (DuckDB
    * lists are 1-based, hence the +1s). Lossless, so serving unp$sfx
    * equals serving enc$sfx. */
  private def int4(sfx: String, code: Pq, numSub: Int, base: Int): Seq[String] = {
    val ids = code.ids.mkString(", ")
    Seq(
      s"""pk$sfx AS (
         | SELECT $ids,
         |  list_transform(range(0, ${numSub / 2}),
         |   b -> ((codes[b*2 + 1] - $base) | ((codes[b*2 + 2] - $base) << 4))) AS packed
         | FROM (SELECT $ids, list(cid ORDER BY sub) AS codes
         |       FROM enc$sfx GROUP BY $ids))""".stripMargin,
      s"""unp$sfx AS ${mat(code.mat)}(
         | SELECT ${code.ids.map("p." + _).mkString(", ")}, s.s AS sub,
         |  ((p.packed[s.s // 2 + 1] >> ((s.s % 2) * 4)) & 15) + $base AS cid
         | FROM pk$sfx p, ${subs(numSub)})""".stripMargin)
  }

  /** A PQ branch: encode against codebook `cb` (int4-packed at cid base
    * `int4Base` when given), then THE ADC scorer over the candidates
    * `cand` → sc$sfx(cand columns, cos). The per-query table tab$sfx holds one dot per (query, model
    * row); a candidate's score sums its numSub table dots — integer sums,
    * exact in any order — and its reconstruction norm² r2$sfx, finished
    * by the code's cosine. Raw PQ's model is the codebook itself,
    * residual PQ's the per-cell reconstructions xh$sfx. */
  private def pq(sfx: String, code: Pq, cb: String, numSub: Int, subDim: Int,
                 int4Base: Option[Int] = None): Seq[String] = {
    val model = if (code eq raw) cb else s"xh$sfx"
    val enc = if (int4Base.isDefined) s"unp$sfx" else s"enc$sfx"
    val on = code.key.map(c => s"e.$c = t.$c").mkString(" AND ")
    val xh = if (code eq raw) Nil else Seq(
      s"""xh$sfx AS (
         | SELECT c.cell, w.sub, w.cid,
         |  list_transform(range(1, ${subDim + 1}),
         |                 i -> c.cm[w.sub*$subDim + i] + w.wm[i]) AS xh
         | FROM cmm c CROSS JOIN $cb w)""".stripMargin)
    encode(sfx, code, cb, numSub, subDim) ++
      int4Base.toSeq.flatMap(int4(sfx, code, numSub, _)) ++ xh ++ Seq(
      s"aq$sfx AS (${code.query})",
      s"""tab$sfx AS (
         | SELECT q.query_id, q.qn, ${code.key.map("t." + _).mkString(", ")},
         |  ${code.tm(subDim)} AS tm
         | FROM aq$sfx q, $model t)""".stripMargin,
      s"""r2$sfx AS (
         | SELECT e.vec_id, ${code.r2} AS r2m
         | FROM $enc e JOIN $model t ON $on GROUP BY 1)""".stripMargin,
      s"""sc$sfx AS (
         | SELECT c.*, ${code.cos} AS cos
         | FROM cand c JOIN (
         |  SELECT c.query_id, c.vec_id, ${code.dm} AS dm, min(t.qn) AS qn
         |  FROM cand c JOIN $enc e ON c.vec_id = e.vec_id
         |   JOIN tab$sfx t ON t.query_id = c.query_id AND $on
         |  GROUP BY 1, 2) sc ON sc.query_id = c.query_id AND sc.vec_id = c.vec_id
         |  JOIN r2$sfx r2 ON c.vec_id = r2.vec_id)""".stripMargin)
  }

  // ------------------------------------------------- scoring and ranking

  /** THE top-k wrapper: `name` = the rows of `src` ranked per (keys...,
    * query) by (cos desc, vec_id asc) into column `rnk`, kept while
    * `rnk` <= n. Scores are compared AFTER rounding, so both engines
    * rank alike. */
  private[oracle] def ranked(name: String, src: String, n: Int, keys: Seq[String] = Nil,
             rnk: String = "rnk", materialize: Boolean = false): String =
    s"""$name AS ${mat(materialize)}(
       | SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY ${(keys :+ "query_id").mkString(", ")}
       |                               ORDER BY cos DESC, vec_id) AS $rnk
       |  FROM $src) WHERE $rnk <= $n)""".stripMargin

  /** Shortlist + exact rerank: each query's top m of `src` by the code's
    * score (short, rank srnk), rescored in fp32 → rr(query_id, vec_id,
    * srnk, cos). */
  private def rerank(src: String, m: Int, materialize: Boolean = false): Seq[String] = Seq(
    ranked("short", src, m, rnk = "srnk", materialize = materialize),
    cosine("rr", "short", keep = "c.query_id, c.vec_id, c.srnk",
      materialize = materialize))

  /** Budget sweep: `name`(col, ..., rnk) — for every budget b in
    * `values`, the top-k of the `src` rows whose rank column `rank` is
    * <= b. One scored frame, ranked once at the largest budget, serves
    * every budget. Budgets must be distinct (a repeat double-counts). */
  private def sweep(name: String, col: String, values: Seq[Int], src: String,
            rank: String, k: Int): Seq[String] = {
    require(values.distinct.size == values.size, s"repeated $col budget in $values")
    Seq(
      s"""${name}_b AS (
         | SELECT b.$col, s.* FROM (VALUES ${values.map(b => s"($b)").mkString(", ")}) b($col)
         |  JOIN $src s ON s.$rank <= b.$col)""".stripMargin,
      ranked(name, s"${name}_b", k, Seq(col)))
  }

  /** Branches of the same layout under a tag column: `name`(tag, ...). */
  private def tagged(name: String, tag: String, branches: (String, String)*): String =
    branches.map { case (t, src) => s"SELECT '$t' AS $tag, * FROM $src" }
      .mkString(s"$name AS (\n ", "\n UNION ALL\n ", ")")

  /** A top-k serving statement: `src` ranked per query, kept to k, as
    * (query_id, neighbor_id, cos, rnk). */
  private def topK(ctes: Seq[String], src: String, k: Int): String =
    sql(ctes :+ ranked("top", src, k),
      "SELECT query_id, vec_id AS neighbor_id, cos, rnk FROM top ORDER BY query_id, rnk")

  // -------------------------------------------------------------- recall

  /** THE recall aggregate: served top-k rows `served`(..., query_id,
    * vec_id) left-joined to `truth`, hits summed per key tuple (`keys`
    * are select expressions over `s`), recall_bp = (10000·hits) div
    * (n·k) in BIGINT. n is the ACTUAL query count of q (nq) — a held-out
    * set may hold fewer rows than asked — or 1 when `perQuery` and every
    * group is one query. */
  private def recall(ctes: Seq[String], served: String, keys: Seq[String],
                     k: Int, perQuery: Boolean = false): String = {
    val hits = "CAST(sum(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END)\n  AS BIGINT)"
    val pos = keys.indices.map(_ + 1).mkString(", ")
    val (withNq, den, join, group) =
      if (perQuery) (ctes, s"$k", "", pos)
      else (ctes :+ "nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM q)",
        s"(nq.n_q * $k)", "\n CROSS JOIN nq", s"$pos, nq.n_q")
    sql(withNq,
      s"""SELECT ${keys.mkString(", ")},
         | $hits AS hits,
         | (10000 * $hits) // $den AS recall_bp
         |FROM $served s LEFT JOIN truth t
         | ON t.query_id = s.query_id AND t.vec_id = s.vec_id$join
         |GROUP BY $group ORDER BY $pos""".stripMargin)
  }

  // ------------------------------------------------------------- oracles

  /** IVF-PQ serving through the shortlist + rerank: centroids `cents`,
    * then the code's model CTEs `model` ending in its codebook `cb`. */
  private def ivfPqServe(cents: String, code: Pq, model: Seq[String],
                         int4Base: Option[Int] = None): String =
    topK(Seq(vectors, prefix(8), cents) ++ ivf(4) ++ model ++
      pq("", code, "cb", 8, 8, int4Base = int4Base) ++ rerank("sc", 12), "rr", 3)

  private val flatQ8 = Seq(vectors, prefix(8), flat())

  /** ann_abt_recall: brute-force top-k over the all-but-the-top
    * POSTPROCESSED vectors (query side too) against the original-vector
    * truth, per query. */
  private def abtRecall(numQueries: Int, k: Int, iters: Int, dim: Int): String =
    recall(Seq(PcaSql.allButTopCtes(iters, dim),
      """post AS MATERIALIZED (
        | SELECT vec_id, list_transform(num, n ->
        |  CASE WHEN nrm = 0 THEN 0.0
        |   ELSE CAST(CAST(round(CAST(n AS DOUBLE) / nrm * 1000000.0)
        |    AS BIGINT) AS DOUBLE) END) AS e
        | FROM abt)""".stripMargin,
      prefix(numQueries, "post", "qp"), flat("pcand", "qp", "post"),
      cosine("psc", "pcand", "post"), ranked("served", "psc", k),
      vectors, prefix(numQueries)) ++ truth(k),
      "served", Seq("s.query_id"), k, perQuery = true)

  /** ann_matryoshka_recall: one MATERIALIZED pair block scoring every
    * tier in-row, UNION-ALL unpivot, per-tier top-k, hits vs the
    * top-tier edges as truth. */
  private def matryoshkaRecall(numQueries: Int, k: Int, tiers: Seq[Int]): String = {
    val tierCols = tiers.map(d =>
      s"${cosSliceSql("a.e", "b.e", d)} AS cos_$d").mkString(",\n  ")
    val unpivot = tiers.map(d =>
      s"SELECT query_id, vec_id, CAST($d AS BIGINT) AS dims, cos_$d AS cos FROM tiers")
      .mkString("\n UNION ALL ")
    recall(Seq(vectors, prefix(numQueries), flat(),
      s"""tiers AS MATERIALIZED (
         | SELECT c.query_id, c.vec_id,
         |  $tierCols
         | FROM cand c JOIN v a ON c.query_id = a.vec_id
         |  JOIN v b ON c.vec_id = b.vec_id)""".stripMargin,
      s"long AS ($unpivot)",
      ranked("edges", "long", k, Seq("dims"), materialize = true),
      s"truth AS (SELECT query_id, vec_id FROM edges WHERE dims = ${tiers.max})"),
      "edges", Seq("s.dims"), k)
  }

  /** The 27 ANN/PQ oracles. Shapes match the Spark queries: 8 prefix
    * queries, 16 centroids probed 4 deep, 8 subspaces × 8 dims × 16
    * codes, shortlist 12, 2 training iterations, unless named. */
  val oracles: Map[String, String] = Map(
    "ann_cosine_topk" -> topK(flatQ8 :+ cosine("sc", "cand"), "sc", 5),
    // the confusable band [0.15, 0.40): rank only candidates inside it
    "ann_hard_negatives" -> topK(flatQ8 ++ Seq(cosine("sc", "cand"),
      "band AS (SELECT * FROM sc WHERE cos >= 0.15 AND cos < 0.40)"), "band", 5),
    "ann_lsh_topk" -> topK(Seq(vectors, prefix(8)) ++ lsh(6, 1) :+
      cosine("sc", "cand"), "sc", 3),
    "ann_ivf_topk" -> topK(Seq(vectors, prefix(8), defaultCents("16")) ++ ivf(4) :+
      cosine("sc", "cand"), "sc", 3),
    "ann_ivf_topk_trained" -> topK(Seq(vectors, prefix(8), trainedCents(16, 2)) ++
      ivf(4) :+ cosine("sc", "cand"), "sc", 3),
    // serving from the stored IVF+int8 index: top-k straight on the
    // int8 cosine of the stored integers
    "ann_ivf_from_index" -> topK(Seq(vectors, prefix(8), int8Codes, defaultCents("16")) ++
      ivf(4) :+ cosine("sc", "cand", "qv", "q"), "sc", 3),
    "ann_int8_topk" -> topK(flatQ8 ++ Seq(int8Codes,
      cosine("sc", "cand", "qv", "q")), "sc", 5),
    "ann_rerank_topk" -> topK(flatQ8 ++ Seq(int8Codes,
      cosine("sc", "cand", "qv", "q")) ++ rerank("sc", 20), "rr", 5),
    "ann_ivf_rerank_topk" -> topK(Seq(vectors, prefix(8), int8Codes, defaultCents("16")) ++
      ivf(4) ++ (cosine("sc", "cand", "qv", "q") +: rerank("sc", 12)), "rr", 3),
    "ann_pq_topk" -> topK(flatQ8 ++ (seeded("cb", raw, 0, 8, 8, 16) +:
      pq("", raw, "cb", 8, 8)), "sc", 5),
    "ann_pq_trained" -> topK(flatQ8 ++ trained("cb", raw, 8, 8, 16, 2) ++
      pq("", raw, "cb", 8, 8), "sc", 3),
    // the ann_pq_topk chain served from int4-packed codes
    "ann_pq_int4_topk" -> topK(flatQ8 ++ (seeded("cb", raw, 0, 8, 8, 16) +:
      pq("", raw, "cb", 8, 8, int4Base = Some(0))), "sc", 5),
    "ann_ivf_pq_topk" -> ivfPqServe(defaultCents("16"), raw,
      Seq(seeded("cb", raw, 0, 8, 8, 16))),
    "ann_ivf_pq_trained" -> ivfPqServe(trainedCents(16, 2), raw,
      trained("cb", raw, 8, 8, 16, 2)),
    "ann_ivf_pq_residual" -> ivfPqServe(defaultCents("16"), residual,
      residuals(rawCm) :+ seeded("cb", residual, 16, 8, 8, 16)),
    "ann_ivf_pq_residual_trained" -> ivfPqServe(trainedCents(16, 2), residual,
      residuals(trainedCm) ++ trained("cb", residual, 8, 8, 16, 2)),
    // the stored-index read path must serve EXACTLY what the rebuild
    // plan serves — same replay, deliberately
    "ann_ivf_pq_residual_index" -> ivfPqServe(defaultCents("16"), residual,
      residuals(rawCm) :+ seeded("cb", residual, 16, 8, 8, 16)),
    "ann_ivf_pq_residual_int4" -> ivfPqServe(defaultCents("16"), residual,
      residuals(rawCm) :+ seeded("cb", residual, 16, 8, 8, 16), int4Base = Some(16)),
    "ann_recall_eval" -> recall(Seq(vectors, prefix(8)) ++ truth(5) ++
      (defaultCents("16") +: ivf(4)) ++ (cosine("sc", "cand") +:
      sweep("served", "n_probe", Seq(1, 2, 4), "sc", "prnk", 5)),
      "served", Seq("s.n_probe", "s.query_id"), 5, perQuery = true),
    // held-out queries: past the default sample and the trained init
    "ann_recall_trained" -> recall(Seq(vectors) ++ heldout(8, 16) ++ truth(5) ++
      (defaultCents("16", "_d") +: ivf(4, "_d")) ++ (cosine("sc_d", "cand_d") +:
      sweep("served_d", "n_probe", Seq(1, 2, 4), "sc_d", "prnk", 5)) ++
      (trainedCents(16, 2, "_t") +: ivf(4, "_t")) ++ (cosine("sc_t", "cand_t") +:
      sweep("served_t", "n_probe", Seq(1, 2, 4), "sc_t", "prnk", 5)) :+
      tagged("served", "centroids", "default" -> "served_d", "trained" -> "served_t"),
      "served", Seq("s.centroids", "s.n_probe"), 5),
    "ann_matryoshka_recall" -> matryoshkaRecall(8, 5, Seq(8, 16, 32, 64)),
    "ann_abt_recall" -> abtRecall(8, 5, iters = 6, dim = 64),
    // default vs Lloyd-trained codebook, flat ADC top-k, held-out queries
    "pq_train_recall" -> recall(Seq(vectors) ++ heldout(8, 16) ++ truth(5) ++
      (flat() +: seeded("cb_d", raw, 0, 8, 8, 16) +: pq("_d", raw, "cb_d", 8, 8)) ++
      trained("cb_t", raw, 8, 8, 16, 2) ++ pq("_t", raw, "cb_t", 8, 8) ++ Seq(
      ranked("top_d", "sc_d", 5), ranked("top_t", "sc_t", 5),
      tagged("served", "codebook", "default" -> "top_d", "trained" -> "top_t")),
      "served", Seq("s.codebook"), 5),
    // numQueries = 32 (r14 verdict #8) for the three recall curves
    // below: 8 held-out queries gave 250 bp granularity — one hit of
    // noise could invert a point; 32 queries × k=5 puts it at 62.5 bp.
    // Equal bytes: 4 subspaces × 16 dims at a byte per code vs 8 × 8
    // int4 codes (scored unpacked — pack/unpack is lossless)
    "pq_int4_recall" -> recall(Seq(vectors) ++ heldout(32, 16) ++ truth(5) ++
      (flat() +: seeded("cb_w", raw, 0, 4, 16, 16) +: pq("_w", raw, "cb_w", 4, 16)) ++
      (seeded("cb_n", raw, 0, 8, 8, 16) +: pq("_n", raw, "cb_n", 8, 8)) ++ Seq(
      ranked("top_w", "sc_w", 5), ranked("top_n", "sc_n", 5),
      tagged("served", "encoding", "pq8_4x16" -> "top_w", "int4_8x8" -> "top_n")),
      "served", Seq("s.encoding", "CAST(4 AS BIGINT) AS bytes_per_vec"), 5),
    // raw vs residual PQ in the same IVF candidates, top-k straight from
    // the ADC, every probe budget from one max-budget candidate set
    "pq_residual_recall" -> recall(Seq(vectors) ++ heldout(32, 32) ++ truth(5) ++
      (defaultCents("16") +: ivf(4)) ++
      (seeded("cb_raw", raw, 0, 8, 8, 16) +: pq("_raw", raw, "cb_raw", 8, 8)) ++
      sweep("top_raw", "n_probe", Seq(1, 2, 4), "sc_raw", "prnk", 5) ++
      residuals(rawCm) ++ (seeded("cb_res", residual, 16, 8, 8, 16) +:
      pq("_res", residual, "cb_res", 8, 8)) ++
      sweep("top_res", "n_probe", Seq(1, 2, 4), "sc_res", "prnk", 5) :+
      tagged("served", "encoding", "raw" -> "top_raw", "residual" -> "top_res"),
      "served", Seq("s.encoding", "CAST(s.n_probe AS BIGINT) AS n_probe"), 5),
    // the residual chain shortlisted once at the max m, rescored once
    "rerank_budget_recall" -> recall(Seq(vectors) ++ heldout(32, 32) ++ truth(5) ++
      (defaultCents("16") +: ivf(4)) ++ residuals(rawCm) ++
      (seeded("cb", residual, 16, 8, 8, 16) +: pq("", residual, "cb", 8, 8)) ++
      rerank("sc", 40, materialize = true) ++
      sweep("served", "m", Seq(5, 10, 20, 40), "rr", "srnk", 5),
      "served", Seq("CAST(s.m AS BIGINT) AS m"), 5),
    // seeded vs trained residual codebooks over one trained coarse
    "pq_residual_trained_recall" -> recall(Seq(vectors) ++ heldout(8, 32) ++
      truth(5) ++ (trainedCents(16, 2) +: ivf(4)) ++ residuals(trainedCm) ++
      (seeded("cb_s", residual, 16, 8, 8, 16) +: pq("_s", residual, "cb_s", 8, 8)) ++
      trained("cb_t", residual, 8, 8, 16, 2) ++ pq("_t", residual, "cb_t", 8, 8) ++
      Seq(ranked("top_s", "sc_s", 5), ranked("top_t", "sc_t", 5),
        tagged("served", "codebook", "seeded" -> "top_s", "trained" -> "top_t")),
      "served", Seq("s.codebook"), 5),
  )
}
