package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}

import graft.core.Tables
import graft.functions.{CosineSimilarity, DotLong, HyperplaneBucket, Int8Quantize, SqDistLong,
  SumSqLong, SumSqLongAsDouble}
import graft.functions.TextFunctions._
import graft.oracle.PcaSql.{allButTopCtes, topComponentCtes}

/** Embedding similarity: cosine near-dup pairs, brute-force top-k ANN
  * (the correctness baseline) and a random-hyperplane-LSH bucketed ANN
  * (the 100 TB path — candidates bounded per bucket, never all-pairs).
  *
  * All cosines are sequential-fold double arithmetic (see
  * TextFunctions.dot) so the DuckDB oracle reproduces them bit-for-bit;
  * ranking ties are broken on the ROUNDED cosine + neighbor id, so both
  * engines rank identically even at the last ulp.
  */
object Similarity {

  /** (vec_id, e: array<double>) projection of the embeddings table.
    * Norms are NOT precomputed: every consumer scores through the
    * native CosineSimilarity expression, which derives both norms
    * inside its fused loop (bit-identical to the oracle's per-vector
    * sqrt(list_sum(x*x)) because the accumulation order is the same). */
  def vectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), toDoubleArray(col("embedding")).as("e"))


  /** EXACT cosine near-dup at threshold tau, as a block-tiled pair
    * enumeration — an EQUI-JOIN on block-pair keys, never a broadcast
    * nested loop over the whole table.
    *
    * Why not LSH candidates here: at tau = 0.40 the angle is ~66°, so a
    * random hyperplane separates a QUALIFYING pair with p ≈ 0.37. Any
    * banding strong enough for the ~100% recall this operator's exact
    * contract requires (miss ≤ 1e-6 needs ~27 bands of 2 planes) also
    * collides ~100% of UNRELATED pairs (p=0.5/plane) — at low angular
    * thresholds hyperplane LSH prunes nothing. LSH is the right tool
    * for high-similarity top-k (annLshTopK below); the exact threshold
    * join at tau=0.4 on dense vectors has an O(n²) compute floor, and
    * the engineering question is making that floor SCALE.
    *
    * Tiling: vectors hash into G blocks. A vector in block x enters the
    * join's A side under keys {(x, j) : j >= x} and its B side under
    * keys {(i, x) : i <= x}; a pair from blocks {x, y} therefore meets
    * at EXACTLY one key, (min, max) — no dedup pass needed. The join on
    * (bi, bj) is a shuffled equi-join over G(G+1)/2 evenly-loaded keys:
    * per-task memory is O(n/G) vectors and per-task work (n/G)² — both
    * tuned by numBlocks, independent of executor count or driver
    * memory. At 100 TB: raise numBlocks until a block fits an executor
    * core's memory; replication cost is G+1 copies of the (small)
    * vector column, traded for never materializing an O(n) broadcast.
    *
    * The cosine itself is the native codegen'd CosineSimilarity
    * expression — a primitive loop inside whole-stage codegen, ~30x
    * faster than the zip_with+aggregate HOF form. */
  def cosineNearDupPairs(emb: DataFrame, tau: Double,
                         numBlocks: Int = 16): DataFrame = {
    require(numBlocks >= 1, s"numBlocks must be >= 1, got $numBlocks")
    val g = numBlocks
    val v = vectors(emb).withColumn("blk", pmod(hash(col("vec_id")), lit(g)))
    val a = v.select(col("vec_id").as("vec_a"), col("e").as("ea"),
      col("blk").as("bi"),
      explode(sequence(col("blk"), lit(g - 1))).as("bj"))
    val b = v.select(col("vec_id").as("vec_b"), col("e").as("eb"),
      explode(sequence(lit(0), col("blk"))).as("ci"),
      col("blk").as("cj"))
    // Cross-block pairs (bi < bj) meet exactly once but with ARBITRARY
    // id order (the A/B role is assigned by block, not id) — accept
    // them as-is and canonicalize with least/greatest. Same-block
    // pairs (bi == bj) meet under BOTH role assignments, so the id
    // order keeps exactly one (and excludes self-pairs; cross-block
    // pairs are distinct vectors by construction).
    a.join(b, col("bi") === col("ci") && col("bj") === col("cj") &&
        (col("bi") < col("bj") || col("vec_a") < col("vec_b")))
      .withColumn("cos", CosineSimilarity(col("ea"), col("eb")))
      .filter(col("cos") >= tau)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"),
        round(col("cos"), 6).as("cos"))
  }

  def cosineNearDupQuery(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupPairs(Tables.embeddings(spark, dir), tau = 0.40)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Embedding-space dedup clusters: connected components over the
    * exact cosine near-dup pair graph — the SAME component operator
    * the text path uses (Dedup.connectedComponents is edge-set
    * generic); only the pair generator differs. Semantic near-dups
    * chain exactly like textual ones (A≈B, B≈C with A,C below
    * threshold), so the cluster, not the pair, is the dedup unit here
    * too. */
  def embedClusters(emb: DataFrame, tau: Double): DataFrame =
    Dedup.connectedComponents(
      vectors(emb).select(col("vec_id").as("doc_id")),
      cosineNearDupPairs(emb, tau)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("rep_id"),
        col("cluster_size"), col("is_canonical"))

  def embedClustersQuery(spark: SparkSession, dir: String): DataFrame =
    embedClusters(Tables.embeddings(spark, dir), tau = 0.40)
      .orderBy(col("vec_id"))

  /** Cluster↔label agreement — the evaluation step between "we built
    * embedding dedup clusters" and "we trust them": per cluster, its
    * majority ground-truth label (the embeddings table's `label`
    * column) and purity in integer basis points. Low purity means the
    * cosine threshold is merging semantically distinct docs — the
    * knob-tuning signal for tau, measured instead of eyeballed.
    *
    * Determinism: majority = ONE map-side-combined min_by over the
    * (−count, label) struct (ties to the smallest label — no RNG, no
    * window over a mega-cluster); purity_bp = 10000·majority_n div
    * size in exact integer division.
    *
    * Scale: clustering cost is embedClusters' (frontier-iterated CC);
    * everything added here is two label-keyed aggregates over
    * cluster-sized frames. */
  def clusterLabelPurity(emb: DataFrame, tau: Double): DataFrame = {
    val cl = embedClusters(emb, tau).select(col("vec_id"), col("rep_id"))
    val cnt = cl.join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("rep_id"), col("label")).agg(count(lit(1)).as("n"))
    cnt.groupBy("rep_id").agg(
        min_by(col("label"),
          struct((lit(0L) - col("n")).as("nn"), col("label")))
          .as("majority_label"),
        max(col("n")).as("majority_n"),
        sum(col("n")).as("cluster_size"))
      .select(col("rep_id"), col("cluster_size"), col("majority_label"),
        col("majority_n"),
        expr("majority_n * 10000 div cluster_size").as("purity_bp"))
  }

  def clusterPurityQuery(spark: SparkSession, dir: String): DataFrame =
    clusterLabelPurity(Tables.embeddings(spark, dir), tau = 0.40)
      .orderBy(col("rep_id"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * with CLUSTER-BOUNDED pairwise comparison — the trick that makes
    * embedding dedup tractable when the exact tiled join (embedClusters
    * above) is still too much compute. Vectors are coarse-clustered by
    * nearest centroid; near-dup pairs are only sought WITHIN a cell, so
    * pairwise work drops from O(n²) to O(Σ cᵢ²) — at 100 TB with C
    * cells of ~n/C vectors that is a C-fold compute cut, bought with
    * the (measured, bounded) recall loss of cross-cell dup pairs.
    *
    * Within each cell: cosine-threshold pairs at `tau` chain into
    * groups via the same connected-components operator the text path
    * uses, and each group keeps the member FARTHEST from its cell
    * centroid (lowest centroid cosine; doc_id breaks ties) — the
    * paper's keep-rule, which retains the cluster's most peripheral
    * (least redundant) example rather than an arbitrary one.
    *
    * Serving contract mirrors annIvfTopK: centroids here are the
    * deterministic `vec_id < numCentroids` set so the WHOLE path —
    * assignment, intra-cell pairs, components, keep-rule — replicates
    * in the SQL oracle; production plugs trainIvfCentroids output into
    * the same plan unchanged.
    *
    * Scale shape: assignment is corpus × broadcast(C centroids) with a
    * map-side-combined max_by (one scan, no shuffle of the C-fold
    * amplification); the intra-cell self-join shuffles on `cell` once;
    * components shuffle frontier-sized rounds; the keep-rule is one
    * component-keyed aggregate join-back. No window ever sees more
    * than a cell. */
  def semDedup(emb: DataFrame, numCentroids: Int, tau: Double): DataFrame = {
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    val assigned = semDedupAssigned(emb, numCentroids)
    val pairs = semDedupPairs(assigned, tau)

    val comp = Dedup.connectedComponents(
        assigned.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("rep_id"), col("cluster_size"))
    val withCos = comp.join(
      assigned.select(col("vec_id"), col("cell"), col("cos_centroid")),
      "vec_id")
    val keepers = withCos.groupBy("rep_id")
      .agg(min_by(col("vec_id"), struct(col("cos_centroid"), col("vec_id")))
        .as("keeper"))
    withCos.join(keepers, "rep_id")
      .select(col("vec_id"), col("cell"), col("cos_centroid"), col("rep_id"),
        col("cluster_size"), (col("vec_id") === col("keeper")).as("keep"))
  }

  /** THE nearest-centroid assignment rule — one implementation shared
    * by semDedup, the IVF index build, and (via ivfIndexQ) IVF serving,
    * so the tie-break-sensitive ordering (rounded-6 ccos desc, then
    * smallest cid via the negated-cid struct) cannot drift between the
    * write path, the read path, and the SQL oracles that replicate it.
    * trainIvfCentroids deliberately does NOT share it: Lloyd
    * iterations assign on the UN-rounded cosine (training is float
    * territory by contract and not oracle-checked).
    * @param v     (vec_id, e) corpus vectors
    * @param cents (cid, ce) centroid frame (model-sized, broadcast) */
  private[graft] def assignToCells(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("ccos", round(CosineSimilarity(col("e"), col("ce")), 6))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("ccos")),
          struct(col("ccos"), (lit(0L) - col("cid")).as("nc"))).as("best"),
        first(col("e")).as("e"))
      .select(col("vec_id"), col("best.cid").as("cell"),
        col("best.ccos").as("cos_centroid"), col("e"))

  /** semDedup stage 1 — nearest-centroid assignment (exposed for the
    * cell-sizing scale probe). */
  private[graft] def semDedupAssigned(emb: DataFrame,
                                      numCentroids: Int): DataFrame = {
    val v = vectors(emb)
    val cents = v.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    assignToCells(v, cents)
  }

  /** semDedup stage 2 — intra-cell near-dup pairs at tau. */
  private[graft] def semDedupPairs(assigned: DataFrame,
                                   tau: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("e").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("e").as("eb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(CosineSimilarity(col("ea"), col("eb")), 6) >= tau)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
  }

  def semDedupQuery(spark: SparkSession, dir: String): DataFrame =
    semDedup(Tables.embeddings(spark, dir), numCentroids = 16, tau = 0.40)
      .orderBy(col("vec_id"))

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal; the coreset objective of Sener & Savarese 2018): pick
    * k vectors such that every corpus vector is close to some pick —
    * the diversity-maximizing subset used for "cover the embedding
    * space with a small training subset" selection, the opposite
    * objective of semDedup's redundancy removal.
    *
    * Deterministic contract: seed is vec_id 0; each round adds the
    * vector FARTHEST from the chosen set (max over the running
    * min-distance, ties to the smallest vec_id); distances are
    * rounded-6 cosine distance so both engines compare identical
    * doubles, and the reported distance is exact integer micro-units.
    *
    * Scale shape: k corpus passes, each map-only (crossJoin with the
    * ONE-row broadcast of the newest center + a running `least`) into
    * a TakeOrdered top-1 — no corpus-sized shuffle anywhere, state
    * between rounds is one localCheckpoint'd frame. The classic
    * sequential-greedy; at 100 TB each pass is a scan, so cost is
    * k scans — which is the known price of the exact greedy (the 2-approx
    * guarantee needs sequential picks). */
  def kcenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = vectors(emb)
    val seed = v.filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("e")).localCheckpoint()
    // selection log: (rnk, vec_id, dist_micro); the seed has no
    // predecessor set — 2000000 (the max possible cosine distance) by
    // convention
    var sel = seed.select(lit(1).as("rnk"), col("vec_id"),
      lit(2000000L).as("dist_micro")).localCheckpoint()
    var cent = seed.select(col("e").as("ce")).localCheckpoint()
    var md = v // (vec_id, e) + running min distance, added on round 1
      .select(col("vec_id"), col("e"), lit(2.0d).as("mind"))
    for (i <- 2 to k) {
      md = md.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("e"),
          least(col("mind"),
            round(lit(1.0d) - CosineSimilarity(col("e"), col("ce")), 6))
            .as("mind"))
        .localCheckpoint()
      val next = md.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .localCheckpoint()
      sel = sel.unionByName(next.select(lit(i).as("rnk"), col("vec_id"),
        round(col("mind") * 1000000.0d).cast("long").as("dist_micro")))
        .localCheckpoint()
      cent = next.select(col("e").as("ce")).localCheckpoint()
    }
    sel
  }

  def kcenterCoresetQuery(spark: SparkSession, dir: String): DataFrame =
    kcenterCoreset(Tables.embeddings(spark, dir), k = 8)
      .orderBy(col("rnk"))

  /** MMR — Maximal Marginal Relevance re-ranking (Carbonell &
    * Goldstein 1998): pick k results that are RELEVANT to the query
    * but not redundant with each other,
    *   mmr(d) = λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s),
    * greedily. kcenterCoreset maximizes pure diversity over the whole
    * corpus; this is its QUERY-RELATIVE sibling — the post-retrieval
    * step that stops a near-dup cluster from filling all k slots.
    *
    * Deterministic contract, all integer: per-candidate relevance and
    * pairwise similarities are rounded ONCE to micro-units
    * (round(cos·1e6) — never round-to-6-then-scale, whose re-widened
    * double can truncate off by one); with λ = lamNum/lamDen the
    * selection argmax uses the UNDIVIDED score
    *   lamNum·rel_micro − (lamDen−lamNum)·maxs_micro
    * (reported as mmr_tenth_micro at the default λ=7/10 — tenth-micro
    * units), so no float ever orders the picks; ties to smallest
    * vec_id. Pick 1 is pure relevance (empty-S convention: no
    * penalty term).
    *
    * Scale shape: the CORPUS is touched exactly once — relevance
    * scoring against the ONE broadcast query row, then a two-phase
    * sharded top-nCand shortlist (no global window ever sees the
    * corpus; the final window sees ≤ shards·nCand rows). The k−1
    * greedy rounds run entirely on the nCand-row candidate frame
    * (model-sized by construction — this is a re-RANKER, fed by
    * annIvfRerankTopK at 100 TB), each round one broadcast of the
    * newest pick + a running integer max, exactly kcenterCoreset's
    * loop discipline. */
  def mmrDiversify(emb: DataFrame, k: Int = 8, nCand: Int = 64,
                   lamNum: Int = 7, lamDen: Int = 10,
                   shards: Int = 8): DataFrame = {
    require(k >= 1 && nCand >= k, s"need 1 <= k <= nCand, got $k/$nCand")
    require(lamNum >= 0 && lamNum <= lamDen && lamDen > 0,
      s"lambda $lamNum/$lamDen must be in [0, 1]")
    val v = vectors(emb)
    val q = v.filter(col("vec_id") === 0L).select(col("e").as("eq"))
      .localCheckpoint()
    def micro(c: Column): Column = round(c * lit(1000000.0d)).cast("long")
    val rel = v.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
      .select(col("vec_id"), col("e"),
        micro(CosineSimilarity(col("e"), col("eq"))).as("rel_micro"))
    val wShard = W.partitionBy(pmod(col("vec_id"), lit(shards)))
      .orderBy(col("rel_micro").desc, col("vec_id"))
    val wFinal = W.orderBy(col("rel_micro").desc, col("vec_id"))
    val cand = rel
      .withColumn("srnk", row_number().over(wShard))
      .filter(col("srnk") <= nCand)
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= nCand)
      .select(col("vec_id"), col("e"), col("rel_micro"))
      .localCheckpoint()

    val penalty = lamDen - lamNum
    val first = cand.orderBy(col("rel_micro").desc, col("vec_id")).limit(1)
      .localCheckpoint()
    var sel = first.select(lit(1).as("rnk"), col("vec_id"), col("rel_micro"),
      (lit(lamNum) * col("rel_micro")).as("mmr_tenth_micro"))
      .localCheckpoint()
    var newest = first.select(col("vec_id").as("cid"), col("e").as("ce"))
      .localCheckpoint()
    // pool rows carry the running max similarity to the selected set
    var pool = cand.select(col("vec_id"), col("e"), col("rel_micro"),
      lit(Long.MinValue).as("maxs"))
    for (i <- 2 to k) {
      pool = pool.crossJoin(broadcast(newest))
        .filter(col("vec_id") =!= col("cid"))
        .select(col("vec_id"), col("e"), col("rel_micro"),
          greatest(col("maxs"),
            micro(CosineSimilarity(col("e"), col("ce")))).as("maxs"))
        .localCheckpoint()
      val score = lit(lamNum) * col("rel_micro") - lit(penalty) * col("maxs")
      val next = pool.orderBy(score.desc, col("vec_id")).limit(1)
        .localCheckpoint()
      sel = sel.unionByName(next.select(lit(i).as("rnk"), col("vec_id"),
        col("rel_micro"), score.as("mmr_tenth_micro"))).localCheckpoint()
      newest = next.select(col("vec_id").as("cid"), col("e").as("ce"))
        .localCheckpoint()
    }
    sel
  }

  def mmrDiversifyQuery(spark: SparkSession, dir: String): DataFrame =
    mmrDiversify(Tables.embeddings(spark, dir)).orderBy(col("rnk"))

  /** Embedding-space benchmark decontamination: for every corpus
    * vector, its maximum cosine against a (model-sized, broadcast)
    * benchmark embedding set and the count of benchmark vectors within
    * tau — the SEMANTIC contamination check next to the k-shingle one
    * (Dedup.decontaminate catches verbatim leakage; paraphrased eval
    * questions only surface in embedding space).
    *
    * Scale shape: identical to annCosineTopK — the benchmark set is
    * bounded BY CONSTRUCTION (an eval suite is thousands of rows no
    * matter how big the corpus is), so it broadcasts and the corpus
    * scans ONCE with no shuffle before the per-vector aggregate, which
    * reuses the scan's partitioning (map-side combinable: max and
    * conditional count). Every corpus vector appears in the output
    * (clean rows carry their max too — the audit a release gate wants).
    * MAX over doubles is accumulation-order-independent, so the only
    * rounding is the final display round. */
  def embedDecontaminate(emb: DataFrame, benchIds: DataFrame => Column,
                         tau: Double): DataFrame = {
    val v = vectors(emb)
    val bench = v.filter(benchIds(v))
      .select(col("vec_id").as("bench_id"), col("e").as("eb"))
    val corpus = v.filter(!benchIds(v))
    corpus.join(broadcast(bench), col("vec_id") =!= col("bench_id"))
      .withColumn("cos", CosineSimilarity(col("e"), col("eb")))
      .groupBy(col("vec_id"))
      .agg(
        round(max(col("cos")), 6).as("max_cos"),
        sum(when(col("cos") >= tau, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  def embedDecontamQuery(spark: SparkSession, dir: String): DataFrame =
    embedDecontaminate(Tables.embeddings(spark, dir),
      v => pmod(v("vec_id"), lit(50)) === 0, tau = 0.40)
      .orderBy(col("vec_id"))

  /** Minimal band count so a pair at EXACTLY cosine `tau` collides in
    * at least one band with probability ≥ `targetRecall`: the banding
    * curve 1-(1-p^bits)^bands ≥ target solved for bands, with
    * p = 1-θ/π = 1-acos(tau)/π (the hyperplane collision probability
    * per bit). Recall is monotone in cosine, so every pair ABOVE tau
    * detects with at least this probability — tau is the worst case. */
  def bandsFor(tau: Double, targetRecall: Double, planesPerBand: Int): Int = {
    require(tau > -1.0 && tau < 1.0, s"tau must be in (-1, 1), got $tau")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(planesPerBand >= 1)
    val p = 1.0 - math.acos(tau) / math.Pi
    val pBand = math.pow(p, planesPerBand)
    math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt)
  }

  /** (bands, planesPerBand) meeting `targetRecall` at `tau` with the
    * LOWEST expected candidate cost, subject to a total-plane budget:
    * for each bits ∈ [1, 8] the minimal band count comes from
    * [[bandsFor]]; among configs with bands·bits ≤ maxPlanes, pick the
    * one minimizing bands/2^bits (expected candidates per corpus row,
    * as a fraction of |bench|), tie-broken on fewer planes. More bits
    * always cuts cost-per-candidate but costs more planes — the budget
    * caps the banding compute (bands·bits dot products per row). */
  def bandingFor(tau: Double, targetRecall: Double = 0.95,
                 maxPlanes: Int = 96): (Int, Int) = {
    val options = (1 to 8).map { bits =>
      (bandsFor(tau, targetRecall, bits), bits)
    }.filter { case (bands, bits) => bands * bits <= maxPlanes }
    require(options.nonEmpty,
      s"no banding meets recall $targetRecall at tau $tau within $maxPlanes planes")
    options.minBy { case (bands, bits) =>
      (bands.toDouble / (1L << bits), bands * bits)
    }
  }

  /** LSH-banded decontamination — the scale path next to the exact
    * embedDecontaminate BNLJ, for when the benchmark set outgrows
    * "model-sized": `numBands` independent hyperplane codes of
    * `planesPerBand` bits each; corpus and benchmark rows meet through
    * a broadcast HASH join on (band, bucket) equality, exact cosine
    * verifies only the collisions, and the per-doc aggregate counts
    * DISTINCT benchmark hits (a pair colliding in several bands scores
    * more than once but is counted once — max is duplicate-immune).
    *
    * Scale shape: candidates per corpus row ≈ B·|bench|/2^P instead of
    * |bench| — the banded-join bound every other near-dup operator in
    * this library uses, and O(n·B) in corpus size with NO nested loop.
    * Recall is the standard banding curve (1-(1-p^P)^B, p = 1-θ/π),
    * monotone in numBands. The DEFAULT knobs are derived from tau by
    * [[bandingFor]], so the shipped operating point meets ≥ 0.95
    * per-pair recall AT tau BY CONSTRUCTION (spec-pinned empirically)
    * — a caller picks knobs only to trade recall for candidate volume
    * deliberately, never to make the defaults safe. Misses are pairs
    * colliding in no band; the DuckDB oracle replicates the banding
    * bit-for-bit (dots, buckets, then verify), so the PIPELINE is
    * checked exactly even though the operator is approximate vs
    * embedDecontaminate.
    *
    * Output = corpus docs with at least one CANDIDATE (audit rows:
    * near-misses carry contaminated=false with their max_cos). */
  def embedDecontaminateLsh(emb: DataFrame, benchIds: DataFrame => Column,
                            tau: Double, numBands: Int = -1,
                            planesPerBand: Int = -1,
                            dim: Int = 64): DataFrame = {
    val (autoBands, autoPlanes) =
      if (numBands > 0 && planesPerBand > 0) (numBands, planesPerBand)
      else bandingFor(tau)
    embedDecontaminateLshWith(emb, benchIds, tau, autoBands, autoPlanes, dim)
  }

  private def embedDecontaminateLshWith(
      emb: DataFrame, benchIds: DataFrame => Column, tau: Double,
      numBands: Int, planesPerBand: Int, dim: Int): DataFrame =
    lshDecontamCandidates(emb, benchIds, numBands, planesPerBand, dim)
      .groupBy(col("vec_id"))
      .agg(
        round(max(col("cos")), 6).as("max_cos"),
        count_distinct(when(col("cos") >= tau, col("bench_id"))).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)

  /** Collision (candidate) frame of the banded decontam join —
    * (vec_id, bench_id, cos) per (band, bucket) collision, BEFORE the
    * per-doc aggregate. Exposed so ScaleProbe can measure the exact
    * candidate volume a knob choice buys (the quantity bandingFor's
    * bands/2^bits objective estimates). */
  private[graft] def lshDecontamCandidates(
      emb: DataFrame, benchIds: DataFrame => Column,
      numBands: Int, planesPerBand: Int, dim: Int): DataFrame = {
    require(numBands >= 1 && planesPerBand >= 1)
    val planes = planeMatrix(numBands * planesPerBand, dim)
    // (id, e, band, bucket) — one HyperplaneBucket per band (native
    // codegen'd, in-scan), then the B codes explode into rows so the
    // collision join is a plain equi-join on (band, bucket)
    def banded(df: DataFrame, id: String, e: String): DataFrame = {
      val withCodes = (0 until numBands).foldLeft(df) { (d, b) =>
        d.withColumn(s"bk$b", HyperplaneBucket(col(e),
          planes.slice(b * planesPerBand, (b + 1) * planesPerBand)))
      }
      withCodes.select(col(id), col(e),
        explode(array((0 until numBands).map(b =>
          struct(lit(b).as("band"), col(s"bk$b").as("bucket"))): _*)).as("bb"))
        .select(col(id), col(e),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    val v = vectors(emb)
    val bench = banded(v.filter(benchIds(v))
      .select(col("vec_id").as("bench_id"), col("e").as("eb")), "bench_id", "eb")
    val corpus = banded(v.filter(!benchIds(v)), "vec_id", "e")
    corpus.join(broadcast(bench), Seq("band", "bucket"))
      .withColumn("cos", CosineSimilarity(col("e"), col("eb")))
  }

  def embedDecontamLshQuery(spark: SparkSession, dir: String): DataFrame =
    embedDecontaminateLsh(Tables.embeddings(spark, dir),
      v => pmod(v("vec_id"), lit(50)) === 0, tau = 0.40)
      .orderBy(col("vec_id"))

  // ---------------------------------------------------------------- LSH

  /** Deterministic pseudo-random hyperplanes: component (p, d) is an
    * md5-derived value in [-1, 1). Driver-side constants — the plane
    * matrix is tiny (numPlanes x dim) and ships as literals, the moral
    * equivalent of broadcasting the model. */
  private[graft] def planeMatrix(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Double = {
      val bytes = digest.digest(s.getBytes("UTF-8"))
      val v = ((bytes(0) & 0x7fL) << 20) | ((bytes(1) & 0xffL) << 12) |
        ((bytes(2) & 0xffL) << 4) | (bytes(3) & 0xfL)
      v.toDouble / (1L << 26).toDouble - 1.0 // [-1, 1)
    }
    Seq.tabulate(numPlanes, dim)((p, d) => h(s"plane#$p#$d"))
  }

  /** All XOR masks of Hamming weight <= r over `planes` bits — the
    * multi-probe neighborhood. Driver-side constant (2^planes masks
    * scanned; planes is single-digit). */
  private[graft] def probeMasks(numPlanes: Int, probeHamming: Int): Seq[Int] =
    (0 until (1 << numPlanes)).filter(m => Integer.bitCount(m) <= probeHamming)

  // ------------------------------------------------- trainers and codecs

  /** Offline spherical k-means (Lloyd) training for the IVF coarse
    * quantizer. Each iteration is one corpus scan feeding two map-side-
    * combined aggregates: assignment (corpus × broadcast centroids +
    * max_by — same shape as serving) and the update, where the per-cell
    * elementwise mean is `dim` codegen'd avg() columns in ONE groupBy
    * (the minhash-signature trick: no posexplode row amplification, no
    * UDFs, no interpreted HOF folds). Cosine assignment ignores vector
    * magnitude, so the un-normalized mean is a valid spherical-k-means
    * update.
    *
    * Init is a deterministic md5-ordered sample — spread across the
    * corpus rather than the first C rows, because a corpus sorted by
    * source/cluster would seed every centroid from one shard (exactly
    * the degenerate case the recall property test exercises). Empty
    * cells drop out (standard Lloyd degeneracy); serving accepts any
    * centroid count.
    *
    * The centroid frame is model-sized (C × dim); localCheckpoint
    * truncates lineage each iteration so iteration i+1 does not replay
    * iterations 1..i, and the broadcast each round ships only the
    * materialized rows. Training is NOT oracle-checked by design: its
    * float reductions are not cross-engine reproducible, which is why
    * the oracle pins the serving path (annIvfTopK) instead — see the
    * recall property test in SimilaritySpec for the training check. */
  def trainIvfCentroids(emb: DataFrame, numCentroids: Int, iters: Int,
                        dim: Int = 64): DataFrame = {
    require(numCentroids >= 1 && iters >= 0)
    val v = vectors(emb)
    var cents = v
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
      .localCheckpoint()
    val meanCols = (0 until dim).map(i => avg(element_at(col("e"), i + 1)).as(s"x$i"))
    for (_ <- 1 to iters) {
      val assigned = v.crossJoin(broadcast(cents))
        .withColumn("ccos", CosineSimilarity(col("e"), col("ce")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (lit(0L) - col("cid")).as("nc")))
          .as("cell"), first(col("e")).as("e"))
      cents = assigned.groupBy("cell")
        .agg(meanCols.head, meanCols.tail: _*)
        .select(col("cell").as("cid"),
          array((0 until dim).map(i => col(s"x$i")): _*).as("ce"))
        .localCheckpoint()
    }
    cents
  }

  /** EXACT-INTEGER spherical k-means — [[trainIvfCentroids]]'s
    * oracle-replicable twin, closing the gap where every oracle-green
    * IVF query served from the deterministic first-C centroids while
    * the trained path was only property-tested: this trainer is
    * data-adaptive (real Lloyd iterations) AND bit-reproducible
    * cross-engine, so a TRAINED serving path can be oracle-checked
    * end-to-end (ann_ivf_topk_trained / ann_recall_trained).
    *
    * Determinism, step by step: vectors round ONCE to integer micro
    * units; init is the md5-ordered deterministic sample (cid = the
    * sample rank, 1..C); assignment is the serving path's own
    * round(cos, 6)-then-cid tiebreak (micro ints pass through double
    * exactly — |em| ≤ ~10^6, and the 64-term dot ≤ ~6.4·10^13 stays
    * inside double's 2^53 exact-integer range, so the fold is exact
    * in ANY order); the update floors the per-(cell, dim) mean —
    * floor(Σem / n), an IEEE-exact divide of exact integers — back to
    * micro ints. No float state ever crosses an iteration boundary.
    *
    * Scale shape: per iteration ONE corpus pass (the assignToCells
    * crossJoin with the model-sized centroid broadcast + a map-side-
    * combined 64-column aggregate); centroid frames are model-sized
    * and localCheckpointed so iteration i+1 never replays 1..i. The
    * exactness contract bounds per-(cell, dim) micro sums to 2^53 —
    * holds to ~10^9 vectors per cell, beyond any sane cell occupancy
    * (C grows with the corpus precisely to keep cells small).
    *
    * Returns (cid, ce: array<double>) — micro-valued components; the
    * scale is irrelevant to every cosine consumer. Empty cells drop
    * out (standard Lloyd degeneracy). */
  def trainIvfCentroidsExact(emb: DataFrame, numCentroids: Int, iters: Int,
                             dim: Int = 64): DataFrame = {
    require(numCentroids >= 1 && iters >= 0)
    val vm = vectors(emb).select(col("vec_id"), micro(col("e")).as("em"))
      .localCheckpoint()
    val vAsD = vm.select(col("vec_id"),
      transform(col("em"), _.cast("double")).as("e"))
    // orderBy + limit plans as a distributed TakeOrderedAndProject;
    // the rank window then runs over the C-row RESULT only (an
    // unpartitioned window over a model-sized frame, never the corpus)
    val wInit = W.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    var cents = vm
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .withColumn("cid", row_number().over(wInit).cast("long"))
      .select(col("cid"), col("em").as("cm"))
      .localCheckpoint()
    val sumCols = (0 until dim).map(i =>
      sum(element_at(col("em"), i + 1)).as(s"s$i")) :+
      count(lit(1)).as("n")
    for (_ <- 1 to iters) {
      val cAsD = cents.select(col("cid"),
        transform(col("cm"), _.cast("double")).as("ce"))
      // e is the micro ints passed through double exactly — cast back
      // in-row rather than re-joining the corpus for em
      val assigned = assignToCells(vAsD, cAsD)
        .select(col("cell"),
          transform(col("e"), _.cast("long")).as("em"))
      cents = assigned.groupBy("cell")
        .agg(sumCols.head, sumCols.tail: _*)
        .select(col("cell").as("cid"),
          array((0 until dim).map(i =>
            floor(col(s"s$i").cast("double") / col("n")).cast("long")): _*)
            .as("cm"))
        .localCheckpoint()
    }
    cents.select(col("cid"),
      transform(col("cm"), _.cast("double")).as("ce"))
  }

  /** The HELD-OUT query frame (query_id, eq) for the trained-vs-
    * default recall eval: queries disjoint from BOTH centroid samples,
    * so neither serving path is its own quantizer's seed.
    * Deterministic and oracle-replicable: drop the default sample
    * (vec_id < C), anti-join away the trained init sample (the
    * md5-ASC first C — trainIvfCentroidsExact's seed rule), then take
    * the md5-DESC tail Q. Bounded (Q rows) by construction; the
    * orderBy+limit plans as TakeOrderedAndProject and the anti-join
    * broadcasts the C-row init sample. */
  private[graft] def heldoutQueries(emb: DataFrame, numQueries: Int,
                                    numCentroids: Int): DataFrame = {
    val v = vectors(emb)
    val tinit = v
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id"))
    v.filter(col("vec_id") >= numCentroids)
      .join(broadcast(tinit), Seq("vec_id"), "left_anti")
      .orderBy(md5(col("vec_id").cast("string")).desc, col("vec_id").desc)
      .limit(numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("eq"))
  }

  // ---------------------------------------------------------------- quantize

  /** Symmetric per-vector int8 quantization — the storage/bandwidth
    * lever for an at-scale ANN corpus: q_i = round(x_i * 127 /
    * max|x|), half away from zero, so a float32 embedding column
    * shrinks 4x (and an int8 dot product is SIMD-friendly at serving
    * time). Emits the quantized vector as a csv string plus its
    * element sum (a checksum both engines compute in exact integer
    * arithmetic) and the rounded scale. An all-zero vector quantizes
    * to zeros (scale 0 by convention).
    *
    * Rounding is written as sign(x) * floor(|x|*127/max + 0.5) — an
    * explicit IEEE expression both engines evaluate bit-identically
    * (library round() half-even/half-up conventions differ across
    * engines; floor does not). Map-only, zero shuffles; the transform
    * lambdas here are a one-off storage pass, not the per-query ANN
    * hot path (which stays lambda-free via native expressions). */
  /** The half-away-from-zero int8 component expression — ONE copy
    * shared by quantizeInt8 and the index build (ivfInt8IndexRows), so
    * the rounding mode and the zero-vector convention cannot drift
    * between the stored index and the quantization the oracles/native
    * Int8Quantize pin. */
  private def int8Components(e: Column, maxabs: Column): Column =
    transform(e, x =>
      when(maxabs === 0.0d, lit(0))
        .otherwise((signum(x) *
          floor(abs(x) * lit(127.0d) / maxabs + lit(0.5d)))
          .cast("int")))

  def quantizeInt8(emb: DataFrame): DataFrame =
    vectors(emb)
      .withColumn("maxabs", array_max(transform(col("e"), x => abs(x))))
      .select(col("vec_id"), col("maxabs"),
        int8Components(col("e"), col("maxabs")).as("q"))
      .select(col("vec_id"),
        round(col("maxabs"), 6).as("maxabs_r"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long"))
          .as("q_sum"),
        concat_ws(",", col("q")).as("q_csv"))

  def quantizeInt8Query(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(Tables.embeddings(spark, dir)).orderBy(col("vec_id"))

  /** The physical ANN index row — (vec_id, cell, scale, q) with the
    * SAME nearest-centroid rule the serving path probes and the SAME
    * half-away-from-zero quantization quantizeInt8 pins: one frame
    * that, written `partitionBy("cell")`, is the on-disk IVF+int8
    * index (serving's cell probe becomes partition pruning). Built
    * here once for batch, and per micro-batch by the streaming ingest
    * (streaming.IvfIngest) — each row depends only on itself plus the
    * static centroid frame, so stream output is batch-identical under
    * any micro-batch split. */
  def ivfInt8IndexRows(emb: DataFrame, cents: DataFrame): DataFrame =
    assignToCells(vectors(emb), cents)
      .withColumn("maxabs", array_max(transform(col("e"), x => abs(x))))
      .select(col("vec_id"), col("cell"),
        round(col("maxabs"), 6).as("scale"),
        int8Components(col("e"), col("maxabs")).as("q"))

  /** TRAINED PQ codebooks — per-subspace Lloyd iterations in EXACT
    * integer micro units, the trainIvfCentroidsExact determinism
    * discipline pointed at the PQ objective (L2 on sub-slices, not
    * cosine): micro-int subvectors (|x| ≲ 2·10⁶ after floored means),
    * squared distances are BIGINT sums ≤ ~3.5·10¹³ (zip_with fold, no
    * doubles anywhere in assignment), argmin ties (d2 asc, cid asc),
    * update = per-(sub, cid, dim) FLOORED integer mean — so training
    * itself replays bit-for-bit in the DuckDB oracle. All numSub
    * k-means run as ONE keyed job per iteration: assignment is a
    * broadcast join on `sub` (the codebook frame is numSub·numCodes
    * rows — model-sized), the update one map-side-combined groupBy.
    * Init: the md5-ordered first numCodes vectors' sub-slices (the IVF
    * trainer's sampling rule). Empty codewords drop out of later
    * rounds in both engines identically. Exact while per-(sub,cid)
    * assigned mass stays under ~9·10⁹ vectors (the sum-of-micro 2^53
    * bound). Codewords ship back in fp scale via the exact /10⁶. */
  /** The per-subspace integer Lloyd CORE over an arbitrary micro-int
    * frame (vec_id, em: array<long>) — ONE loop for the raw-vector
    * codebooks (pqTrainCodebook) and the residual ones
    * (pqTrainResidualCodebook): slices to (vec_id, sub, xm), inits
    * from the md5-ordered first numCodes vec_ids, iterates BIGINT-L2
    * assignment (ties cid asc) + floored integer means. Returns
    * (sub, cid, cm: array<long>) in the INPUT's integer scale. */
  private def pqLloydOnMicro(vm: DataFrame, numSub: Int, subDim: Int,
                             numCodes: Int, iters: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1 && numCodes >= 1 && iters >= 0)
    val vms = vm
      .select(col("vec_id"), subRows(numSub).as("sub"), col("em"))
      .select(col("vec_id"), col("sub"), subSlice(col("em"), subDim).as("xm"))
      .localCheckpoint()
    val wInit = W.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val init = vm.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCodes)
      .withColumn("cid", row_number().over(wInit).cast("long"))
    var cents = vms.join(broadcast(init), "vec_id")
      .select(col("sub"), col("cid"), col("xm").as("cm"))
      .localCheckpoint()
    val sumCols = (0 until subDim).map(i =>
      sum(element_at(col("xm"), i + 1)).as(s"s$i")) :+
      count(lit(1)).as("n")
    for (_ <- 1 to iters) {
      val assigned = vms.join(broadcast(cents), Seq("sub"))
        .withColumn("d2", SqDistLong(col("xm"), col("cm")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"),
          first(col("xm")).as("xm"))
      cents = assigned.groupBy("sub", "cid")
        .agg(sumCols.head, sumCols.tail: _*)
        .select(col("sub"), col("cid"),
          array((0 until subDim).map(i =>
            floor(col(s"s$i").cast("double") / col("n")).cast("long")): _*)
            .as("cm"))
        .localCheckpoint()
    }
    cents
  }

  def pqTrainCodebook(emb: DataFrame, numSub: Int = 8, subDim: Int = 8,
                      numCodes: Int = 16, iters: Int = 2): DataFrame =
    pqLloydOnMicro(vectors(emb).select(col("vec_id"), micro(col("e")).as("em")),
      numSub, subDim, numCodes, iters)
      .select(col("sub"), col("cid"),
        transform(col("cm"), x => x.cast("double") / lit(1000000.0d))
          .as("c"))

  // ================================================== ANN serving chain
  //
  // Every ANN serving and recall query in this object is one
  // composition of the stages below; each stage is defined once and
  // carries its own exactness contract, so the per-query docs only say
  // which stages they compose.
  //  - coarse: none ([[flatPairs]]), LSH buckets ([[annLshCandidates]])
  //    or IVF cells ([[ivfIndexQ]] = [[assignToCells]] + [[ivfProbes]])
  //    over a centroid frame that is default ([[defaultCentroids]]),
  //    trained ([[trainIvfCentroidsExact]]) or stored beside an index;
  //    probes meet the corpus through ONE join, [[probeJoin]];
  //  - codes: fp32 and int8 score with [[cosOf]]; PQ and residual PQ
  //    encode against an explicit codebook frame ([[encode]]) and score
  //    with ONE ADC scorer ([[adcScores]]); int4 is [[packInt4]] and
  //    [[unpackInt4]] applied to PQ code arrays;
  //  - shortlist and rerank: [[shortlist]] keeps the code's top m,
  //    [[exactRescore]] rescores it in fp32, [[topK]] keeps k;
  //  - recall: [[heldout]] queries and truth, [[Budgets]] sweeps and
  //    ONE aggregate, [[recallBp]].

  /** Top-k stage, the tail of every ANN variant: rank candidates per
    * query by (rounded cosine desc, vec_id asc) and keep rnk <= k.
    * Tie rule: scores are compared AFTER rounding, so the DuckDB
    * oracles rank identically even where the engines differ in the
    * last ulp. Emits (query_id, neighbor_id, cos, rnk).
    * @param cand (query_id, vec_id, cos) candidate rows */
  private def topK(cand: DataFrame, k: Int): DataFrame = {
    val w = W.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** Codes stage fp32 and int8: the rounded-6 cosine of two vector
    * columns, through the native CosineSimilarity loop. Exactness:
    * fp32 inputs fold left to right (DuckDB's list_sum order, see
    * TextFunctions.dot); int8 inputs are integers with |q| <= 127, so
    * dot and norms² (<= 64·127²) are exact in any order and the score
    * is two correctly rounded sqrts and one divide. */
  private def cosOf(a: Column, b: Column): Column =
    round(CosineSimilarity(a, b), 6)

  /** The micro-int view of a vector column: each component rounded
    * ONCE to 10⁻⁶ units as BIGINT. Every exact-integer path (both
    * trainers, residual PQ, the query micro block) starts here; nothing
    * after it rounds again. */
  private def micro(e: Column): Column =
    transform(e, x => round(x * lit(1000000.0d)).cast("long"))

  /** Query stage: the bounded query frame (query_id, eq), the first
    * numQueries vectors. */
  private[graft] def prefixQueries(v: DataFrame, numQueries: Int): DataFrame =
    v.filter(col("vec_id") < numQueries).toDF("query_id", "eq")

  /** A (query_id, eq) frame in the (vec_id, e) shape the IVF stages
    * take for their query side. */
  private def asVectors(q: DataFrame): DataFrame = q.toDF("vec_id", "e")

  // --------------------------------------------------------- coarse stages

  /** Coarse stage "none": each bounded query meets every row of `rows`
    * but its own vector. The query side broadcasts, so the corpus is
    * scanned once and the only shuffle is the per-query top-k. */
  private def flatPairs(q: DataFrame, rows: DataFrame): DataFrame =
    broadcast(q).join(rows, col("query_id") =!= col("vec_id"))

  /** Brute-force fp32 candidates (query_id, eq, vec_id, e, cos) — coarse
    * "none" with fp32 codes: the exact baseline, the truth of every
    * recall query, and the hybrid RRF dense side. */
  private[graft] def fp32Pairs(v: DataFrame, q: DataFrame): DataFrame =
    flatPairs(q, v).withColumn("cos", cosOf(col("eq"), col("e")))

  /** THE probe → candidate join of the partitioned coarse stages: each
    * query's probe rows (query_id, probe, ...) meet the rows whose
    * `cell` column (an IVF cell, an LSH bucket) equals the probe, self
    * pairs excluded. A vector lives in one cell and a query's probes
    * are distinct, so a (query, vector) pair arises at most once. The
    * probe side is |Q|·probes rows and broadcasts; on a
    * partitionBy(cell) index the join prunes to the probed cells. */
  private def probeJoin(probes: DataFrame, rows: DataFrame,
                        cell: String): DataFrame =
    broadcast(probes)
      .join(rows, col("probe") === col(cell) && col("query_id") =!= col("vec_id"))

  /** Coarse stage IVF, probe side — THE probe ranking: each query vector
    * of `qv` (vec_id, e) takes its nProbe nearest cells of `cents`
    * (cid, ce) by (rounded-6 ccos desc, cid asc), [[assignToCells]]'
    * rule extended past rank 1. |Q|·C rows before the per-query window
    * (corpus·C map-side when the corpus is the query set, the knnGraph
    * build). Emits (query_id, eq, probe, prnk). */
  private def ivfProbes(qv: DataFrame, cents: DataFrame,
                        nProbe: Int): DataFrame = {
    val w = W.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    qv.crossJoin(broadcast(cents))
      .withColumn("ccos", cosOf(col("e"), col("ce")))
      .withColumn("prnk", row_number().over(w))
      .filter(col("prnk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("cid").as("probe"), col("prnk"))
  }

  /** Coarse stage IVF, both sides: `assigned` (vec_id, cell, e) puts each
    * corpus vector in its single nearest cell, `probes` fans each
    * vector of `qside` (vec_id, e) to its nProbe nearest cells. The
    * assignment aggregates combine map-side, so the C-fold row
    * amplification never crosses the exchange. */
  private def ivfIndexQ(v: DataFrame, cents: DataFrame, qside: DataFrame,
                        nProbe: Int): (DataFrame, DataFrame) =
    (assignToCells(v, cents).select(col("vec_id"), col("cell"), col("e")),
      ivfProbes(qside, cents, nProbe))

  /** The IVF candidate ids (query_id, vec_id, prnk): every probed cell's
    * vectors, tagged with the probe rank of the cell that holds them. */
  private def ivfPairs(probes: DataFrame, assigned: DataFrame): DataFrame =
    probeJoin(probes.select("query_id", "probe", "prnk"),
        assigned.select("vec_id", "cell"), "cell")
      .select("query_id", "vec_id", "prnk")

  /** IVF fp32 candidates (query_id, vec_id, cos) for the query vectors
    * `qside` (vec_id, e) — candidates/query ≈ nProbe · n/C, so C must
    * grow with n to hold the per-query scan (ScaleProbe measures it). */
  private[graft] def ivfCandidates(v: DataFrame, cents: DataFrame,
                                   qside: DataFrame, nProbe: Int): DataFrame = {
    val (assigned, probes) = ivfIndexQ(v, cents, qside, nProbe)
    probeJoin(probes, assigned, "cell").withColumn("cos", cosOf(col("eq"), col("e")))
  }

  /** The untrained default coarse quantizer: the first C vectors as
    * centroids. ONE definition — the serving path and ScaleProbe's
    * occupancy audit must quantize identically or the audit measures a
    * different operator than it claims. */
  def defaultCentroids(emb: DataFrame, numCentroids: Int): DataFrame =
    vectors(emb).filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("e").as("ce"))

  // ------------------------------------------------------ PQ codes stages

  /** One row per PQ subspace, and sub-slice `sub` of an array column. */
  private def subRows(numSub: Int): Column =
    explode(sequence(lit(0), lit(numSub - 1)))

  private def subSlice(e: Column, subDim: Int): Column =
    slice(e, col("sub") * subDim + 1, lit(subDim))

  /** THE PQ encoder (Jégou et al. 2011), codes stage of raw and residual
    * PQ over an explicit codebook frame `cb` (sub, cid, codeword): each
    * row of `rows` (ids..., x) is sliced per subspace and takes the
    * codeword nearest by `d2`, ties to the smallest cid. Emits (ids...,
    * sub, cid) — the M-byte index. It localCheckpoints so the ADC scan
    * and any rerank read the built index instead of replaying the
    * corpus encode (the ann_ivf_from_index contract); the encode is one
    * corpus pass with a broadcast codebook join and a map-side-combined
    * per-(vector, sub) argmin. */
  private def encode(rows: DataFrame, ids: Seq[String], x: String,
                     cb: DataFrame, numSub: Int, subDim: Int,
                     d2: Column): DataFrame = {
    val keys = ids.map(col)
    rows.select(keys :+ subRows(numSub).as("sub") :+ col(x): _*)
      .select(keys :+ col("sub") :+ subSlice(col(x), subDim).as("x"): _*)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d2", d2)
      .groupBy(keys :+ col("sub"): _*)
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
      .localCheckpoint()
  }

  /** Raw PQ codes (vec_id, sub, cid) of `v` against `cb` (sub, cid, c):
    * distance² = x·x + c·c − 2x·c rounded to 6 places, every dot a
    * sequential fold the oracle replays. */
  private def pqCodes(v: DataFrame, cb: DataFrame, numSub: Int,
                      subDim: Int): DataFrame =
    encode(v, Seq("vec_id"), "e", cb, numSub, subDim,
      round(dot(col("x"), col("x")) + dot(col("c"), col("c"))
        - lit(2.0d) * dot(col("x"), col("c")), 6))

  /** The default (data-seeded) PQ codebook: the first numCodes
    * vectors' sub-slices. */
  private def pqDefaultCodebook(v: DataFrame, numSub: Int, subDim: Int,
                                numCodes: Int): DataFrame =
    v.filter(col("vec_id") < numCodes)
      .select(col("vec_id").as("cid"), subRows(numSub).as("sub"), col("e"))
      .select(col("sub"), col("cid"), subSlice(col("e"), subDim).as("c"))

  /** Stored code arrays: code rows (ids..., sub, cid) become one row
    * per vector, (ids..., codes) in subspace order. */
  private def codeArrays(rows: DataFrame, ids: String*): DataFrame =
    rows.groupBy(ids.map(col): _*)
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("codes"))

  /** Code rows (keep..., sub, cid) read back from stored code arrays. */
  private def codeRows(index: DataFrame, keep: String*): DataFrame =
    index.select(keep.map(col) :+ posexplode(col("codes")): _*)
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "cid")

  /** THE int4 pack (FAISS PQx4): with numCodes <= 16 a code id fits 4
    * bits, so two share a byte, packed[b] = n(codes[2b]) |
    * n(codes[2b+1]) << 4 over the 0-based Spark SQL array index. n(c) =
    * c − base moves the codebook's cid domain [base, base + numCodes)
    * onto a nibble; a cid outside that window raises in-plan (the
    * nibble-window guard) instead of silently corrupting every code —
    * its upper bound is base + numCodes, not base + 16, so convention
    * drift that still fits a nibble is caught too. */
  private def packInt4(numSub: Int, numCodes: Int, base: Int): Column = {
    require(numCodes >= 1 && numCodes <= 16,
      s"int4 packing needs numCodes <= 16, got $numCodes")
    require(numSub >= 2 && numSub % 2 == 0,
      s"int4 packing needs an even numSub, got $numSub")
    def nib(e: String) =
      s"(CASE WHEN $e < $base OR $e >= ${base + numCodes} THEN " +
        "CAST(raise_error('int4 pack: cid out of the nibble window " +
        s"[$base, ${base + numCodes})') AS BIGINT) ELSE $e - $base END)"
    expr(s"transform(sequence(0, ${numSub / 2 - 1}), " +
      s"b -> CAST(${nib("codes[b * 2]")} | " +
      s"shiftleft(${nib("codes[b * 2 + 1]")}, 4) AS INT))").as("packed")
  }

  /** THE int4 unpack, [[packInt4]]'s inverse: codes[s] = ((packed[s div
    * 2] >> 4·(s mod 2)) & 15) + base as BIGINT. Lossless, so serving
    * from packed codes is bit-identical to serving from code arrays. */
  private def unpackInt4(numSub: Int, base: Int): Column =
    expr(s"transform(sequence(0, ${numSub - 1}), " +
      "s -> CAST((shiftright(packed[CAST(s div 2 AS INT)], " +
      s"CAST(s % 2 AS INT) * 4) & 15) + $base AS BIGINT))").as("codes")

  /** The query micro block (query_id, qm, q2m) of a (query_id, eq) frame:
    * [[micro]] components and their BIGINT norm². */
  private def queryMicro(q: DataFrame): DataFrame =
    q.select(col("query_id"), micro(col("eq")).as("qm"))
      .withColumn("q2m", SumSqLong(col("qm")))

  /** An ADC code: the key its per-query table joins code rows on, and
    * the cosine that finishes the summed dot `dm`, the summed
    * reconstruction norm² `r2m` and the table's query-norm term `qn`. */
  private case class Adc(key: Seq[String], cos: Column)

  /** Raw PQ: dm and r2m are micro-unit BIGINT sums (each table entry and
    * each per-sub codeword norm² rounds ONCE to micro units), qn = ‖q‖
    * in fp64; one IEEE sqrt + divide both engines compute alike. */
  private val pqAdc = Adc(Seq("sub", "cid"),
    when(col("r2m") <= 0 || col("qn") === 0.0d, lit(0.0d))
      .otherwise(round((col("dm") / lit(1000000.0d)) /
        (col("qn") * sqrt(col("r2m") / lit(1000000.0d))), 6)))

  /** Residual PQ: dm, qn = ‖q‖² and r2m are exact micro² BIGINTs — the
    * reconstruction x̂ = c_cell + ŵ stays within 3·10⁶ per component, so
    * r2m <= 64·9·10¹² < 2⁵³ passes through double exactly and every dot
    * stays far inside BIGINT. */
  private val residualAdc = Adc(Seq("cell", "sub", "cid"),
    when(col("r2m") <= 0 || col("qn") <= 0, lit(0.0d))
      .otherwise(round(col("dm").cast("double")
        / (sqrt(col("qn").cast("double")) * sqrt(col("r2m").cast("double"))), 6)))

  /** Raw-PQ ADC table per (query_id, sub, cid): tm = query sub-slice ·
    * codeword and r2 = codeword norm², both rounded once to micro units,
    * and qn = ‖q‖. |Q|·M·numCodes rows — model-sized. */
  private def pqTable(q: DataFrame, cb: DataFrame, subDim: Int): DataFrame =
    q.select(col("query_id"), col("eq"), l2norm(col("eq")).as("qn"))
      .crossJoin(cb)
      .select(col("query_id"), col("sub"), col("cid"), col("qn"),
        round(dot(subSlice(col("eq"), subDim), col("c")) * lit(1000000.0d))
          .cast("long").as("tm"),
        round(dot(col("c"), col("c")) * lit(1000000.0d)).cast("long").as("r2"))

  /** Residual ADC table per (query_id, cell, sub, cid) from the query
    * micro block and the reconstruction slices `xhat`: tm = qm_sub · x̂,
    * r2 = ‖x̂‖², qn = ‖qm‖². Per (query, cell) because codes address
    * residuals — |Q|·C·M·numCodes rows, still model-sized. */
  private def residualTable(q: DataFrame, xhat: DataFrame,
                            subDim: Int): DataFrame =
    queryMicro(q).crossJoin(broadcast(xhat))
      .select(col("query_id"), col("q2m").as("qn"), col("cell"), col("sub"),
        col("cid"), DotLong(subSlice(col("qm"), subDim), col("xh")).as("tm"),
        SumSqLong(col("xh")).as("r2"))

  /** THE ADC scorer (asymmetric distance computation): code rows meet
    * the broadcast per-query table on the code's key, and a vector's
    * score sums its numSub table dots and reconstruction norms² — BIGINT
    * sums, exact in any order — finished by the code's cosine. Rows
    * without query_id come from coarse "none" (every query meets every
    * row, self pairs dropped); rows with query_id were paired by a
    * coarse stage. Vectors sharing a code share a score for every
    * query BY CONSTRUCTION: that resolution is what the codes compress
    * away and what the rerank restores. Emits (query_id, vec_id, cos). */
  private def adcScores(rows: DataFrame, tab: DataFrame, code: Adc): DataFrame = {
    val met =
      if (rows.columns.contains("query_id"))
        rows.join(broadcast(tab), "query_id" +: code.key)
      else rows.join(broadcast(tab), code.key)
        .filter(col("query_id") =!= col("vec_id"))
    met.groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("tm")).as("dm"), sum(col("r2")).as("r2m"),
        first(col("qn")).as("qn"))
      .select(col("query_id"), col("vec_id"), code.cos.as("cos"))
  }

  /** Flat raw-PQ ADC top-k against an explicit codebook and query frame. */
  private def pqAdcTopK(v: DataFrame, cb: DataFrame, q: DataFrame, k: Int,
                        numSub: Int, subDim: Int): DataFrame =
    topK(adcScores(pqCodes(v, cb, numSub, subDim), pqTable(q, cb, subDim),
      pqAdc), k)

  // ------------------------------------------------- residual PQ codes

  /** Micro-int centroid frame (cell, cm) from a RAW-scale centroid table
    * (components <= 1, e.g. defaultCentroids), guarded here because
    * every caller — the stored-index serve included — expects raw
    * scale, and micro input would silently re-scale by 10⁶. */
  private def microCentsOf(cents: DataFrame): DataFrame =
    guardRawScaleCents(cents).select(col("cid").as("cell"),
      micro(col("ce")).as("cm"))

  /** (cell, cm) from [[trainIvfCentroidsExact]] output, which is ALREADY
    * micro-valued: a plain CAST, never ×10⁶ — cosines are scale-
    * invariant, residuals are not. */
  private def castCentsOf(cents: DataFrame): DataFrame =
    cents.select(col("cid").as("cell"), transform(col("ce"), _.cast("long")).as("cm"))

  /** (vec_id, cell, rm) — each assigned vector's BIGINT micro residual
    * x − c_cell against its cell centroid (the FAISS IVFADC semantic:
    * PQ encodes the residual, not x). */
  private def residualFrame(assigned: DataFrame, cm: DataFrame): DataFrame =
    assigned.select(col("vec_id"), col("cell"), micro(col("e")).as("em"))
      .join(broadcast(cm), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("em"), col("cm"), (x, c) => x - c).as("rm"))

  /** Residual PQ codes (vec_id, cell, sub, cid) against `cb` (sub, cid,
    * wm): distance² is an exact BIGINT L2, no rounding anywhere. */
  private def residualCodes(rm: DataFrame, cb: DataFrame, numSub: Int,
                            subDim: Int): DataFrame =
    encode(rm, Seq("vec_id", "cell"), "rm", cb, numSub, subDim,
      SqDistLong(col("x"), col("wm")))

  /** Data-seeded residual codebook: the residuals of vectors [seedFrom,
    * seedFrom + numCodes), sub-sliced. The seed prefix sits PAST the
    * centroid sample: a centroid vector's residual against its own cell
    * is zero, so seeding from the centroid ids gives an all-zero
    * codebook. */
  private def residualSeedCodebook(rm: DataFrame, numSub: Int, subDim: Int,
                                   numCodes: Int, seedFrom: Int): DataFrame =
    rm.filter(col("vec_id") >= seedFrom && col("vec_id") < seedFrom + numCodes)
      .select(col("vec_id").as("cid"), subRows(numSub).as("sub"), col("rm"))
      .select(col("sub"), col("cid"), subSlice(col("rm"), subDim).as("wm"))

  /** TRAINED residual codebook — the integer Lloyd core pointed at the
    * residual frame, so codewords minimize within-cell residual L2
    * (what FAISS's IVFADC trains). Output stays micro (sub, cid, wm). */
  def pqTrainResidualCodebook(rm: DataFrame, numSub: Int = 8,
                              subDim: Int = 8, numCodes: Int = 16,
                              iters: Int = 2): DataFrame =
    pqLloydOnMicro(rm.select(col("vec_id"), col("rm").as("em")),
      numSub, subDim, numCodes, iters)
      .select(col("sub"), col("cid"), col("cm").as("wm"))

  /** Reconstruction slices xhat(cell, sub, cid, xh = c_sub + ŵ) from the
    * MODEL tables alone (no corpus) — C·M·numCodes rows, the piece a
    * stored-index server rebuilds per query batch. */
  private def residualXhatOf(cm: DataFrame, cb: DataFrame, numSub: Int,
                             subDim: Int): DataFrame =
    cm.select(col("cell"), subRows(numSub).as("sub"), col("cm"))
      .select(col("cell"), col("sub"), subSlice(col("cm"), subDim).as("cs"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("cell"), col("sub"), col("cid"),
        zip_with(col("cs"), col("wm"), (a, b) => a + b).as("xh"))

  /** Residual ADC scores of IVF-paired code rows `rows` (query_id,
    * vec_id, cell, sub, cid) for the queries `q` (query_id, eq). */
  private def residualScores(rows: DataFrame, q: DataFrame, cm: DataFrame,
                             cb: DataFrame, numSub: Int,
                             subDim: Int): DataFrame =
    adcScores(rows, residualTable(q, residualXhatOf(cm, cb, numSub, subDim),
      subDim), residualAdc)

  /** (vec_id, cell, rm) residuals of the corpus against RAW-scale
    * centroids — the guarded public index boundary. */
  private def rawResiduals(emb: DataFrame, cents: DataFrame): DataFrame = {
    val cg = guardRawScaleCents(cents)
    residualFrame(assignToCells(vectors(emb), cg), microCentsOf(cg))
  }

  // -------------------------------------------- shortlist + rerank stages

  /** Shortlist stage: each query's top m candidates by the code's score
    * `cos`, under [[topK]]'s tie rule, as (query_id, vec_id, prnk). */
  private def shortlist(scored: DataFrame, m: Int): DataFrame = {
    val w = W.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.select(col("query_id"), col("vec_id"), row_number().over(w).as("prnk"))
      .filter(col("prnk") <= m)
  }

  /** Rerank stage: the shortlist rescored in exact fp32, joined by id to
    * the corpus `v` (vec_id, e) and the queries `q` (query_id, eq). Both
    * joins broadcast bounded frames, so no shuffle carries a full-width
    * vector until only |Q|·m shortlisted rows remain. */
  private def exactRescore(v: DataFrame, short: DataFrame,
                           q: DataFrame): DataFrame =
    v.join(broadcast(short), "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", cosOf(col("eq"), col("e")))

  /** Shortlist the code's top m, rerank in fp32, keep k. A true neighbor
    * is lost only outside the coarse candidates or below code rank m;
    * with m = the candidate count the result IS the exact top-k over
    * the candidates (spec-pinned). */
  private def rerankTopK(v: DataFrame, scored: DataFrame, q: DataFrame,
                         m: Int, k: Int): DataFrame =
    topK(exactRescore(v, shortlist(scored, m), q), k)

  // ------------------------------------------------------- recall stages

  /** Recall stage, held-out side: queries `q` (query_id, eq) disjoint
    * from the seed prefix [0, skip) and the md5 init sample
    * ([[heldoutQueries]] — no path serves its own seed), their ACTUAL
    * count `nq` (n_q), and the exact fp32 truth (query_id, neighbor_id,
    * hit) over the whole corpus. */
  private case class Heldout(q: DataFrame, nq: DataFrame, truth: DataFrame)

  private def heldout(emb: DataFrame, v: DataFrame, numQueries: Int,
                      skip: Int, k: Int): Heldout = {
    // Q rows, referenced by every served branch: checkpointed so the
    // corpus-side TakeOrdered does not replay per branch
    val hq = heldoutQueries(emb, numQueries, skip).localCheckpoint()
    Heldout(hq, hq.agg(count(lit(1)).as("n_q")),
      truthOf(v, hq, k).localCheckpoint())
  }

  /** The brute-force truth (query_id, neighbor_id, hit) for `q`. */
  private def truthOf(v: DataFrame, q: DataFrame, k: Int): DataFrame =
    topK(fp32Pairs(v, q), k)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))

  /** Recall stage, budget sweep: one served top-k frame per budget b,
    * tagged `name` = b. Budgets must be distinct: a repeated budget
    * would double-count its hits in [[recallBp]]'s groupBy. */
  private case class Budgets(name: String, values: Seq[Int]) {
    require(values.nonEmpty && values.distinct.size == values.size,
      s"$name budgets must be non-empty and distinct (a repeated budget " +
        s"double-counts its hits), got $values")
    def sweep(serve: Int => DataFrame): DataFrame =
      values.map(b => serve(b)
          .select(lit(b).as(name), col("query_id"), col("neighbor_id")))
        .reduce(_ unionByName _)
  }

  /** Recall stage, probe-budget sweep of fp32 IVF serving: the
    * candidates of `q` are scored ONCE at the largest budget, each
    * tagged with the probe rank `prnk` of the cell that holds it, and
    * every budget p is a `prnk <= p` filter plus top-k — one candidate
    * frame for the whole curve, equal to serving each budget alone. */
  private def ivfProbeSweep(v: DataFrame, cents: DataFrame, q: DataFrame,
                            budgets: Budgets, k: Int): DataFrame = {
    val cand = ivfCandidates(v, cents, asVectors(q), budgets.values.max)
      .localCheckpoint()
    budgets.sweep(p => topK(cand.filter(col("prnk") <= p), k))
  }

  /** THE recall aggregate: served top-k rows (keys..., query_id,
    * neighbor_id) left-joined to the truth, hits summed per key tuple,
    * recall_bp = (10000·hits) div (n·k) in BIGINT. n is the ACTUAL query
    * count: `nq`'s n_q when given (heldoutQueries may return fewer rows
    * than asked, and a constant denominator would deflate recall and
    * break the nProbe = C → 10000 invariant), 1 when the keys hold
    * query_id and every row is one query. */
  private def recallBp(served: DataFrame, truth: DataFrame, k: Int,
                       nq: Option[DataFrame], keys: String*): DataFrame = {
    val hits = served.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy(keys.map(col): _*)
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))
    val out = keys.map(col) :+ col("hits")
    nq match {
      case Some(n) => hits.crossJoin(broadcast(n))
        .select(out :+ expr(s"(10000 * hits) div (n_q * $k)").as("recall_bp"): _*)
      case None =>
        hits.select(out :+ expr(s"(10000 * hits) div $k").as("recall_bp"): _*)
    }
  }

  // ================================================ ANN serving queries

  /** Brute-force cosine top-k for a bounded query set (vec_id < Q):
    * coarse none, fp32 codes, top-k. */
  def annCosineTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val v = vectors(emb)
    topK(fp32Pairs(v, prefixQueries(v, numQueries)), k)
  }

  def annCosineTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annCosineTopK(Tables.embeddings(spark, dir), numQueries = 8, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** Hard-negative mining for contrastive retrieval training (the
    * DPR/ANCE shape — Karpukhin et al. 2020, Xiong et al. 2021): per
    * query, the top-k candidates in the cosine band [lo, hi) — similar
    * enough to be confusable, below the near-dup/positive threshold so
    * no false negative enters a training pair. annCosineTopK's stages
    * with the band filtered BEFORE the rank shuffle. */
  def annHardNegatives(emb: DataFrame, numQueries: Int, k: Int,
                       lo: Double = 0.15, hi: Double = 0.40): DataFrame = {
    require(lo < hi, s"band [$lo, $hi) is empty")
    val v = vectors(emb)
    topK(fp32Pairs(v, prefixQueries(v, numQueries))
      .filter(col("cos") >= lo && col("cos") < hi), k)
  }

  def annHardNegativesQuery(spark: SparkSession, dir: String): DataFrame =
    annHardNegatives(Tables.embeddings(spark, dir), numQueries = 8, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** Random-hyperplane LSH ANN: `numPlanes` sign bits → 2^planes
    * buckets; queries probe every bucket within Hamming distance
    * `probeHamming` of their own, fp32 codes score the probed buckets
    * only, top-k. Candidates per query are bounded by probe-bucket
    * occupancy (E[n/2^planes · probes]), not n. More probeHamming can
    * only grow each candidate set, so recall is monotone in it (at
    * probeHamming = numPlanes it IS brute force). */
  def annLshTopK(emb: DataFrame, numQueries: Int, k: Int,
                 numPlanes: Int = 6, probeHamming: Int = 1,
                 dim: Int = 64): DataFrame =
    topK(annLshCandidates(emb, numQueries, numPlanes, probeHamming, dim), k)

  /** Coarse stage LSH with fp32 codes: candidates (query_id, vec_id, cos)
    * BEFORE top-k, exposed so ScaleProbe can audit per-query candidate
    * volume (planes must rise by 1 per corpus doubling to hold bucket
    * occupancy flat). The bucket is the native HyperplaneBucket — the
    * one expression that touches every corpus vector — and the literal
    * mask array explodes before the XOR, so the probe expansion stays
    * codegen'd. */
  private[graft] def annLshCandidates(emb: DataFrame, numQueries: Int,
                                      numPlanes: Int, probeHamming: Int,
                                      dim: Int): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= numPlanes,
      s"probeHamming must be in [0, numPlanes], got $probeHamming")
    val vb = vectors(emb).withColumn("bucket",
      HyperplaneBucket(col("e"), planeMatrix(numPlanes, dim)))
    val q = vb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("bucket"),
        explode(array(probeMasks(numPlanes, probeHamming).map(lit): _*)).as("m"))
      .select(col("query_id"), col("eq"),
        col("bucket").bitwiseXOR(col("m")).as("probe"))
    probeJoin(q, vb, "bucket").withColumn("cos", cosOf(col("eq"), col("e")))
  }

  def annLshTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annLshTopK(Tables.embeddings(spark, dir), numQueries = 8, k = 3)
      .orderBy(col("query_id"), col("rnk"))

  /** IVF (inverted-file) cosine ANN over the default first-C centroids:
    * coarse IVF, fp32 codes, top-k. Centroids are deterministic so the
    * oracle replicates assignment bit-for-bit; trained centroids plug
    * into the same plan ([[annIvfTopKWith]]). */
  def annIvfTopK(emb: DataFrame, numQueries: Int, k: Int,
                 numCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids], got $nProbe")
    annIvfTopKWith(emb, defaultCentroids(emb, numCentroids), numQueries, k,
      nProbe)
  }

  /** IVF serving with an EXPLICIT centroid table (cid, ce) — the plan the
    * oracle pins, whether centroids are default or trained. */
  def annIvfTopKWith(emb: DataFrame, cents: DataFrame, numQueries: Int,
                     k: Int, nProbe: Int): DataFrame = {
    val v = vectors(emb)
    topK(ivfCandidates(v, cents, v.filter(col("vec_id") < numQueries), nProbe), k)
  }

  def annIvfTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfTopK(Tables.embeddings(spark, dir), numQueries = 8, k = 3)
      .orderBy(col("query_id"), col("rnk"))

  /** IVF serving from TRAINED centroids, end-to-end oracle-checked — the
    * exact-integer trainer's output through the unchanged IVF stages. */
  def annIvfTopKTrainedQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annIvfTopKWith(emb, trainIvfCentroidsExact(emb, 16, 2),
      numQueries = 8, k = 3, nProbe = 4)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Serving DIRECTLY from the stored IVF+int8 index ([[ivfInt8IndexRows]]'
    * write path): coarse IVF against the stored centroids, the probe
    * join against the index on `cell` (partition pruning on the
    * partitionBy(cell) layout — only probed cells are READ), and int8
    * codes scored from the STORED integers; per-vector scale cancels in
    * cosine, so the shortlist tier needs no fp32 vector. The index is
    * built once (nightly bulk + streaming.IvfIngest appends).
    * @param queries (query_id, e) fp32 query vectors — quantized here
    *                with the native expression the index used */
  def annIvfTopKFromIndex(index: DataFrame, queries: DataFrame,
                          cents: DataFrame, nProbe: Int, k: Int): DataFrame = {
    require(nProbe >= 1 && k >= 1, s"nProbe/k must be >= 1, got $nProbe/$k")
    val probes = ivfProbes(queries.select(col("query_id").as("vec_id"), col("e")),
        cents, nProbe)
      .select(col("query_id"), Int8Quantize(col("eq")).as("qq"), col("probe"))
    topK(probeJoin(probes, index, "cell")
      .withColumn("cos", cosOf(col("qq"), toDoubleArray(col("q")))), k)
  }

  def annIvfFromIndexQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = defaultCentroids(emb, 16)
    annIvfTopKFromIndex(ivfInt8IndexRows(emb, cents),
        vectors(emb).filter(col("vec_id") < 8).toDF("query_id", "e"), cents,
        nProbe = 4, k = 3)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** int8 codes under coarse "none": the native Int8Quantize in the scan
    * stage (bit-equal to quantizeInt8's rounding) on both sides,
    * (query_id, vec_id, cos). */
  private def int8Pairs(v: DataFrame, numQueries: Int): DataFrame = {
    val qv = v.select(col("vec_id"), Int8Quantize(col("e")).as("qe"))
    flatPairs(qv.filter(col("vec_id") < numQueries).toDF("query_id", "qq"), qv)
      .withColumn("cos", cosOf(col("qq"), col("qe")))
  }

  /** Brute-force cosine top-k over the int8-QUANTIZED corpus — a 4x
    * smaller vector column, quantization noise accepted in the ranking:
    * coarse none, int8 codes, top-k. */
  def annInt8TopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame =
    topK(int8Pairs(vectors(emb), numQueries), k)

  def annInt8TopKQuery(spark: SparkSession, dir: String): DataFrame =
    annInt8TopK(Tables.embeddings(spark, dir), numQueries = 8, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** TWO-STAGE retrieval: coarse none, int8 codes, shortlist m, fp32
    * rerank, top-k. With a full shortlist the result EQUALS the exact
    * brute-force baseline (AnnRerankSpec). */
  def annRerankTopK(emb: DataFrame, numQueries: Int, m: Int,
                    k: Int): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val v = vectors(emb)
    rerankTopK(v, int8Pairs(v, numQueries), prefixQueries(v, numQueries), m, k)
  }

  def annRerankTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annRerankTopK(Tables.embeddings(spark, dir),
      numQueries = 8, m = 20, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** The IVF + int8 + rerank stack: coarse IVF (only ≈ nProbe·n/C rows
    * are touched), int8 codes computed once per corpus vector inside
    * `assigned`, shortlist m, fp32 rerank, top-k. With nProbe = C and m
    * = corpus size the result EQUALS brute force (AnnIvfRerankSpec). */
  def annIvfRerankTopK(emb: DataFrame, numQueries: Int, m: Int, k: Int,
                       numCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids], got $nProbe")
    val v = vectors(emb)
    val (assigned, probes) = ivfIndexQ(v, defaultCentroids(emb, numCentroids),
      v.filter(col("vec_id") < numQueries), nProbe)
    val scored = probeJoin(
        probes.select(col("query_id"), Int8Quantize(col("eq")).as("qq"), col("probe")),
        assigned.withColumn("qe", Int8Quantize(col("e"))), "cell")
      .withColumn("cos", cosOf(col("qq"), col("qe")))
    rerankTopK(v, scored, prefixQueries(v, numQueries), m, k)
  }

  def annIvfRerankTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfRerankTopK(Tables.embeddings(spark, dir),
      numQueries = 8, m = 12, k = 3)
      .orderBy(col("query_id"), col("rnk"))

  /** Product-quantization ANN (Jégou et al. 2011): coarse none, raw PQ
    * codes against the default codebook, ADC, top-k. A 64-dim fp32
    * vector stores as 8 one-byte codes — 32x less index I/O than fp32. */
  def annPqTopK(emb: DataFrame, numQueries: Int, k: Int,
                numSub: Int = 8, subDim: Int = 8,
                numCodes: Int = 16): DataFrame = {
    require(numQueries >= 1 && k >= 1, s"bad numQueries=$numQueries/k=$k")
    require(numSub >= 1 && subDim >= 1 && numCodes >= 1,
      s"bad PQ shape $numSub x $subDim x $numCodes")
    val v = vectors(emb)
    pqAdcTopK(v, pqDefaultCodebook(v, numSub, subDim, numCodes),
      prefixQueries(v, numQueries), k, numSub, subDim)
  }

  def annPqTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annPqTopK(Tables.embeddings(spark, dir), numQueries = 8, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** ann_pq_trained: annPqTopK's stages with the TRAINED codebook. */
  def annPqTrained(emb: DataFrame, numQueries: Int = 8, k: Int = 3,
                   numSub: Int = 8, subDim: Int = 8, numCodes: Int = 16,
                   iters: Int = 2): DataFrame = {
    val v = vectors(emb)
    pqAdcTopK(v, pqTrainCodebook(emb, numSub, subDim, numCodes, iters),
      prefixQueries(v, numQueries), k, numSub, subDim)
  }

  def annPqTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    annPqTrained(Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rnk"))

  /** int4-PACKED PQ index rows (vec_id, packed) — FAISS's PQx4 storage,
    * M/2 bytes per vector: raw PQ codes through [[packInt4]]. A storage
    * change, not a model change. */
  def pqInt4IndexRowsWith(v: DataFrame, cb: DataFrame, numSub: Int,
                          subDim: Int, numCodes: Int): DataFrame = {
    val pack = packInt4(numSub, numCodes, base = 0)
    codeArrays(pqCodes(v, cb, numSub, subDim), "vec_id")
      .select(col("vec_id"), pack)
  }

  def pqInt4IndexRows(emb: DataFrame, numSub: Int = 8, subDim: Int = 8,
                      numCodes: Int = 16): DataFrame = {
    val v = vectors(emb)
    pqInt4IndexRowsWith(v, pqDefaultCodebook(v, numSub, subDim, numCodes),
      numSub, subDim, numCodes)
  }

  /** ann_pq_int4_topk — annPqTopK served from the int4-PACKED index:
    * codes unpack IN-SCAN ([[unpackInt4]]) into the unchanged ADC, so
    * the result is BIT-IDENTICAL to annPqTopK (SimilaritySpec pins it). */
  def annPqInt4TopK(emb: DataFrame, numQueries: Int = 8, k: Int = 5,
                    numSub: Int = 8, subDim: Int = 8,
                    numCodes: Int = 16): DataFrame = {
    require(numQueries >= 1 && k >= 1, s"bad numQueries=$numQueries/k=$k")
    val v = vectors(emb)
    val cb = pqDefaultCodebook(v, numSub, subDim, numCodes)
    // the stored index: numSub/2 bytes per vector, built once
    val packed = pqInt4IndexRowsWith(v, cb, numSub, subDim, numCodes)
      .localCheckpoint()
    val rows = codeRows(packed.select(col("vec_id"), unpackInt4(numSub, 0)),
      "vec_id")
    topK(adcScores(rows, pqTable(prefixQueries(v, numQueries), cb, subDim),
      pqAdc), k)
  }

  def annPqInt4TopKQuery(spark: SparkSession, dir: String): DataFrame =
    annPqInt4TopK(Tables.embeddings(spark, dir), numQueries = 8, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  /** The composed IVFADC serving chain with EXPLICIT model tables: coarse
    * IVF over `cents`, raw PQ codes against `cb`, ADC over the probed
    * candidates, shortlist m, fp32 rerank, top-k — one plan for the
    * default (annIvfPqTopK) and the trained (annIvfPqTrained) models. */
  def annIvfPqTopKWith(emb: DataFrame, cents: DataFrame, cb: DataFrame,
                       numQueries: Int, m: Int, k: Int, nProbe: Int,
                       numSub: Int, subDim: Int): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val v = vectors(emb)
    val q = prefixQueries(v, numQueries)
    val (assigned, probes) = ivfIndexQ(v, cents,
      v.filter(col("vec_id") < numQueries), nProbe)
    val rows = ivfPairs(probes, assigned)
      .join(pqCodes(v, cb, numSub, subDim), "vec_id")
    rerankTopK(v, adcScores(rows, pqTable(q, cb, subDim), pqAdc), q, m, k)
  }

  def annIvfPqTopK(emb: DataFrame, numQueries: Int = 8, m: Int = 12,
                   k: Int = 3, numCentroids: Int = 16, nProbe: Int = 4,
                   numSub: Int = 8, subDim: Int = 8,
                   numCodes: Int = 16): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids=$numCentroids], got $nProbe")
    annIvfPqTopKWith(emb, defaultCentroids(emb, numCentroids),
      pqDefaultCodebook(vectors(emb), numSub, subDim, numCodes),
      numQueries, m, k, nProbe, numSub, subDim)
  }

  def annIvfPqTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfPqTopK(Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rnk"))

  /** ann_ivf_pq_trained — annIvfPqTopKWith with BOTH models from their
    * exact-integer trainers ([[trainIvfCentroidsExact]],
    * [[pqTrainCodebook]]); the oracle replays both trainers and the
    * chain. At iters = 0 it is annIvfPqTopKWith on the md5 seed tables
    * (AnnIvfPqTrainedSpec). */
  def annIvfPqTrained(emb: DataFrame, numQueries: Int = 8, m: Int = 12,
                      k: Int = 3, numCentroids: Int = 16, nProbe: Int = 4,
                      numSub: Int = 8, subDim: Int = 8, numCodes: Int = 16,
                      iters: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids=$numCentroids], got $nProbe")
    annIvfPqTopKWith(emb,
      trainIvfCentroidsExact(emb, numCentroids, iters),
      pqTrainCodebook(emb, numSub, subDim, numCodes, iters),
      numQueries, m, k, nProbe, numSub, subDim)
  }

  def annIvfPqTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfPqTrained(Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rnk"))

  /** The residual IVFADC tail over an IVF index: residual codes of `rm`
    * against `cb`, ADC over the probed candidates, shortlist m, fp32
    * rerank, top-k. */
  private def residualRerank(v: DataFrame, q: DataFrame, probes: DataFrame,
                             assigned: DataFrame, rm: DataFrame,
                             cm: DataFrame, cb: DataFrame, m: Int, k: Int,
                             numSub: Int, subDim: Int): DataFrame = {
    val rows = ivfPairs(probes, assigned)
      .join(residualCodes(rm, cb, numSub, subDim), "vec_id")
    rerankTopK(v, residualScores(rows, q, cm, cb, numSub, subDim), q, m, k)
  }

  /** ann_ivf_pq_residual — IVFADC with RESIDUAL-encoded PQ: coarse IVF
    * (default centroids), residual PQ codes against the seeded
    * codebook, ADC, shortlist m, fp32 rerank, top-k. */
  def annIvfPqResidualTopK(emb: DataFrame, numQueries: Int = 8,
                           m: Int = 12, k: Int = 3, numCentroids: Int = 16,
                           nProbe: Int = 4, numSub: Int = 8,
                           subDim: Int = 8, numCodes: Int = 16): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids], got $nProbe")
    val v = vectors(emb)
    val cents = defaultCentroids(emb, numCentroids)
    val (assigned, probes) = ivfIndexQ(v, cents,
      v.filter(col("vec_id") < numQueries), nProbe)
    val cm = microCentsOf(cents)
    val rm = residualFrame(assigned, cm)
    residualRerank(v, prefixQueries(v, numQueries), probes, assigned, rm, cm,
      residualSeedCodebook(rm, numSub, subDim, numCodes, numCentroids),
      m, k, numSub, subDim)
  }

  def annIvfPqResidualTopKQuery(spark: SparkSession, dir: String): DataFrame =
    annIvfPqResidualTopK(Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rnk"))

  /** ann_ivf_pq_residual_trained — the complete FAISS IVFADC semantic,
    * every tier trained: exact-integer coarse centroids (micro-valued,
    * so [[castCentsOf]]), residuals against them, and a residual
    * codebook from the integer Lloyd core; the serving tail is
    * annIvfPqResidualTopK's. */
  def annIvfPqResidualTrained(emb: DataFrame, numQueries: Int = 8,
                              m: Int = 12, k: Int = 3,
                              numCentroids: Int = 16, nProbe: Int = 4,
                              numSub: Int = 8, subDim: Int = 8,
                              numCodes: Int = 16, iters: Int = 2): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids], got $nProbe")
    val v = vectors(emb)
    val cents = trainIvfCentroidsExact(emb, numCentroids, iters)
    val (assigned, probes) = ivfIndexQ(v, cents,
      v.filter(col("vec_id") < numQueries), nProbe)
    val cm = castCentsOf(cents)
    val rm = residualFrame(assigned, cm).localCheckpoint()
    residualRerank(v, prefixQueries(v, numQueries), probes, assigned, rm, cm,
      pqTrainResidualCodebook(rm, numSub, subDim, numCodes, iters),
      m, k, numSub, subDim)
  }

  def annIvfPqResidualTrainedQuery(spark: SparkSession,
                                   dir: String): DataFrame =
    annIvfPqResidualTrained(Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rnk"))

  /** RAW-scale guard at the residual boundaries: [[microCentsOf]] scales
    * by 10⁶ unconditionally, so a caller passing trainIvfCentroidsExact
    * output — ALREADY micro-valued — would silently get ~10⁶x-inflated
    * residuals and garbage codes. Unit vectors keep every component
    * <= 1, so magnitude >= 10³ can only mean a micro-valued frame: fail
    * loudly (the raise_error delimiter discipline). */
  private def guardRawScaleCents(cents: DataFrame): DataFrame = {
    // two independent micro signals: component magnitude ≥ 1e3 (no raw
    // unit-vector mean reaches it) OR squared L2 norm ≥ 1e10 (micro
    // frames sit near 1e12 REGARDLESS of dimension — the norm catch for
    // very high-dim frames whose every component stays under 1e3). The
    // message names WHICH signal fired — an operator debugging the
    // magnitude claim on a norm-tripped frame would find it false and
    // distrust the guard
    val mag = array_max(transform(col("ce"), x => abs(x)))
    val nrm2 = aggregate(col("ce"), lit(0.0d), (acc, x) => acc + x * x)
    cents.select(col("cid"),
      when(mag >= lit(1000.0d) or nrm2 >= lit(1e10d),
        raise_error(concat(
          lit("residual index: "),
          when(mag >= lit(1000.0d),
            lit("centroid component magnitude >= 1e3"))
            .otherwise(lit("centroid squared L2 norm >= 1e10 (micro " +
              "frames sit near 1e12)")),
          lit(" — this frame looks MICRO-valued (trained); pass " +
            "RAW-scale centroids here, or follow " +
            "annIvfPqResidualTrained's plain-CAST path for trained " +
            "models (cid="),
          col("cid").cast("string"), lit(")"))))
        .otherwise(col("ce")).as("ce"))
  }

  /** The data-seeded residual codebook derived from a corpus — the model
    * frame the nightly bulk persists beside the index (exposed for the
    * streaming ingest's frozen-model contract). */
  def residualSeedCodebookOf(emb: DataFrame, cents: DataFrame,
                             numSub: Int = 8, subDim: Int = 8,
                             numCodes: Int = 16,
                             seedFrom: Int = 16): DataFrame =
    residualSeedCodebook(rawResiduals(emb, cents), numSub, subDim, numCodes,
      seedFrom)

  /** The physical residual-PQ index row (vec_id, cell, codes) against an
    * EXPLICIT (frozen) codebook — M small ints per vector, the IVFADC
    * index payload. Written partitionBy(cell), serving's probe becomes
    * partition pruning. Each row depends only on itself plus the static
    * model frames, so streamed index content (ResidualIngest) is
    * batch-identical under any split. */
  def residualPqIndexRowsWith(emb: DataFrame, cents: DataFrame,
                              cb: DataFrame, numSub: Int = 8,
                              subDim: Int = 8): DataFrame =
    codeArrays(residualCodes(rawResiduals(emb, cents), cb, numSub, subDim),
      "vec_id", "cell")

  /** Serving DIRECTLY from the stored residual-PQ index: coarse IVF
    * against the stored centroids, the probe join against the index on
    * `cell`, residual ADC from the STORED codes plus the per-(query,
    * cell) tables of the model frames alone, and only the top-m
    * shortlist touches fp32 vectors (the primary store `corpus`, joined
    * by id). It serves EXACTLY what annIvfPqResidualTopK serves
    * (SimilaritySpec); the oracle is the same replay. */
  def annIvfPqResidualFromIndex(index: DataFrame, queries: DataFrame,
                                corpus: DataFrame, cents: DataFrame,
                                cb: DataFrame, nProbe: Int, m: Int,
                                k: Int, numSub: Int,
                                subDim: Int): DataFrame = {
    require(m >= k && nProbe >= 1)
    val q = queries.toDF("query_id", "eq")
    val probes = ivfProbes(asVectors(q), cents, nProbe)
      .select("query_id", "probe")
    val rows = codeRows(probeJoin(probes, index, "cell"),
      "query_id", "vec_id", "cell")
    rerankTopK(corpus,
      residualScores(rows, q, microCentsOf(cents), cb, numSub, subDim), q, m, k)
  }

  def annIvfPqResidualFromIndexQuery(spark: SparkSession,
                                     dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val v = vectors(emb)
    val cents = defaultCentroids(emb, 16)
    // the model/codebook the nightly bulk persists alongside the index,
    // built once and encoded against by the index build too
    val cb = residualSeedCodebookOf(emb, cents).localCheckpoint()
    annIvfPqResidualFromIndex(
      residualPqIndexRowsWith(emb, cents, cb),
      v.filter(col("vec_id") < 8).toDF("query_id", "e"),
      v, cents, cb, nProbe = 4, m = 12, k = 3, numSub = 8, subDim = 8)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The stored residual-PQ index at int4 packing: (vec_id, cell,
    * packed[M/2]) — [[residualPqIndexRowsWith]] through [[packInt4]]
    * with base = seedFrom. A seed codebook's cids are [seedFrom,
    * seedFrom + numCodes) by construction (they are the seed vectors'
    * ids), and serving re-bases. */
  def residualPqIndexRowsInt4(emb: DataFrame, cents: DataFrame,
                              cb: DataFrame, numSub: Int = 8,
                              subDim: Int = 8, numCodes: Int = 16,
                              seedFrom: Int = 16): DataFrame = {
    val pack = packInt4(numSub, numCodes, seedFrom)
    residualPqIndexRowsWith(emb, cents, cb, numSub, subDim)
      .select(col("vec_id"), col("cell"), pack)
  }

  /** Serving from the PACKED stored index: [[unpackInt4]] re-bases the
    * nibbles by `cidBase` (the packing's seedFrom) into the unchanged
    * from-index plan, bit-identical to serving the unpacked index and to
    * the rebuild plan (spec-pinned). */
  def annIvfPqResidualFromInt4Index(index: DataFrame, queries: DataFrame,
                                    corpus: DataFrame, cents: DataFrame,
                                    cb: DataFrame, nProbe: Int, m: Int,
                                    k: Int, numSub: Int, subDim: Int,
                                    cidBase: Int = 16): DataFrame =
    annIvfPqResidualFromIndex(
      index.select(col("vec_id"), col("cell"), unpackInt4(numSub, cidBase)),
      queries, corpus, cents, cb, nProbe, m, k, numSub, subDim)

  def annIvfPqResidualInt4Query(spark: SparkSession,
                                dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val v = vectors(emb)
    val cents = defaultCentroids(emb, 16)
    val cb = residualSeedCodebookOf(emb, cents).localCheckpoint()
    annIvfPqResidualFromInt4Index(
      residualPqIndexRowsInt4(emb, cents, cb),
      v.filter(col("vec_id") < 8).toDF("query_id", "e"),
      v, cents, cb, nProbe = 4, m = 12, k = 3, numSub = 8, subDim = 8)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ================================================== ANN recall queries

  /** MEASURED recall@k of IVF serving (annIvfTopK's stages) against
    * brute force, per query and nProbe — the knob-tuning artifact
    * behind every "C and nProbe meet the recall SLA" claim (IVF recall
    * has no closed form). Recall stages with per-query rows
    * (denominator k). */
  def annRecallEval(emb: DataFrame, numQueries: Int = 8, k: Int = 5,
                    numCentroids: Int = 16,
                    nProbes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val budgets = Budgets("n_probe", nProbes)
    require(nProbes.forall(p => p >= 1 && p <= numCentroids))
    val v = vectors(emb)
    val q = prefixQueries(v, numQueries)
    recallBp(ivfProbeSweep(v, defaultCentroids(emb, numCentroids), q, budgets, k),
      truthOf(v, q, k), k, None, "n_probe", "query_id")
  }

  def annRecallEvalQuery(spark: SparkSession, dir: String): DataFrame =
    annRecallEval(Tables.embeddings(spark, dir))
      .orderBy(col("n_probe"), col("query_id"))

  /** Recall@k per nProbe for TRAINED vs DEFAULT (first-C) centroids on
    * held-out queries (neither path serves its own seed): coarse IVF,
    * fp32 codes, top-k, recall stages. Both converge to 10000 at
    * nProbe = C (spec-pinned). */
  def annRecallTrained(emb: DataFrame, numQueries: Int = 8, k: Int = 5,
                       numCentroids: Int = 16, iters: Int = 2,
                       nProbes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val budgets = Budgets("n_probe", nProbes)
    require(nProbes.forall(p => p >= 1 && p <= numCentroids))
    val v = vectors(emb)
    val h = heldout(emb, v, numQueries, numCentroids, k)
    def served(tag: String, cents: DataFrame): DataFrame =
      ivfProbeSweep(v, cents, h.q, budgets, k)
        .select(lit(tag).as("centroids"), col("*"))
    recallBp(served("default", defaultCentroids(emb, numCentroids))
        .unionByName(served("trained",
          trainIvfCentroidsExact(emb, numCentroids, iters))),
      h.truth, k, Some(h.nq), "centroids", "n_probe")
  }

  def annRecallTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    annRecallTrained(Tables.embeddings(spark, dir))
      .orderBy(col("centroids"), col("n_probe"))

  /** Does TRAINING the codebook buy recall at equal bytes? Flat ADC top-k
    * from the default vs the Lloyd-trained codebook on held-out queries
    * (disjoint from the default sample vec_id < numCodes, whose
    * subvectors ARE default codewords, and from the trained init). */
  def pqTrainRecall(emb: DataFrame, numQueries: Int = 8, k: Int = 5,
                    numSub: Int = 8, subDim: Int = 8, numCodes: Int = 16,
                    iters: Int = 2): DataFrame = {
    val v = vectors(emb)
    val h = heldout(emb, v, numQueries, numCodes, k)
    def served(tag: String, cb: DataFrame) =
      pqAdcTopK(v, cb, h.q, k, numSub, subDim)
        .select(lit(tag).as("codebook"), col("query_id"), col("neighbor_id"))
    recallBp(served("default", pqDefaultCodebook(v, numSub, subDim, numCodes))
        .unionByName(served("trained",
          pqTrainCodebook(emb, numSub, subDim, numCodes, iters))),
      h.truth, k, Some(h.nq), "codebook")
  }

  def pqTrainRecallQuery(spark: SparkSession, dir: String): DataFrame =
    pqTrainRecall(Tables.embeddings(spark, dir)).orderBy(col("codebook"))

  /** Recall AT EQUAL BYTES: 4 bytes per vector spent as "pq8_4x16" (4
    * subspaces × 16 dims, a byte per code) vs "int4_8x8" (8 × 8, two
    * 4-bit codes per byte), flat ADC top-k on held-out queries. The int4
    * branch scores unpacked codes — pack/unpack is lossless (pinned by
    * ann_pq_int4_topk ≡ ann_pq_topk), so the row isolates the model
    * shape. */
  def pqInt4Recall(emb: DataFrame, numQueries: Int = 32, k: Int = 5,
                   numCodes: Int = 16): DataFrame = {
    val v = vectors(emb)
    val h = heldout(emb, v, numQueries, numCodes, k)
    def served(tag: String, numSub: Int, subDim: Int) =
      pqAdcTopK(v, pqDefaultCodebook(v, numSub, subDim, numCodes), h.q,
        k, numSub, subDim)
        .select(lit(tag).as("encoding"), col("query_id"), col("neighbor_id"))
    recallBp(served("pq8_4x16", 4, 16).unionByName(served("int4_8x8", 8, 8)),
        h.truth, k, Some(h.nq), "encoding")
      .select(col("encoding"), lit(4L).as("bytes_per_vec"), col("hits"),
        col("recall_bp"))
  }

  def pqInt4RecallQuery(spark: SparkSession, dir: String): DataFrame =
    pqInt4Recall(Tables.embeddings(spark, dir)).orderBy(col("encoding"))

  /** Does RESIDUAL encoding buy recall at equal bytes, per probe budget?
    * Raw vs residual PQ inside the same IVF candidates (same cells, same
    * M×numCodes bytes), top-k straight from the ADC — no rerank, so the
    * rows measure the CODES — on held-out queries past both seed
    * prefixes. One pass for the whole curve: candidates carry the probe
    * rank of their cell, each (query, vec) is scored once at the
    * maximum budget, and each budget's top-k is a rank filter. */
  def pqResidualRecall(emb: DataFrame, numQueries: Int = 32, k: Int = 5,
                       numCentroids: Int = 16,
                       nProbes: Seq[Int] = Seq(1, 2, 4),
                       numSub: Int = 8, subDim: Int = 8,
                       numCodes: Int = 16): DataFrame = {
    val budgets = Budgets("n_probe", nProbes)
    require(nProbes.forall(p => p >= 1 && p <= numCentroids))
    val v = vectors(emb)
    val cents = defaultCentroids(emb, numCentroids)
    val h = heldout(emb, v, numQueries, numCentroids + numCodes, k)
    val (assigned, probes) = ivfIndexQ(v, cents, asVectors(h.q), nProbes.max)
    val cand = ivfPairs(probes, assigned).localCheckpoint()
    val cbRaw = pqDefaultCodebook(v, numSub, subDim, numCodes)
    val rawScored = adcScores(cand.join(pqCodes(v, cbRaw, numSub, subDim), "vec_id"),
      pqTable(h.q, cbRaw, subDim), pqAdc)
    val cm = microCentsOf(cents)
    val rm = residualFrame(assigned, cm)
    val cbRes = residualSeedCodebook(rm, numSub, subDim, numCodes, numCentroids)
    val resScored = residualScores(
      cand.join(residualCodes(rm, cbRes, numSub, subDim), "vec_id"),
      h.q, cm, cbRes, numSub, subDim)
    def served(tag: String, scored: DataFrame) = {
      val ranked = scored.join(cand, Seq("query_id", "vec_id")).localCheckpoint()
      budgets.sweep(p => topK(ranked.filter(col("prnk") <= p), k))
        .select(lit(tag).as("encoding"), col("*"))
    }
    recallBp(served("raw", rawScored).unionByName(served("residual", resScored)),
      h.truth, k, Some(h.nq), "encoding", "n_probe")
  }

  def pqResidualRecallQuery(spark: SparkSession, dir: String): DataFrame =
    pqResidualRecall(Tables.embeddings(spark, dir))
      .orderBy(col("encoding"), col("n_probe"))

  /** The RERANK budget's curve: shortlist depth m of the residual IVFADC
    * chain on held-out queries. The candidates are ADC-ranked once at
    * the maximum m and rescored in fp32 once; each m is a rank filter.
    * Hits are non-decreasing in m — a TRUE invariant (SimilaritySpec):
    * shortlists nest in m and the rerank orders by the truth's own exact
    * rounded-6 + vec_id order, so a served true neighbor can only be
    * displaced by a vector that is itself a truth row. */
  def rerankBudgetRecall(emb: DataFrame, numQueries: Int = 32, k: Int = 5,
                         ms: Seq[Int] = Seq(5, 10, 20, 40),
                         numCentroids: Int = 16, nProbe: Int = 4,
                         numSub: Int = 8, subDim: Int = 8,
                         numCodes: Int = 16): DataFrame = {
    val budgets = Budgets("m", ms)
    require(ms.forall(_ >= k), s"every rerank budget must be >= k=$k, got $ms")
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids=$numCentroids], got $nProbe")
    val v = vectors(emb)
    val cents = defaultCentroids(emb, numCentroids)
    val h = heldout(emb, v, numQueries, numCentroids + numCodes, k)
    val (assigned, probes) = ivfIndexQ(v, cents, asVectors(h.q), nProbe)
    val cm = microCentsOf(cents)
    val rm = residualFrame(assigned, cm)
    val cb = residualSeedCodebook(rm, numSub, subDim, numCodes, numCentroids)
    val rows = ivfPairs(probes, assigned)
      .join(residualCodes(rm, cb, numSub, subDim), "vec_id")
    // exact rerank scores computed ONCE at the max budget — |Q|·maxM
    // rows; every m reads this frame through a rank filter
    val exact = exactRescore(v,
        shortlist(residualScores(rows, h.q, cm, cb, numSub, subDim), ms.max), h.q)
      .select("query_id", "vec_id", "cos", "prnk")
      .localCheckpoint()
    recallBp(budgets.sweep(m => topK(exact.filter(col("prnk") <= m), k)),
      h.truth, k, Some(h.nq), "m")
  }

  def rerankBudgetRecallQuery(spark: SparkSession, dir: String): DataFrame =
    rerankBudgetRecall(Tables.embeddings(spark, dir)).orderBy(col("m"))

  /** Seeded vs TRAINED residual codebooks at equal bytes: the same trained
    * coarse quantizer and the same candidates (the row isolates the
    * codebook-training effect), top-k from the ADC, held-out queries. */
  def pqResidualTrainedRecall(emb: DataFrame, numQueries: Int = 8,
                              k: Int = 5, numCentroids: Int = 16,
                              nProbe: Int = 4, numSub: Int = 8,
                              subDim: Int = 8, numCodes: Int = 16,
                              iters: Int = 2): DataFrame = {
    val v = vectors(emb)
    val cents = trainIvfCentroidsExact(emb, numCentroids, iters)
    val h = heldout(emb, v, numQueries, numCentroids + numCodes, k)
    val (assigned, probes) = ivfIndexQ(v, cents, asVectors(h.q), nProbe)
    val cand = ivfPairs(probes, assigned).localCheckpoint()
    val cm = castCentsOf(cents)
    val rm = residualFrame(assigned, cm).localCheckpoint()
    def branch(tag: String, cb: DataFrame) =
      topK(residualScores(cand.join(residualCodes(rm, cb, numSub, subDim), "vec_id"),
          h.q, cm, cb, numSub, subDim), k)
        .select(lit(tag).as("codebook"), col("query_id"), col("neighbor_id"))
    recallBp(branch("seeded",
        residualSeedCodebook(rm, numSub, subDim, numCodes, numCentroids))
        .unionByName(branch("trained",
          pqTrainResidualCodebook(rm, numSub, subDim, numCodes, iters))),
      h.truth, k, Some(h.nq), "codebook")
  }

  def pqResidualTrainedRecallQuery(spark: SparkSession,
                                   dir: String): DataFrame =
    pqResidualTrainedRecall(Tables.embeddings(spark, dir))
      .orderBy(col("codebook"))

  /** Matryoshka (MRL — Kusupati et al. 2022) dimension-tier recall:
    * brute-force cosine top-k on the FIRST d dimensions per tier d,
    * against the full-dimension tier as truth — how many leading dims a
    * serving index needs. ONE corpus scan: every (query, vector) pair
    * scores all tiers in-row, unpivots to (dims, query, vec, cos), and
    * the per-tier top-k is one window pass over a checkpointed edge
    * frame; recall stages with the top tier as truth, so that row reads
    * 10000 by construction. */
  def annMatryoshkaRecall(emb: DataFrame, numQueries: Int = 8, k: Int = 5,
                          tiers: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    Budgets("dims", tiers) // rejects a repeated tier before any scan
    require(tiers == tiers.sorted && tiers.forall(_ >= 1),
      "tiers must be ascending positive dims")
    val v = vectors(emb)
    val q = prefixQueries(v, numQueries)
    val cand = flatPairs(q, v)
      .select(Seq(col("query_id"), col("vec_id")) ++ tiers.map { d =>
        cosOf(slice(col("eq"), 1, d), slice(col("e"), 1, d)).as(s"cos_$d")
      }: _*)
    val long = cand.selectExpr("query_id", "vec_id",
      s"stack(${tiers.size}, " +
        tiers.map(d => s"CAST($d AS BIGINT), cos_$d").mkString(", ") +
        ") AS (dims, cos)")
    val w = W.partitionBy(col("dims"), col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val edges = long
      .select(col("dims"), col("query_id"), col("vec_id").as("neighbor_id"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= k)
      .localCheckpoint()
    val truth = edges.filter(col("dims") === tiers.max.toLong)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    recallBp(edges, truth, k, Some(q.agg(count(lit(1)).as("n_q"))), "dims")
  }

  def annMatryoshkaRecallQuery(spark: SparkSession, dir: String): DataFrame =
    annMatryoshkaRecall(Tables.embeddings(spark, dir)).orderBy(col("dims"))

  /** MEASURED neighborhood shift of the all-but-the-top transform:
    * brute-force top-k over the POSTPROCESSED vectors (query side too)
    * against the original-vector truth, per query — recall_bp near
    * 10000 means the common direction carried little neighbor
    * information. Recall stages with per-query rows. */
  def embedAllButTopRecall(emb: DataFrame, numQueries: Int = 8, k: Int = 5,
                           iters: Int = 6, dim: Int = 64): DataFrame = {
    val post = allButTopVectors(emb, iters, dim)
      .select(col("vec_id"),
        transform(col("num"), n =>
          when(col("nrm") === 0.0d, lit(0.0d))
            .otherwise(round(n.cast("double") / col("nrm")
              * lit(1000000.0d)).cast("long").cast("double"))).as("e"))
      .localCheckpoint()
    val v = vectors(emb)
    recallBp(topK(fp32Pairs(post, prefixQueries(post, numQueries)), k),
      truthOf(v, prefixQueries(v, numQueries), k), k, None, "query_id")
  }

  def embedAllButTopRecallQuery(spark: SparkSession, dir: String): DataFrame =
    embedAllButTopRecall(Tables.embeddings(spark, dir))
      .orderBy(col("query_id"))

  // ---------------------------------------------------------------- kNN graph

  /** k-nearest-neighbor GRAPH over the whole corpus — the precursor
    * artifact for graph-based curation (NN-Descent refinement,
    * graph-connected semantic dedup, diversity walks): every vector's
    * top-k cosine neighbors as directed edges, with a `mutual` flag
    * (both endpoints list each other — the reciprocal edges graph
    * clustering actually trusts).
    *
    * This is ann_ivf serving with Q = the corpus itself, and the scale
    * shape changes where it must: the probe side is corpus-sized, so
    * it is NOT broadcast (contrast ivfCandidates) — candidates come
    * from a shuffled equi-join on (cell, blk), where `blk` sub-tiles
    * each cell's corpus slice so a hot cell splits across numBlocks
    * tasks instead of funneling through one (the cosineNearDupPairs
    * tiling discipline applied to IVF cells; AQE skew-join would split
    * by size, the explicit key makes the bound deterministic).
    * Candidate volume per vertex ≈ nProbe·n/C — C grows with the
    * corpus exactly like the serving path, and nProbe=C degrades to
    * the exact brute-force graph (spec-pinned). The mutuality pass is
    * a self-join of the EDGE frame (n·k rows), never corpus-sized.
    */
  /** The (src, dst, cos, rnk) kNN edge frame WITHOUT the mutual
    * marking — the shape every refinement/eval consumer actually
    * reads. Split out (r19) because the optimizer cannot eliminate
    * knnGraph's mutual left self-join when `mutual` goes unused (an
    * outer join might duplicate rows for all Catalyst knows), so
    * knnGraphRefine / knnRefineRecall / knnRefineConverged were paying
    * an n·k edge self-join — and a full duplicate candidate-generation
    * subtree feeding it — per call, for a column they drop. */
  private[graft] def knnGraphEdges(emb: DataFrame, k: Int,
                                   numCentroids: Int, nProbe: Int,
                                   numBlocks: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids && numBlocks >= 1)
    val v = vectors(emb)
    // every corpus vector is a query: no vec_id bound, so a Long id
    // space (ids >= 2^31 from sharded ingest) keeps its full adjacency
    val (assigned, probes) = ivfIndexQ(v, defaultCentroids(emb, numCentroids), v, nProbe)
    val blocked = assigned
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("e").as("en"),
        pmod(col("vec_id"), lit(numBlocks.toLong)).as("blk"))
    val fanned = probes
      .withColumn("blk", explode(sequence(lit(0L), lit(numBlocks - 1L))))
    val cand = fanned.join(blocked,
        col("probe") === col("cell") && fanned("blk") === blocked("blk") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(CosineSimilarity(col("eq"), col("en")), 6))
      .select(col("query_id"), col("neighbor_id").as("vec_id"), col("cos"))
    topK(cand, k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cos"), col("rnk"))
  }

  def knnGraph(emb: DataFrame, k: Int = 5, numCentroids: Int = 16,
               nProbe: Int = 4, numBlocks: Int = 4): DataFrame = {
    val edges = knnGraphEdges(emb, k, numCentroids, nProbe, numBlocks)
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("m"))
    edges.join(rev, Seq("src", "dst"), "left")
      .withColumn("mutual", coalesce(col("m"), lit(false)))
      .drop("m")
  }

  /** Default IVF cell count as a function of corpus size (r12 verdict
    * #7 — the C ∝ n knob was documented but manual): C(n) =
    * clamp(⌈√n⌉, 16, 65536). √n is the minimizer of the two-term IVF
    * cost n·C (assignment: every vector scores every centroid) +
    * nProbe·n²/C (probing: candidates per vertex × n) — total
    * 2n^1.5·√nProbe — and, unlike C ∝ n (which would make per-vertex
    * candidates flat), it keeps the centroid frame o(n): the 65536 cap
    * × 32 floats ≈ 16 MB, so the broadcast side of the assignment join
    * stays model-sized (the PlanPropertiesSpec BNLJ contract). C ∝ n
    * would push the quadratic into assignment and broadcast a
    * corpus-proportional frame — rejected; callers who want flat
    * per-vertex volume pass numCentroids explicitly.
    *
    * Cross-engine exact: IEEE-754 sqrt is correctly rounded in both
    * the JVM and DuckDB, ceil of it is integral, so the oracle's
    * `ceil(sqrt(count(*)))` computes the identical C. */
  def adaptiveCentroids(n: Long): Int = {
    val c = math.ceil(math.sqrt(n.toDouble)).toLong
    math.min(65536L, math.max(16L, c)).toInt
  }

  def knnGraphQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    knnGraph(emb, numCentroids = adaptiveCentroids(vectors(emb).count()))
      .orderBy(col("src"), col("rnk"))
  }

  /** Mutual-kNN CLUSTERING — the knn_graph consumer (row 180 names
    * graph dedup as the artifact's purpose): keep only RECIPROCAL
    * edges (both endpoints list each other — the similarity evidence
    * one-directional kNN can fake when a hub vector is everyone's
    * neighbor but reciprocates none of them), then label connected
    * components over the mutual graph. Mutual-kNN components are the
    * classic density-adaptive clustering (Brito et al. 1997): no
    * global distance threshold, each vector's own neighborhood scale
    * decides, so dense shards and sparse tails cluster on their own
    * terms — the semantic grouping semdedup's fixed-C cells
    * approximate.
    *
    * Scale shape: rides knnGraph's (cell, blk)-tiled candidate join,
    * then the SHARED frontier-iterated connectedComponents over the
    * mutual edge frame — at most n·k edges in, frontier-sized shuffles
    * per round (the dedup_clusters discipline; singletons — vectors
    * with no reciprocal neighbor — stay their own cluster). */
  def knnGraphClusters(emb: DataFrame, k: Int = 5, numCentroids: Int = 16,
                       nProbe: Int = 4, numBlocks: Int = 4): DataFrame = {
    val pairs = knnGraph(emb, k, numCentroids, nProbe, numBlocks)
      .filter(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    Dedup.connectedComponents(
        vectors(emb).select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("rep_id"),
        col("cluster_size"), col("is_canonical"))
  }

  def knnGraphClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    knnGraphClusters(emb,
        numCentroids = adaptiveCentroids(vectors(emb).count()))
      .orderBy(col("vec_id"))
  }

  /** One NN-DESCENT refinement round over the IVF-bounded kNN graph
    * (Dong, Charikar & Li 2011: a neighbor of a neighbor is likely a
    * neighbor): candidate set per vertex = its current neighbors ∪
    * REVERSE neighbors ∪ two-hop neighbors, rescored exactly and
    * re-ranked top-k. Recovers true neighbors the cell-bounded
    * candidate generation missed — an edge crossing a cell boundary
    * is reachable through any shared neighbor — WITHOUT touching the
    * corpus-pair space: candidates are ≤ n·k(k+2) rows from keyed
    * self-joins of the n·k edge frame, deterministic (no sampling),
    * and one round is the measured sweet spot (knnRefineRecall).
    *
    * Scale shape: the edge frame localCheckpoints once (n·k rows); the
    * two-hop expansion and both vector joins are keyed equi-joins —
    * no broadcast of anything corpus-sized, no windows over hot keys
    * (per-vertex candidate groups are ≤ k(k+2)). */
  def knnGraphRefine(emb: DataFrame, k: Int = 5, numCentroids: Int = 16,
                     nProbe: Int = 4, numBlocks: Int = 4): DataFrame =
    knnGraphRefineFrom(emb,
      knnGraphEdges(emb, k, numCentroids, nProbe, numBlocks)
        .select("src", "dst").localCheckpoint(), k)

  /** The refinement round over an ALREADY-built (src, dst) edge frame
    * — exposed so evaluators sharing the base graph (knnRefineRecall)
    * refine the same materialized edges instead of rebuilding the IVF
    * chain. */
  private[graft] def knnGraphRefineFrom(emb: DataFrame, base: DataFrame,
                                        k: Int): DataFrame = {
    val rev = base.select(col("dst").as("src"), col("src").as("dst"))
    val hop2 = base.toDF("src", "mid")
      .join(base.toDF("mid", "dst"), "mid")
      .select("src", "dst")
    val cand = base.unionByName(rev).unionByName(hop2)
      .filter(col("src") =!= col("dst")).distinct()
    val v = vectors(emb)
    val scored = cand
      .join(v.toDF("src", "es"), "src")
      .join(v.toDF("dst", "ed"), "dst")
      .select(col("src").as("query_id"), col("dst").as("vec_id"),
        round(CosineSimilarity(col("es"), col("ed")), 6).as("cos"))
    topK(scored, k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cos"), col("rnk"))
  }

  def knnGraphRefineQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    knnGraphRefine(emb,
        numCentroids = adaptiveCentroids(vectors(emb).count()))
      .orderBy(col("src"), col("rnk"))
  }

  /** Edge-set recall of the IVF-bounded graph vs one NN-Descent round,
    * against the exhaustive exact kNN graph — the uplift measurement
    * that justifies (or refutes) the refinement pass at equal k. Truth
    * is knnGraph at nProbe = C, which is spec-pinned ≡ brute force.
    * Output: one row per stage with hits over n·k true edges. */
  def knnRefineRecall(emb: DataFrame, k: Int = 5, numCentroids: Int = 16,
                      nProbe: Int = 4): DataFrame = {
    val truth = knnGraphEdges(emb, k, numCentroids, numCentroids, 4)
      .select(col("src"), col("dst"), lit(true).as("hit"))
    // ONE base-graph build: the ivf stage and the refinement both read
    // the same materialized edge frame
    val base = knnGraphEdges(emb, k, numCentroids, nProbe, 4)
      .select("src", "dst").localCheckpoint()
    val staged = base
      .select(lit("ivf").as("stage"), col("src"), col("dst"))
      .unionByName(knnGraphRefineFrom(emb, base, k)
        .select(lit("refined").as("stage"), col("src"), col("dst")))
    val nRow = vectors(emb).agg(count(lit(1)).as("n_vec"))
    staged.join(truth, Seq("src", "dst"), "left")
      .groupBy("stage")
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))
      .crossJoin(broadcast(nRow))
      .select(col("stage"), col("hits"), col("n_vec"),
        expr(s"(10000 * hits) div (n_vec * $k)").as("recall_bp"))
  }

  def knnRefineRecallQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    knnRefineRecall(emb,
        numCentroids = adaptiveCentroids(vectors(emb).count()))
      .orderBy(col("stage"))
  }

  /** NN-Descent run to CONVERGENCE — knn_graph_refine's single round
    * (measured +21 recall points) iterated with the standard early
    * stop (Dong, Charikar & Li 2011 §2.3): after each round, count
    * edges the round CHANGED (new (src,dst) pairs in the top-k lists);
    * stop when that falls below epsBp basis points of the n·k edge
    * mass, or at maxRounds. The graph monotonically improves (a
    * round's candidate set contains the incumbent edges, so a
    * neighbor is only ever replaced by a STRICTLY closer one — the
    * spec pins both monotone recall and refine(exact) = exact, the
    * fixpoint that makes "convergence" meaningful).
    *
    * Scale shape: each round's state is the n·k edge frame,
    * localCheckpointed like the CC fixpoint (no lineage growth, no
    * corpus re-scan per round); the per-round stop statistic is ONE
    * scalar count off a keyed anti-join of two edge frames. The
    * early-stop matters at 100 TB because rounds are not free —
    * n·k(k+2) exact rescores each — and NN-Descent's value
    * concentrates in the first rounds.
    *
    * Determinism: the round count is data-dependent but REPLAYABLE —
    * the oracle unrolls maxRounds rounds as CTEs, computes the same
    * change counts, and selects the same effective round. */
  def knnRefineConverged(emb: DataFrame, k: Int = 5,
      numCentroids: Int = 16, nProbe: Int = 4, numBlocks: Int = 4,
      maxRounds: Int = 3, epsBp: Long = 100L): DataFrame = {
    require(maxRounds >= 1 && epsBp >= 0)
    val nk = vectors(emb).count() * k
    var cur = knnGraphEdges(emb, k, numCentroids, nProbe, numBlocks)
      .select("src", "dst", "cos", "rnk").localCheckpoint()
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val next = knnGraphRefineFrom(emb, cur.select("src", "dst"), k)
        .localCheckpoint()
      val newEdges = next.select("src", "dst")
        .join(cur.select("src", "dst"), Seq("src", "dst"), "left_anti")
        .count()
      done = 10000L * newEdges < epsBp * nk
      cur = next
      rounds += 1
    }
    cur
  }

  def knnRefineConvergedQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    knnRefineConverged(emb,
        numCentroids = adaptiveCentroids(vectors(emb).count()))
      .orderBy(col("src"), col("rnk"))
  }

  // ---------------------------------------------------------------- vector QC

  /** Embedding-table hygiene report, per label slice: row counts, the
    * norm range in exact micro units, zero vectors (unembeddable
    * inputs — they silently break cosine math), and vectors carrying a
    * non-finite component (NaN/Inf from an overflowed encoder — one
    * of them poisons every aggregate it touches). The vector-side
    * admission gate next to the text side's corpus_card: run it
    * BEFORE vectors enter the index.
    *
    * Scale shape: entirely map-only per row (norm fold + two in-row
    * `exists` probes) + one map-side-combined per-label aggregate. */
  def embedNormQc(emb: DataFrame): DataFrame =
    emb.select(col("label"), toDoubleArray(col("embedding")).as("e"))
      .withColumn("bad",
        exists(col("e"), x => isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity))
      // norm is only DEFINED for finite vectors: guard before the long
      // cast so a NaN norm can't turn into an engine-dependent value
      .select(col("label"), col("bad"),
        when(col("bad"), lit(null).cast("long"))
          .otherwise(round(l2norm(col("e")) * lit(1000000.0d)).cast("long"))
          .as("norm_micro"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(when(!col("bad"), col("norm_micro"))).as("min_norm_micro"),
        max(when(!col("bad"), col("norm_micro"))).as("max_norm_micro"),
        sum(when(col("norm_micro") === 0 && !col("bad"), 1L).otherwise(0L))
          .as("n_zero"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"))

  def embedNormQcQuery(spark: SparkSession, dir: String): DataFrame =
    embedNormQc(Tables.embeddings(spark, dir)).orderBy(col("label"))

  /** EXACT-duplicate vector detection — the embedding mirror of
    * dedup_exact (dedup'd text re-embedded twice, double-ingested
    * shards, and constant-output encoder bugs all materialize as
    * bit-identical vectors that silently double-weight every
    * centroid, index cell, and nearest-neighbor list): vectors hash
    * by the md5 of their once-rounded micro components joined as a
    * canonical string (the same micro basis every exact-integer
    * operator here shares — float bit-pattern equality without
    * cross-engine float hashing), min id per hash group keeps, the
    * rest flag as dups. Window partitions by the hash — groups are
    * duplicate-set-sized, never corpus-sized. */
  def embedExactDups(emb: DataFrame): DataFrame = {
    val hash = md5(concat_ws(",",
      transform(toDoubleArray(col("embedding")),
        x => round(x * lit(1000000.0d)).cast("long"))))
    val w = W.partitionBy(col("h"))
    emb.select(col("vec_id"), hash.as("h"))
      .select(col("vec_id"), min(col("vec_id")).over(w).as("keep_id"))
      .withColumn("is_dup", col("vec_id") =!= col("keep_id"))
  }

  def embedExactDupsQuery(spark: SparkSession, dir: String): DataFrame =
    embedExactDups(Tables.embeddings(spark, dir)).orderBy(col("vec_id"))

  /** Dominant direction of the embedding table by POWER ITERATION on
    * the exact-integer second-moment matrix — the measurement behind
    * the "all-but-the-top" postprocessing rule (Mu & Viswanath 2018:
    * a fat top component is corpus-wide anisotropy — frequency
    * artifacts, not meaning — and retrieval improves when it is
    * projected out; this computes WHAT to project):
    *
    *  - components round ONCE to milli units, so every gram entry
    *    m_ij = Σ x̃_i·x̃_j is an exact BIGINT (|x̃| ≤ ~10³ keeps the
    *    sum in int64 past 10⁹ rows);
    *  - the gram build is the ONE corpus pass: a dim²-fold in-row
    *    explode feeding a map-side-combined (i, j) aggregate — output
    *    dim² rows, model-sized;
    *  - iterations run on the dim²-frame only: w = G·v with products
    *    in decimal(38,0) (scale-safe), then v ← round(10⁴·w/max|w|)
    *    — the max-norm rescale keeps next-round integers bounded, and
    *    the one double division per component is the display-float
    *    discipline (exact-integer inputs, correctly-rounded IEEE ops,
    *    identical cross-engine); v state localCheckpoints per round.
    *  - deterministic BY CONSTRUCTION: fixed seed v₀ = e_s·10⁴ at the
    *    LARGEST-DIAGONAL axis s (argmax_j G_jj, ties → smallest j —
    *    a fixed e₀ seed dead-ends with a 0/0 when dimension 0 carries
    *    no mass, a real failure mode for encoders with dead dims; the
    *    heaviest axis always has G·e_s ≠ 0, and an ALL-zero gram
    *    raise_errors loudly), fixed iteration count — no RNG, no sign
    *    ambiguity, and the oracle unrolls the identical recurrence as
    *    materialized CTEs. */
  /** The exact-integer milli gram, localCheckpointed — the ONE corpus
    * pass every power-iteration consumer shares. */
  private def gramOf(emb: DataFrame): DataFrame =
    emb.select(transform(toDoubleArray(col("embedding")),
        x => round(x * lit(1000.0d)).cast("long")).as("q"))
      .select(posexplode(col("q")).as(Seq("i", "xi")), col("q"))
      .select(col("i"), col("xi"), posexplode(col("q")).as(Seq("j", "xj")))
      .groupBy("i", "j").agg(sum(col("xi") * col("xj")).as("m"))
      .localCheckpoint()

  /** One max-rescaled power recurrence from an explicit integer seed
    * frame (j, v): iters × (w = G·v in decimal, v ← round(10⁴·w/max|w|)).
    *
    * The max-rescale reads max|w| as an UNPARTITIONED WINDOW aggregate
    * over the dim-sized iterate (allowlisted in PlanPropertiesSpec —
    * the groupBy("i") bounds the frame to dim ≤ 64 rows), NOT as a
    * 1-row agg crossJoined back: the window keeps each step LINEAR in
    * the plan (w referenced once), so the whole recurrence composes
    * into ONE declarative plan with zero per-step jobs — the r18
    * per-step localCheckpoint form paid a materialization + a count +
    * a broadcast job per step (measured: 123 build-phase jobs for
    * topComponents2, 16.4s of pure scheduling on 64-row frames). Same
    * arithmetic, same values; only the execution shape changes. */
  private def powerIterate(gram: DataFrame, seed: DataFrame,
                           iters: Int): DataFrame = {
    val whole = W.partitionBy()
    var v = seed
    for (_ <- 1 to iters) {
      val w = gram.join(v, "j")
        .groupBy("i")
        .agg(sum(col("m").cast("decimal(38,0)") * col("v")).as("w"))
      v = w
        .withColumn("mw", max(abs(col("w"))).over(whole))
        .select(col("i").as("j"),
          round(col("w").cast("double") / col("mw").cast("double")
            * lit(10000.0d)).cast("long").as("v"))
    }
    v
  }

  /** The argmax-diagonal seed frame e_s·10⁴ (loud failure on an
    * all-zero gram). */
  private def diagSeed(gram: DataFrame, dim: Int): DataFrame = {
    import gram.sparkSession.implicits._
    val seed = gram.filter(col("i") === col("j"))
      .orderBy(col("m").desc, col("i")).limit(1)
      .select(when(col("m") === 0L,
        raise_error(lit("topComponent: the gram diagonal is all zero — " +
          "every embedding is the zero vector; no direction exists")))
        .otherwise(col("i")).as("sj"))
    Seq.tabulate(dim)(j => j).toDF("j")
      .crossJoin(broadcast(seed))
      .select(col("j"),
        when(col("j") === col("sj"), 10000L).otherwise(0L).as("v"))
  }

  def topComponent(emb: DataFrame, iters: Int = 6,
                   dim: Int = 64): DataFrame = {
    require(iters >= 1 && dim >= 1)
    val gram = gramOf(emb)
    powerIterate(gram, diagSeed(gram, dim), iters)
      .select(col("j").as("dim"), col("v").as("v_unit"))
  }

  def topComponentQuery(spark: SparkSession, dir: String): DataFrame =
    topComponent(Tables.embeddings(spark, dir)).orderBy(col("dim"))


  /** The TRANSFORM ann_matryoshka_recall gates: truncate every vector
    * to its first `d` dims and re-normalize to unit length, shipped in
    * exact integer micro units (component = round(x/‖x₁..d‖ · 10⁶),
    * each rounded ONCE; the norm itself in micro for QC). The 4×
    * storage/bandwidth cut a serving index takes AFTER the recall eval
    * approves d — run the eval first; this materializes the decision.
    * Zero-norm prefixes (unembeddable at tier d) emit all-zero
    * components with norm_micro = 0 — the embed_norm_qc flag carries
    * over rather than a NaN. Map-only, one corpus pass; the array
    * ships as the CSV convention (embed_quantize_int8's). */
  def embedMatryoshkaTruncate(emb: DataFrame, d: Int = 16): DataFrame = {
    require(d >= 1)
    val t = slice(col("e"), 1, d)
    val nrm = sqrt(aggregate(transform(t, x => x * x), lit(0.0d),
      (acc, x) => acc + x))
    vectors(emb)
      .select(col("vec_id"), t.as("t"), nrm.as("nrm"))
      .select(col("vec_id"), lit(d.toLong).as("dims"),
        round(col("nrm") * lit(1000000.0d)).cast("long").as("norm_micro"),
        concat_ws(",", transform(col("t"), x =>
          when(col("nrm") === 0.0d, lit(0L))
            .otherwise(round(x / col("nrm") * lit(1000000.0d))
              .cast("long")))).as("t_csv"))
  }

  def embedMatryoshkaTruncateQuery(spark: SparkSession,
                                   dir: String): DataFrame =
    embedMatryoshkaTruncate(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id"))

  /** ALL-BUT-THE-TOP postprocessing (Mu & Viswanath 2018) — the
    * TRANSFORM top_component gates: project the dominant direction v
    * out of every vector and re-normalize, in exact integers end to
    * end. top_component measures corpus anisotropy; this removes it.
    *
    * Exact-integer construction (nothing float crosses engines
    * unpinned):
    *  - x̃ = round(x·10³) per component (topComponent's milli basis);
    *    v is the power iteration's integer v_unit (|v_j| ≤ 10⁴);
    *  - the residual is the EXACT integer vector
    *      num_i = x̃_i·⟨v,v⟩ − ⟨x̃,v⟩·v_i
    *    (x̃ − proj_v x̃ scaled by ⟨v,v⟩ — scaling by the exact integer
    *    denominator instead of dividing keeps every component a
    *    BIGINT: |num_i| ≤ 10³·64·10⁸ + 64·10⁷·10⁴ ≈ 1.3·10¹³, inside
    *    int64 AND double-exact);
    *  - re-normalization divides by ‖num‖ once per component and
    *    rounds ONCE to micro units (norm squares ~10²⁶ round in
    *    double, but identically: both engines fold the same exact
    *    integers in the same order — the cosine-family discipline).
    *
    * Diagnostics per vector: cos_top_micro = cos(x̃, v) (how aligned
    * the vector was with the common direction) and res_norm_micro =
    * ‖num‖/(⟨v,v⟩·‖x̃‖) (the fraction of the vector's norm that
    * SURVIVES the projection — sin of the angle to v). Zero vectors
    * degrade to NULL diagnostics + all-zero components, the
    * embed_norm_qc convention.
    *
    * Scale shape: topComponent's one corpus pass builds the gram; the
    * projection itself is map-only per row against the ONE broadcast
    * (v, ⟨v,v⟩) row — no shuffle, no second corpus pass beyond the
    * gram's. The CSV ships like embed_quantize_int8. */
  private[operators] def allButTopVectors(emb: DataFrame, iters: Int,
                                          dim: Int): DataFrame = {
    val top = topComponent(emb, iters, dim)
    val vrow = top
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("v_unit")))),
        s => s.getField("v_unit")).as("va"))
      .select(col("va"), SumSqLong(col("va")).as("vv"))
    emb.select(col("vec_id"),
        transform(toDoubleArray(col("embedding")),
          x => round(x * lit(1000.0d)).cast("long")).as("q"))
      .crossJoin(broadcast(vrow))
      .withColumn("qq", SumSqLong(col("q")))
      .withColumn("xv", DotLong(col("q"), col("va")))
      .withColumn("num",
        zip_with(col("q"), col("va"),
          (x, vi) => x * col("vv") - col("xv") * vi))
      .withColumn("nrm", sqrt(SumSqLongAsDouble(col("num"))))
  }

  def embedAllButTop(emb: DataFrame, iters: Int = 6,
                     dim: Int = 64): DataFrame =
    allButTopVectors(emb, iters, dim)
      .select(col("vec_id"),
        when(col("qq") === 0L, lit(null).cast("long"))
          .otherwise(round(col("xv") / (sqrt(col("qq")) * sqrt(col("vv")))
            * lit(1000000.0d)).cast("long")).as("cos_top_micro"),
        when(col("qq") === 0L, lit(null).cast("long"))
          .otherwise(round(col("nrm")
            / (col("vv").cast("double") * sqrt(col("qq")))
            * lit(1000000.0d)).cast("long")).as("res_norm_micro"),
        concat_ws(",", transform(col("num"), n =>
          when(col("nrm") === 0.0d, lit(0L))
            .otherwise(round(n.cast("double") / col("nrm")
              * lit(1000000.0d)).cast("long")))).as("e_csv"))

  def embedAllButTopQuery(spark: SparkSession, dir: String): DataFrame =
    embedAllButTop(Tables.embeddings(spark, dir)).orderBy(col("vec_id"))


  /** Exact-integer Gram-Schmidt step shared by the v₂ iteration and
    * its seed: o = u·⟨v₁,v₁⟩ − ⟨u,v₁⟩·v₁ over (j, u)/(j, v) frames —
    * scaling by the exact denominator instead of dividing (the
    * all-but-the-top trick) keeps every term in int64 for 10⁴-scaled
    * inputs. Emits (j, o). */
  private def orthogonalizeAgainst(u: DataFrame, v1: DataFrame): DataFrame = {
    // ⟨v₁,v₁⟩ and ⟨u,v₁⟩ as unpartitioned-window aggregates over the
    // dim-sized joined frame (see powerIterate: linear plan, zero
    // per-step jobs, identical integer arithmetic). ⟨v₁,v₁⟩ over the
    // JOINED frame equals the old v1-only aggregate because u and v1
    // are both complete dim-row vectors keyed by j.
    val whole = W.partitionBy()
    u.join(v1.select(col("j"), col("v").as("v1")), "j")
      .withColumn("vv1", sum(col("v1") * col("v1")).over(whole))
      .withColumn("uv", sum(col("u") * col("v1")).over(whole))
      .select(col("j"),
        (col("u") * col("vv1") - col("uv") * col("v1")).as("o"))
  }

  /** Max-rescale an integer frame (j, o) to 10⁴ units; a zero frame
    * raise_errors with the caller's message (rank deficiency). */
  private def rescale10k(o: DataFrame, onZero: String): DataFrame =
    o.withColumn("mo", max(abs(col("o"))).over(W.partitionBy()))
      .select(col("j"),
        when(col("mo") === 0L, raise_error(lit(onZero)))
          .otherwise(round(col("o").cast("double")
            / col("mo").cast("double") * lit(10000.0d)).cast("long"))
          .as("v"))

  /** The top TWO principal directions (r15 verdict #6's "k = 1 first"
    * continued): v₁ is the power iteration unchanged; v₂ comes from
    * deflation-free ORTHOGONALIZED power iteration — each step runs
    * the same G·v recurrence, rescales to 10⁴ integers, then projects
    * v₁ back out with the exact-integer Gram-Schmidt step above, so
    * the iterate converges to the dominant direction of v₁'s
    * orthogonal complement (the second eigenvector). Both the seed
    * and every step stay in int64 (|o| ≤ 10⁴·Σv₁² + ⟨u,v₁⟩·10⁴ ≈
    * 1.3·10¹⁴) and the one division per component is the
    * display-float discipline.
    *
    * Determinism: v₂ seeds at e_s'·10⁴ with s' = argmax_j of
    * G_jj·(10⁸ − v₁_j²) — diagonal mass × misalignment with v₁, ties
    * → smallest j. The score is zero only for dead axes (G_jj = 0,
    * whose power step would dead-end) or axes fully equal to v₁
    * (whose orthogonalization vanishes); it is zero for ALL j exactly
    * when every vector lives on the single v₁ axis — true rank-1 —
    * which raise_errors loudly. (argmin |v₁_j| looked simpler but
    * picks DEAD axes: a zero-mass dimension orthogonalizes fine and
    * then G·v = 0 on the first step.) The score's double product is
    * exact for G_jj < 2⁵³ (~10⁹ rows of milli-unit vectors) and
    * identical cross-engine regardless.
    * A corpus that is rank-1 within rounding (every G·v collapses
    * back onto v₁) raise_errors loudly instead of dividing by zero.
    *
    * Scale shape: ONE gram pass (shared with v₁ — localCheckpointed),
    * all iteration state dim-sized; the orthogonalization scalars are
    * 1-row aggregates. */
  def topComponents2(emb: DataFrame, iters: Int = 6,
                     dim: Int = 64): DataFrame = {
    require(iters >= 1 && dim >= 2,
      "topComponents2 needs dim >= 2 (a 1-dim space has no v2)")
    val gram = gramOf(emb)
    // v1 is referenced by the seed scorer, EVERY v2 orthogonalization
    // and the output union — one 64-row checkpoint instead of
    // duplicating its whole iteration chain into each consumer (the
    // per-STEP checkpoints inside powerIterate are gone; see its doc)
    val v1 = powerIterate(gram, diagSeed(gram, dim), iters)
      .localCheckpoint()
    val rank1Msg = "topComponents2: the corpus is rank-1 within " +
      "rounding — every direction collapses onto v1; no second " +
      "component exists"
    val s2 = gram.filter(col("i") === col("j"))
      .join(v1.select(col("j"), col("v").as("v1")), "j")
      .select(col("j"),
        (col("m").cast("double")
          * (lit(1.0e8d) - (col("v1") * col("v1")).cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("j")).limit(1)
      .select(when(col("score") === 0.0d, raise_error(lit(rank1Msg)))
        .otherwise(col("j")).as("s2j"))
    import emb.sparkSession.implicits._
    val seed0 = Seq.tabulate(dim)(j => j).toDF("j")
      .crossJoin(broadcast(s2))
      .select(col("j"),
        when(col("j") === col("s2j"), 10000L).otherwise(0L).as("u"))
    // the v2 recurrence composes into ONE plan: max|w| as an
    // unpartitioned-window aggregate over the dim-sized w (linear
    // plan growth, zero per-step jobs — see powerIterate's doc)
    var v2 = rescale10k(orthogonalizeAgainst(seed0, v1), rank1Msg)
    for (_ <- 1 to iters) {
      val w = gram.join(v2, "j")
        .groupBy("i")
        .agg(sum(col("m").cast("decimal(38,0)") * col("v")).as("w"))
      val u = w
        .withColumn("mw", max(abs(col("w"))).over(W.partitionBy()))
        .select(col("i").as("j"),
          when(col("mw") === 0L, raise_error(lit(rank1Msg)))
            .otherwise(round(col("w").cast("double")
              / col("mw").cast("double") * lit(10000.0d)).cast("long"))
            .as("u"))
      v2 = rescale10k(orthogonalizeAgainst(u, v1), rank1Msg)
    }
    v1.select(lit(1L).as("component"), col("j").as("dim"),
        col("v").as("v_unit"))
      .unionByName(v2.select(lit(2L).as("component"), col("j").as("dim"),
        col("v").as("v_unit")))
  }

  def topComponents2Query(spark: SparkSession, dir: String): DataFrame =
    topComponents2(Tables.embeddings(spark, dir))
      .orderBy(col("component"), col("dim"))

  /** All-but-the-top with k = 2: project v₁ out (the embed_all_but_top
    * residual), re-normalize to micro units, then project v₂ out of
    * the MICRO-rounded residual and re-normalize again — sequential
    * single-direction applications, each with one rounding, so every
    * intermediate stays int64- and double-exact (the second
    * projection's terms top out near 8.3·10¹⁵ < 2⁵³). v₂ ⟂ v₁, so
    * the second projection cannot reintroduce the first direction
    * beyond rounding. Zero vectors — and vectors whose ENTIRE mass
    * was the anisotropy (zero residual after either projection) —
    * degrade to NULL diagnostics + zero components. */
  def embedAllButTop2(emb: DataFrame, iters: Int = 6,
                      dim: Int = 64): DataFrame = {
    val both = topComponents2(emb, iters, dim).localCheckpoint()
    def dirRow(c: Long, va: String, vv: String) = both
      .filter(col("component") === c)
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("v_unit")))), s => s.getField("v_unit")).as(va))
      .select(col(va), SumSqLong(col(va)).as(vv))
    val q = emb.select(col("vec_id"),
      transform(toDoubleArray(col("embedding")),
        x => round(x * lit(1000.0d)).cast("long")).as("q"))
    val r1 = q
      .crossJoin(broadcast(dirRow(1L, "va", "vv")))
      .withColumn("qq", SumSqLong(col("q")))
      .withColumn("xv", DotLong(col("q"), col("va")))
      .withColumn("num",
        zip_with(col("q"), col("va"),
          (x, vi) => x * col("vv") - col("xv") * vi))
      .withColumn("nrm", sqrt(SumSqLongAsDouble(col("num"))))
      .select(col("vec_id"), col("qq"), col("xv"), col("vv"),
        transform(col("num"), n =>
          when(col("nrm") === 0.0d, lit(0L))
            .otherwise(round(n.cast("double") / col("nrm")
              * lit(1000000.0d)).cast("long"))).as("r1"))
    r1.crossJoin(broadcast(dirRow(2L, "wa", "ww")))
      .withColumn("rr", SumSqLong(col("r1")))
      .withColumn("xw", DotLong(col("r1"), col("wa")))
      .withColumn("num2",
        zip_with(col("r1"), col("wa"),
          (x, wi) => x * col("ww") - col("xw") * wi))
      .withColumn("nrm2", sqrt(SumSqLongAsDouble(col("num2"))))
      .select(col("vec_id"),
        when(col("qq") === 0L, lit(null).cast("long"))
          .otherwise(round(col("xv") / (sqrt(col("qq")) * sqrt(col("vv")))
            * lit(1000000.0d)).cast("long")).as("cos_top_micro"),
        when(col("rr") === 0L, lit(null).cast("long"))
          .otherwise(round(col("xw") / (sqrt(col("rr")) * sqrt(col("ww")))
            * lit(1000000.0d)).cast("long")).as("cos_top2_micro"),
        concat_ws(",", transform(col("num2"), n =>
          when(col("nrm2") === 0.0d, lit(0L))
            .otherwise(round(n.cast("double") / col("nrm2")
              * lit(1000000.0d)).cast("long")))).as("e_csv"))
  }

  def embedAllButTop2Query(spark: SparkSession, dir: String): DataFrame =
    embedAllButTop2(Tables.embeddings(spark, dir)).orderBy(col("vec_id"))

  // ---------------------------------------------------------------- projection

  /** Deterministic ±1 sign matrix for signed random projection, from
    * the same md5 stream as planeMatrix so both engines can replicate
    * it as literals. */
  private[operators] def srpSigns(outDim: Int, inDim: Int): Seq[Seq[Int]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    def s(tag: String): Int =
      if ((digest.digest(tag.getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
    Seq.tabulate(outDim, inDim)((j, i) => s(s"srp#$j#$i"))
  }

  /** Signed-random-projection dimensionality reduction (Achlioptas
    * 2003's database-friendly JL variant): int8-quantize each vector,
    * then project through a fixed ±1 matrix to `outDim` integer
    * components. For sign rows s_j, E[(s_j·a)(s_j·b)] = a·b, so
    * projected dot products are unbiased inner-product estimators and
    * projected cosine approximates true cosine with stderr ~ 1/√outDim
    * — the compression layer that feeds clustering / LSH / ANN probes
    * when even the int8 corpus is too wide to scan (64 dims × 4 B
    * fp32 = 256 B/vec down to 16 × ~2 B ≈ 32 B/vec, 8x less I/O).
    *
    * Exactness contract: quantized components are |q| ≤ 127 ints, so
    * every projected component is an exact BIGINT sum (|p_j| ≤ 64·127)
    * and norm2 an exact sum of their squares — no float summation
    * order anywhere; the oracle replicates quantization + projection
    * bit-for-bit.
    *
    * Scale shape: entirely MAP-ONLY — the sign matrix is a literal in
    * the plan, quantization and both folds are in-row array ops; the
    * operator adds ZERO shuffles to a corpus scan at any size. */
  def embedProjectSrp(emb: DataFrame, outDim: Int = 16,
                      inDim: Int = 64): DataFrame = {
    val signsLit = array(srpSigns(outDim, inDim).map(row =>
      array(row.map(lit(_)): _*)): _*)
    vectors(emb)
      .select(col("vec_id"), graft.functions.Int8Quantize(col("e")).as("q"))
      // zip_with null-pads on length mismatch, which would silently
      // null the fold — reject wrong-width vectors loudly instead
      .withColumn("q", when(size(col("q")) === inDim, col("q"))
        .otherwise(raise_error(concat(lit(s"embedProjectSrp: expected $inDim-dim vector, got "),
          size(col("q")).cast("string")))))
      .select(col("vec_id"),
        transform(signsLit, r =>
          aggregate(zip_with(r, col("q"), (s, x) => (s * x).cast("long")),
            lit(0L), (acc, x) => acc + x)).as("p"))
      .select(col("vec_id"),
        concat_ws(",", col("p")).as("proj_csv"),
        aggregate(col("p"), lit(0L), (acc, x) => acc + x * x).as("norm2"))
  }

  def embedProjectSrpQuery(spark: SparkSession, dir: String): DataFrame =
    embedProjectSrp(Tables.embeddings(spark, dir)).orderBy(col("vec_id"))

  // ---------------------------------------------------------------- oracles

  /** Chained-CTE oracle for the greedy k-center traversal: m_i is the
    * running min-distance after i-1 picks, c_i the i-th pick (argmax
    * m_i, ties to smallest vec_id) — the same iterated `least` over
    * rounded-6 distances the Spark loop computes, so the selection
    * sequence and reported micro-distances match bit-for-bit. */
  private def kcenterOracle(k: Int): String = {
    def dist(a: String, b: String): String =
      s"round(1.0 - list_sum(list_transform(range(1, len($a.e)+1), " +
        s"i -> $a.e[i]*$b.e[i])) / ($a.nrm * $b.nrm), 6)"
    val sb = new StringBuilder(vectorCte)
    sb ++= ",c1 AS (SELECT vec_id, e, nrm FROM v WHERE vec_id = 0)"
    for (i <- 2 to k) {
      val m =
        if (i == 2)
          s"SELECT v.vec_id, v.e, v.nrm, ${dist("v", "c")} AS mind " +
            "FROM v CROSS JOIN c1 c"
        else
          s"SELECT m.vec_id, m.e, m.nrm, least(m.mind, ${dist("m", "c")}) " +
            s"AS mind FROM m${i - 1} m CROSS JOIN c${i - 1} c"
      sb ++= s",m$i AS ($m)"
      sb ++= s",c$i AS (SELECT vec_id, e, nrm, mind FROM m$i " +
        "ORDER BY mind DESC, vec_id LIMIT 1)"
    }
    sb ++= " SELECT 1 AS rnk, vec_id, CAST(2000000 AS BIGINT) AS dist_micro FROM c1"
    for (i <- 2 to k)
      sb ++= s" UNION ALL SELECT $i, vec_id, " +
        s"CAST(round(mind * 1000000) AS BIGINT) FROM c$i"
    sb ++= " ORDER BY rnk"
    sb.toString
  }

  /** Chained-CTE oracle for the MMR greedy: cand is the micro-unit
    * top-nCand shortlist, m_i the pool with the running max-similarity
    * after i-1 picks, c_i the argmax of the undivided integer score
    * 7·rel − 3·maxs (λ = 7/10, ties to smallest vec_id) — the same
    * iterated greatest() over once-rounded micro cosines the Spark
    * loop computes. */
  private def mmrOracle(k: Int, nCand: Int): String = {
    def simMicro(a: String, b: String): String =
      s"CAST(round((list_sum(list_transform(range(1, len($a.e)+1), " +
        s"i -> $a.e[i]*$b.e[i])) / ($a.nrm * $b.nrm)) * 1000000) AS BIGINT)"
    val sb = new StringBuilder(vectorCte)
    sb ++= ",q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id = 0)"
    sb ++= s",rel AS (SELECT c.vec_id, c.e, c.nrm, " +
      s"${simMicro("c", "q")} AS rel_micro " +
      "FROM v c CROSS JOIN q WHERE c.vec_id <> 0)"
    sb ++= s",cand AS (SELECT vec_id, e, nrm, rel_micro FROM rel " +
      s"ORDER BY rel_micro DESC, vec_id LIMIT $nCand)"
    sb ++= ",c1 AS (SELECT vec_id, e, nrm, rel_micro FROM cand " +
      "ORDER BY rel_micro DESC, vec_id LIMIT 1)"
    for (i <- 2 to k) {
      val prev = if (i == 2) "cand" else s"m${i - 1}"
      val maxExpr =
        if (i == 2) simMicro("m", "s")
        else s"greatest(m.maxs, ${simMicro("m", "s")})"
      sb ++= s",m$i AS (SELECT m.vec_id, m.e, m.nrm, m.rel_micro, " +
        s"$maxExpr AS maxs FROM $prev m CROSS JOIN c${i - 1} s " +
        "WHERE m.vec_id <> s.vec_id)"
      sb ++= s",c$i AS (SELECT vec_id, e, nrm, rel_micro, maxs FROM m$i " +
        "ORDER BY (7 * rel_micro - 3 * maxs) DESC, vec_id LIMIT 1)"
    }
    sb ++= " SELECT 1 AS rnk, vec_id, rel_micro, " +
      "7 * rel_micro AS mmr_tenth_micro FROM c1"
    for (i <- 2 to k)
      sb ++= s" UNION ALL SELECT $i, vec_id, rel_micro, " +
        s"7 * rel_micro - 3 * maxs FROM c$i"
    sb ++= " ORDER BY rnk"
    sb.toString
  }

  private val vectorCte =
    """WITH v AS (
      | SELECT vec_id, embedding::DOUBLE[] AS e,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      | FROM embeddings)
      |""".stripMargin

  /** top_component oracle: the identical milli-gram + max-rescaled
    * power recurrence unrolled as MATERIALIZED CTEs (plain CTE
    * inlining would replay the gram per reference — the k-core
    * lesson). */
  private def topComponentOracle(iters: Int, dim: Int): String =
    s"""WITH ${topComponentCtes(iters, dim)}
       |SELECT j AS dim, v AS v_unit FROM v$iters ORDER BY dim""".stripMargin

  /** The orthogonalized-power v₂ CTE chain on top of
    * [[topComponentCtes]] — seed at argmax G_jj·(10⁸ − v₁_j²) (the
    * diagonal-mass-times-misalignment pick: a high-variance axis the
    * first direction poorly covers, matching topComponents2's seed —
    * argmin |v₁_j| would pick DEAD axes), per step: HUGEINT G·v, 10⁴
    * rescale, exact Gram-Schmidt vs v$iters, 10⁴ rescale. Emits
    * b2_$iters(j, v) — the second direction. */
  private def topComponents2Ctes(iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""${topComponentCtes(iters, dim)},
      |s2 AS (
      | SELECT j AS s2j FROM (
      |  SELECT d.j,
      |   CAST(d.m AS DOUBLE) * (100000000.0 - CAST(p.v * p.v AS DOUBLE))
      |    AS score
      |  FROM (SELECT i AS j, m FROM g WHERE i = j) d
      |   JOIN v$iters p USING (j))
      | ORDER BY score DESC, j LIMIT 1),
      |vv1s AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv1 FROM v$iters),
      |u2_0 AS (
      | SELECT jj AS j, CASE WHEN jj = (SELECT s2j FROM s2)
      |  THEN 10000 ELSE 0 END AS u
      | FROM (SELECT unnest(range(0, $dim)) AS jj))""".stripMargin
    for (t <- 0 to iters) {
      if (t > 0) sb ++= s""",
        |w2_$t AS MATERIALIZED (
        | SELECT g.i, sum(CAST(g.m AS HUGEINT) * vp.v) AS w
        | FROM g JOIN b2_${t - 1} vp ON g.j = vp.j GROUP BY 1),
        |wm2_$t AS (SELECT max(abs(w)) AS mw FROM w2_$t),
        |u2_$t AS (
        | SELECT i AS j, CAST(round(CAST(w AS DOUBLE) / CAST(mw AS DOUBLE)
        |   * 10000.0) AS BIGINT) AS u
        | FROM w2_$t, wm2_$t)""".stripMargin
      sb ++= s""",
        |d2_$t AS (
        | SELECT CAST(sum(u.u * p.v) AS BIGINT) AS uv
        | FROM u2_$t u JOIN v$iters p USING (j)),
        |o2_$t AS MATERIALIZED (
        | SELECT u.j,
        |  u.u * (SELECT vv1 FROM vv1s) - (SELECT uv FROM d2_$t) * p.v AS o
        | FROM u2_$t u JOIN v$iters p USING (j)),
        |m2_$t AS (SELECT max(abs(o)) AS mo FROM o2_$t),
        |b2_$t AS MATERIALIZED (
        | SELECT j, CAST(round(CAST(o AS DOUBLE) / CAST(mo AS DOUBLE)
        |   * 10000.0) AS BIGINT) AS v
        | FROM o2_$t, m2_$t)""".stripMargin
    }
    sb.toString
  }

  private def topComponents2Oracle(iters: Int, dim: Int): String =
    s"""WITH ${topComponents2Ctes(iters, dim)}
       |SELECT CAST(1 AS BIGINT) AS component, j AS dim, v AS v_unit
       |FROM v$iters
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), j, v FROM b2_$iters
       |ORDER BY component, dim""".stripMargin

  private def embedAllButTop2Oracle(iters: Int, dim: Int): String =
    s"""WITH ${topComponents2Ctes(iters, dim)},
       |varr AS MATERIALIZED (
       | SELECT list(v ORDER BY j) AS va,
       |  CAST(list_sum(list_transform(list(v ORDER BY j), y -> y * y))
       |   AS BIGINT) AS vv
       | FROM v$iters),
       |warr AS MATERIALIZED (
       | SELECT list(v ORDER BY j) AS wa,
       |  CAST(list_sum(list_transform(list(v ORDER BY j), y -> y * y))
       |   AS BIGINT) AS ww
       | FROM b2_$iters),
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
       |r1v AS MATERIALIZED (
       | SELECT vec_id, qq, xv, vv,
       |  list_transform(num, n -> CAST(CASE WHEN nrm = 0 THEN 0
       |   ELSE round(CAST(n AS DOUBLE) / nrm * 1000000.0)
       |   END AS BIGINT)) AS r1
       | FROM (
       |  SELECT vec_id, qq, xv, vv, num,
       |   sqrt(list_sum(list_transform(num,
       |     n -> CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) AS nrm
       |  FROM (
       |   SELECT vec_id, qq, xv, vv,
       |    list_transform(range(1, len(q) + 1),
       |      i -> q[i] * vv - xv * va[i]) AS num
       |   FROM pj))),
       |p2 AS (
       | SELECT r.vec_id, r.qq, r.xv, r.vv, r.r1, w.wa, w.ww,
       |  CAST(list_sum(list_transform(r.r1, y -> y * y)) AS BIGINT) AS rr,
       |  CAST(list_sum(list_transform(range(1, len(r.r1) + 1),
       |    i -> r.r1[i] * w.wa[i])) AS BIGINT) AS xw
       | FROM r1v r CROSS JOIN warr w),
       |f2 AS (
       | SELECT vec_id, qq, xv, vv, rr, xw, ww, num2,
       |  sqrt(list_sum(list_transform(num2,
       |    n -> CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) AS nrm2
       | FROM (
       |  SELECT *, list_transform(range(1, len(r1) + 1),
       |    i -> r1[i] * ww - xw * wa[i]) AS num2
       |  FROM p2))
       |SELECT vec_id,
       | CASE WHEN qq = 0 THEN NULL
       |  ELSE CAST(round(CAST(xv AS DOUBLE)
       |   / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(vv AS DOUBLE)))
       |   * 1000000.0) AS BIGINT) END AS cos_top_micro,
       | CASE WHEN rr = 0 THEN NULL
       |  ELSE CAST(round(CAST(xw AS DOUBLE)
       |   / (sqrt(CAST(rr AS DOUBLE)) * sqrt(CAST(ww AS DOUBLE)))
       |   * 1000000.0) AS BIGINT) END AS cos_top2_micro,
       | array_to_string(list_transform(num2, n ->
       |  CAST(CASE WHEN nrm2 = 0 THEN 0
       |   ELSE round(CAST(n AS DOUBLE) / nrm2 * 1000000.0)
       |   END AS BIGINT)), ',') AS e_csv
       |FROM f2 ORDER BY vec_id""".stripMargin

  private def embedAllButTopOracle(iters: Int, dim: Int): String =
    s"""WITH ${allButTopCtes(iters, dim)}
       |SELECT vec_id,
       | CASE WHEN qq = 0 THEN NULL
       |  ELSE CAST(round(CAST(xv AS DOUBLE)
       |   / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(vv AS DOUBLE)))
       |   * 1000000.0) AS BIGINT) END AS cos_top_micro,
       | CASE WHEN qq = 0 THEN NULL
       |  ELSE CAST(round(nrm
       |   / (CAST(vv AS DOUBLE) * sqrt(CAST(qq AS DOUBLE)))
       |   * 1000000.0) AS BIGINT) END AS res_norm_micro,
       | array_to_string(list_transform(num, n ->
       |  CAST(CASE WHEN nrm = 0 THEN 0
       |   ELSE round(CAST(n AS DOUBLE) / nrm * 1000000.0)
       |   END AS BIGINT)), ',') AS e_csv
       |FROM abt ORDER BY vec_id""".stripMargin

  /** Full oracle for the banded decontam path: planes as SQL literals,
    * band/bucket assignment, DISTINCT collision pairs, exact verify —
    * the same pipeline the Spark plan runs, so the banding itself is
    * checked bit-for-bit (sign of a sequential-fold dot product is
    * engine-stable; see TextFunctions.dot). */
  private def embedDecontamLshOracle(tau: Double, numBands: Int,
                                     planesPerBand: Int): String = {
    val planes = planeMatrix(numBands * planesPerBand, 64)
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}])"
    }.mkString(",\n   ")
    s"""WITH planes(pi, pvec) AS (VALUES
       |   $planeRows),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |dots AS (
       | SELECT v.vec_id, p.pi,
       |  list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * p.pvec[i])) AS d
       | FROM v, planes p),
       |buckets AS (
       | SELECT vec_id, CAST(pi // $planesPerBand AS INTEGER) AS band,
       |  CAST(sum(CASE WHEN d > 0 THEN (1 << (pi % $planesPerBand)) ELSE 0 END)
       |   AS INTEGER) AS bucket
       | FROM dots GROUP BY 1, 2),
       |cand AS (
       | SELECT DISTINCT c.vec_id, b.vec_id AS bench_id
       | FROM buckets c JOIN buckets b ON c.band = b.band AND c.bucket = b.bucket
       | WHERE c.vec_id % 50 <> 0 AND b.vec_id % 50 = 0),
       |scored AS (
       | SELECT c.vec_id, c.bench_id,
       |  list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i] * b.e[i]))
       |   / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
       |      * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
       | FROM cand c JOIN v a ON c.vec_id = a.vec_id
       |  JOIN v b ON c.bench_id = b.vec_id)
       |SELECT vec_id, round(max(cos), 6) AS max_cos,
       |  CAST(count(DISTINCT CASE WHEN cos >= $tau THEN bench_id END) AS BIGINT)
       |    AS n_hits,
       |  count(DISTINCT CASE WHEN cos >= $tau THEN bench_id END) > 0
       |    AS contaminated
       |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** The query's shipped banding — derived, not hand-picked, so the
    * oracle and the Spark plan can never drift from the recall SLA. */
  private val decontamLshBanding: (Int, Int) = bandingFor(tau = 0.40)

  /** Full oracle for the SRP projection: the sign matrix is
    * deterministic driver-side data embedded as SQL literals, and the
    * quantize → project → fold pipeline is replicated end to end in
    * exact integer arithmetic. */
  private def embedProjectSrpOracle(outDim: Int): String = {
    val signRows = srpSigns(outDim, 64).zipWithIndex.map { case (row, j) =>
      s"($j, [${row.mkString(", ")}])"
    }.mkString(",\n   ")
    s"""WITH signs(j, s) AS (VALUES
       |   $signRows),
       |q AS (
       | SELECT vec_id,
       |  list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
       |    ELSE CAST(sign(x) * floor(abs(x) * 127.0 / maxabs + 0.5)
       |              AS INTEGER) END) AS q
       | FROM (
       |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))),
       |proj AS (
       | SELECT q.vec_id, s.j,
       |  CAST(list_sum(list_transform(range(1, 65), i -> s.s[i] * q.q[i]))
       |       AS BIGINT) AS p
       | FROM q CROSS JOIN signs s)
       |SELECT vec_id,
       | string_agg(CAST(p AS VARCHAR), ',' ORDER BY j) AS proj_csv,
       | CAST(sum(p * p) AS BIGINT) AS norm2
       |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "embed_project_srp" -> embedProjectSrpOracle(outDim = 16),
    "embed_decontam_lsh" -> embedDecontamLshOracle(tau = 0.40,
      numBands = decontamLshBanding._1,
      planesPerBand = decontamLshBanding._2),
    "embed_quantize_int8" ->
      """SELECT vec_id, round(maxabs, 6) AS maxabs_r,
        | CAST(list_sum(q) AS BIGINT) AS q_sum,
        | array_to_string(q, ',') AS q_csv
        |FROM (
        | SELECT vec_id, maxabs,
        |  list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
        |    ELSE CAST(sign(x) * floor(abs(x) * 127.0 / maxabs + 0.5)
        |              AS INTEGER) END) AS q
        | FROM (
        |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)))
        |ORDER BY vec_id""".stripMargin,
    // the truncate-and-renorm transform at d=16: same fold order for
    // the prefix norm, each unit component rounded once to micro
    "embed_matryoshka_truncate" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |t AS (
        | SELECT vec_id, e[1:16] AS t,
        |  sqrt(list_sum(list_transform(e[1:16], x -> x*x))) AS nrm
        | FROM v)
        |SELECT vec_id, CAST(16 AS BIGINT) AS dims,
        | CAST(round(nrm * 1000000.0) AS BIGINT) AS norm_micro,
        | array_to_string(list_transform(t, x ->
        |   CASE WHEN nrm = 0 THEN 0
        |        ELSE CAST(round(x / nrm * 1000000.0) AS BIGINT) END),
        |  ',') AS t_csv
        |FROM t ORDER BY vec_id""".stripMargin,
    "top_component" -> topComponentOracle(iters = 6, dim = 64),
    "embed_all_but_top" -> embedAllButTopOracle(iters = 6, dim = 64),
    "top_components2" -> topComponents2Oracle(iters = 6, dim = 64),
    "embed_all_but_top2" -> embedAllButTop2Oracle(iters = 6, dim = 64),
    "embed_exact_dups" ->
      """WITH h AS (
        | SELECT vec_id,
        |  md5(array_to_string(list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 1000000.0) AS BIGINT)), ',')) AS hh
        | FROM embeddings)
        |SELECT vec_id, min(vec_id) OVER (PARTITION BY hh) AS keep_id,
        |  vec_id <> min(vec_id) OVER (PARTITION BY hh) AS is_dup
        |FROM h ORDER BY vec_id""".stripMargin,
    "embed_norm_qc" ->
      """WITH v AS (
        | SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
        |r AS (
        | SELECT label,
        |  len(list_filter(e, x -> isnan(x) OR isinf(x))) > 0 AS bad,
        |  CASE WHEN len(list_filter(e, x -> isnan(x) OR isinf(x))) > 0
        |   THEN NULL
        |   ELSE CAST(round(sqrt(list_sum(list_transform(e, x -> x * x)))
        |     * 1000000.0) AS BIGINT) END AS norm_micro
        | FROM v)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  min(CASE WHEN NOT bad THEN norm_micro END) AS min_norm_micro,
        |  max(CASE WHEN NOT bad THEN norm_micro END) AS max_norm_micro,
        |  CAST(sum(CASE WHEN norm_micro = 0 AND NOT bad THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite
        |FROM r GROUP BY label ORDER BY label""".stripMargin,
    "embed_decontam" -> (vectorCte +
      """, b AS (SELECT vec_id AS bench_id, e AS eb, nrm AS nrmb
        |        FROM v WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id, e, nrm FROM v WHERE vec_id % 50 <> 0),
        |pairs AS (
        | SELECT c.vec_id,
        |  list_sum(list_transform(range(1, len(c.e)+1), i -> c.e[i]*b.eb[i]))
        |    / (c.nrm * b.nrmb) AS cos
        | FROM c, b WHERE c.vec_id <> b.bench_id)
        |SELECT vec_id, round(max(cos), 6) AS max_cos,
        |  CAST(sum(CASE WHEN cos >= 0.40 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  sum(CASE WHEN cos >= 0.40 THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM pairs GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    "embed_cosine_neardup" -> (vectorCte +
      """SELECT vec_a, vec_b, round(cos, 6) AS cos FROM (
        | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i]))
        |    / (a.nrm * b.nrm) AS cos
        | FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.40 ORDER BY vec_a, vec_b""".stripMargin),
    "embed_clusters" -> ("WITH RECURSIVE " + vectorCte.stripPrefix("WITH ") +
      """,pairs AS (
        | SELECT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |   list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i]))
        |     / (a.nrm * b.nrm) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        | WHERE cos >= 0.40),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(x, l) AS (
        |  SELECT vec_id, vec_id FROM v
        |  UNION
        |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.x),
        |comp AS (SELECT x AS vec_id, min(l) AS rep_id FROM reach GROUP BY x),
        |sz AS (SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT c.vec_id, c.rep_id,
        |  CAST(sz.cluster_size AS BIGINT) AS cluster_size,
        |  c.vec_id = c.rep_id AS is_canonical
        |FROM comp c JOIN sz USING (rep_id)
        |ORDER BY vec_id""".stripMargin),
    // clustering base identical to embed_clusters; majority label by
    // (n DESC, label) rank, purity in exact integer basis points
    "cluster_purity" -> ("WITH RECURSIVE " + vectorCte.stripPrefix("WITH ") +
      """,pairs AS (
        | SELECT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |   list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i]))
        |     / (a.nrm * b.nrm) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        | WHERE cos >= 0.40),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(x, l) AS (
        |  SELECT vec_id, vec_id FROM v
        |  UNION
        |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.x),
        |comp AS (SELECT x AS vec_id, min(l) AS rep_id FROM reach GROUP BY x),
        |cnt AS (
        |  SELECT c.rep_id, b.label, CAST(count(*) AS BIGINT) AS n
        |  FROM comp c JOIN embeddings b ON c.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |arg AS (
        |  SELECT rep_id, label AS majority_label, n AS majority_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY rep_id
        |      ORDER BY n DESC, label) AS rn FROM cnt) WHERE rn = 1),
        |tot AS (SELECT rep_id, CAST(sum(n) AS BIGINT) AS cluster_size
        |        FROM cnt GROUP BY 1)
        |SELECT t.rep_id, t.cluster_size, a.majority_label, a.majority_n,
        |  a.majority_n * 10000 // t.cluster_size AS purity_bp
        |FROM tot t JOIN arg a USING (rep_id)
        |ORDER BY rep_id""".stripMargin),
    // the whole SemDeDup path — assignment (ties: rounded ccos desc,
    // cid asc), intra-cell pairs, components, farthest-from-centroid
    // keep-rule — replicated; reach starts from every vector so
    // singletons carry cluster_size 1
    "semdedup" -> ("WITH RECURSIVE " + vectorCte.stripPrefix("WITH ") +
      """,cents AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
        |           FROM v WHERE vec_id < 16),
        |ac AS (
        | SELECT v.vec_id, c.cid,
        |  round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
        |    / (v.nrm * c.cnrm), 6) AS ccos
        | FROM v CROSS JOIN cents c),
        |assigned AS (
        | SELECT vec_id, cid AS cell, ccos AS cos_centroid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY ccos DESC, cid) AS rn
        |  FROM ac) WHERE rn = 1),
        |pairs AS (
        | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        | FROM assigned a JOIN assigned b
        |  ON a.cell = b.cell AND a.vec_id < b.vec_id
        | JOIN v va ON va.vec_id = a.vec_id
        | JOIN v vb ON vb.vec_id = b.vec_id
        | WHERE round(list_sum(list_transform(range(1, len(va.e)+1),
        |         i -> va.e[i]*vb.e[i])) / (va.nrm * vb.nrm), 6) >= 0.40),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(x, l) AS (
        |  SELECT vec_id, vec_id FROM v
        |  UNION
        |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.x),
        |comp AS (SELECT x AS vec_id, min(l) AS rep_id FROM reach GROUP BY x),
        |sz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM comp GROUP BY 1),
        |keepers AS (
        | SELECT rep_id, vec_id AS keeper FROM (
        |  SELECT c.rep_id, c.vec_id,
        |   row_number() OVER (PARTITION BY c.rep_id
        |                      ORDER BY a.cos_centroid ASC, c.vec_id) AS rn
        |  FROM comp c JOIN assigned a USING (vec_id)) WHERE rn = 1)
        |SELECT a.vec_id, a.cell, a.cos_centroid, c.rep_id, sz.cluster_size,
        | a.vec_id = k.keeper AS keep
        |FROM assigned a JOIN comp c USING (vec_id) JOIN sz USING (rep_id)
        |JOIN keepers k USING (rep_id)
        |ORDER BY vec_id""".stripMargin),
    "kcenter_coreset" -> kcenterOracle(k = 8),
    "mmr_diversify" -> mmrOracle(k = 8, nCand = 64),
  )
}
