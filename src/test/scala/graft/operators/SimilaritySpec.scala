package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  test("cosineNearDupPairs: parallel vectors hit 1.0, orthogonal excluded") {
    val pairs = Similarity.cosineNearDupPairs(emb(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(2f, 0f, 0f), // parallel to 1
      3L -> Seq(0f, 1f, 0f)  // orthogonal
    ), tau = 0.9).as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 1.0)))
  }

  test("block-tiled near-dup == naive all-pairs: every pair met exactly once") {
    import org.apache.spark.sql.functions._
    import graft.functions.CosineSimilarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val naive = {
      val v = Similarity.vectors(e)
      val a = v.toDF("vec_a", "ea")
      val b = v.toDF("vec_b", "eb")
      a.join(b, a("vec_a") < b("vec_b"))
        .withColumn("cos", CosineSimilarity(col("ea"), col("eb")))
        .filter(col("cos") >= 0.40)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
        .as[(Long, Long, Double)].collect().toSeq
    }
    assert(naive.nonEmpty, "precondition: corpus has qualifying pairs")
    // a block count that divides 500 unevenly, incl. the 1-block edge
    for (g <- Seq(1, 3, 16)) {
      val tiled = Similarity.cosineNearDupPairs(e, tau = 0.40, numBlocks = g)
        .as[(Long, Long, Double)].collect().toSeq
      // multiset compare: a pair emitted from TWO block keys would dup
      assert(tiled.sorted === naive.sorted, s"numBlocks=$g")
    }
  }

  test("annCosineTopK ranks by cosine with deterministic ties") {
    val out = Similarity.annCosineTopK(emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(1f, 0.1f),
      2L -> Seq(1f, 1f),
      3L -> Seq(0f, 1f)
    ), numQueries = 1, k = 3)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
    assert(out === Set((1L, 1), (2L, 2), (3L, 3)))
  }

  test("annLshTopK recall@k vs brute force: high at Hamming-1, monotone in probes") {
    import scala.util.Random
    val rnd = new Random(427)
    val dim = 16
    val n = 200
    val numQ = 8
    val k = 5
    // zero-mean random vectors — the hardest (unclustered) case
    val vecs = (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val e = emb(vecs: _*)

    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val exact = topk(Similarity.annCosineTopK(e, numQ, k))
    def recallAt(probe: Int): Double = {
      val lsh = topk(Similarity.annLshTopK(e, numQ, k,
        numPlanes = 4, probeHamming = probe, dim = dim))
      exact.map { case (q, t) =>
        lsh.getOrElse(q, Set.empty).intersect(t).size.toDouble / k
      }.sum / exact.size
    }

    val r = (0 to 4).map(recallAt)
    // candidate sets grow with the probe radius, so recall is monotone
    assert(r.zip(r.tail).forall { case (lo, hi) => lo <= hi }, s"recall=$r")
    // at probeHamming = numPlanes every bucket is probed == brute force
    assert(r.last === 1.0, s"full probe must equal brute force, recall=$r")
    // the documented operating point (seeded, deterministic)
    assert(r(1) >= 0.7, s"Hamming-1 recall too low: $r")
  }

  test("annIvfTopK: probing every cell equals brute force; recall monotone in nProbe") {
    import scala.util.Random
    val rnd = new Random(428)
    val vecs = (0 until 150).map(i =>
      (i.toLong, Seq.fill(12)((rnd.nextDouble() * 2 - 1).toFloat)))
    val e = emb(vecs: _*)
    val numQ = 6
    val k = 4

    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.select("query_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap

    val exact = topk(Similarity.annCosineTopK(e, numQ, k))
    // nProbe == numCentroids probes the whole corpus: EXACTLY brute force
    val full = topk(Similarity.annIvfTopK(e, numQ, k,
      numCentroids = 8, nProbe = 8))
    assert(full === exact)

    val recalls = (1 to 8).map { p =>
      val ivf = topk(Similarity.annIvfTopK(e, numQ, k, numCentroids = 8, nProbe = p))
      exact.map { case (q, t) =>
        ivf.getOrElse(q, Seq.empty).map(_._1).toSet
          .intersect(t.map(_._1).toSet).size.toDouble / k
      }.sum / exact.size
    }
    assert(recalls.zip(recalls.tail).forall { case (lo, hi) => lo <= hi },
      s"recall must be monotone in nProbe: $recalls")
    assert(recalls.last === 1.0)
  }

  test("trainIvfCentroids: trained quantizer beats the untrained default on clustered data") {
    // Four well-separated clusters (centers = distinct basis directions,
    // small deterministic md5 noise), stored CLUSTER-CONTIGUOUS: the
    // untrained default takes the first C vectors as centroids, so all
    // of them come from cluster 0 — exactly the sorted-corpus degeneracy
    // trainIvfCentroids' spread init + Lloyd iterations must escape.
    val dim = 16
    val perCluster = 50
    val clusters = 4
    val md = java.security.MessageDigest.getInstance("MD5")
    def noise(s: String): Double = {
      val b = md.digest(s.getBytes("UTF-8"))(0)
      (b & 0xff) / 255.0 * 0.1 - 0.05
    }
    val vecs = for (c <- 0 until clusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      id -> Seq.tabulate(dim)(d =>
        (noise(s"p#$id#$d") + (if (d == c * 4) 1.0 else 0.0)).toFloat)
    }
    val e = emb(vecs: _*)
    val numQ = 8
    val k = 5

    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double =
      want.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / k
      }.sum / want.size

    val exact = topk(Similarity.annCosineTopK(e, numQ, k))
    val untrained = recall(
      topk(Similarity.annIvfTopK(e, numQ, k, numCentroids = clusters, nProbe = 1)),
      exact)
    val cents = Similarity.trainIvfCentroids(e, numCentroids = clusters,
      iters = 5, dim = dim)
    val trained = recall(
      topk(Similarity.annIvfTopKWith(e, cents, numQ, k, nProbe = 1)),
      exact)

    // trained centroids ≈ cluster means: one probe covers the query's
    // whole cluster; untrained first-C cells shatter cluster 0 and
    // scatter clusters 1-3 arbitrarily
    assert(trained >= 0.9, s"trained recall too low: $trained (untrained $untrained)")
    assert(trained > untrained,
      s"training must improve recall on clustered data: trained=$trained untrained=$untrained")
  }

  test("annLshTopK returns only true near neighbors for clustered data") {
    // two tight clusters; query 0 must retrieve its own cluster-mates
    val vecs = (0L to 3L).map(i => i -> Seq(1f, 0.01f * i, 0f)) ++
      (4L to 7L).map(i => i -> Seq(-1f, 0f, 0.01f * i))
    // dim must match the vectors: HyperplaneBucket nulls (excludes)
    // mismatched rows rather than silently dotting a plane prefix
    val out = Similarity.annLshTopK(emb(vecs: _*), numQueries = 1, k = 3,
      numPlanes = 4, dim = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out.nonEmpty && out.subsetOf(Set(1L, 2L, 3L)))
  }

  test("annRerankTopK: full shortlist equals the exact brute-force baseline; m=k degrades to int8 ids") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count().toInt

    // m = corpus size → nothing can fall off the shortlist → the fp32
    // rerank IS the exact baseline, bit for bit
    val full = Similarity.annRerankTopK(e, numQueries = 4, m = n, k = 5)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = Similarity.annCosineTopK(e, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full === exact)

    // m = k → the NEIGHBOR SET is the int8 stage's verbatim (rerank
    // can reorder within it but admit nothing new); scores are fp32
    val narrow = Similarity.annRerankTopK(e, numQueries = 4, m = 5, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val int8 = Similarity.annInt8TopK(e, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(narrow === int8)
  }

  test("annIvfRerankTopK boundary contracts: degrades exactly to each of its three parts") {
    import scala.util.Random
    val rnd = new Random(1107)
    val n = 150
    val e = emb((0 until n).map(i =>
      (i.toLong, Seq.fill(12)((rnd.nextDouble() * 2 - 1).toFloat))): _*)
    val numQ = 5
    val k = 4

    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select("query_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet

    // probe every cell + full shortlist → nothing is approximated
    // anywhere: EQUALS the exact brute-force baseline bit for bit
    val full = Similarity.annIvfRerankTopK(e, numQ, m = n, k = k,
      numCentroids = 8, nProbe = 8)
    assert(rows(full) === rows(Similarity.annCosineTopK(e, numQ, k)))

    // partial probing + full shortlist → the int8 stage passes every
    // IVF candidate through to the fp32 rerank: EQUALS annIvfTopK at
    // the same nProbe (the quantized ordering becomes irrelevant)
    val probed = Similarity.annIvfRerankTopK(e, numQ, m = n, k = k,
      numCentroids = 8, nProbe = 2)
    assert(rows(probed) === rows(Similarity.annIvfTopK(e, numQ, k,
      numCentroids = 8, nProbe = 2)))

    // full probing + m = k → the NEIGHBOR SET is the int8 stage's
    // verbatim (rerank reorders inside it but admits nothing new)
    val narrow = Similarity.annIvfRerankTopK(e, numQ, m = k, k = k,
      numCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val int8 = Similarity.annInt8TopK(e, numQ, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(narrow === int8)
  }

  test("quantizeInt8: half-away-from-zero rounding, symmetric range, zero-vector convention") {
    val out = Similarity.quantizeInt8(emb(
      1L -> Seq(1f, -0.5f, 0.25f, 0f),
      2L -> Seq(0f, 0f, 0f, 0f),       // all-zero: scale 0, q all 0
      3L -> Seq(-2f, 1f, 0f, 0f)))     // negative max|x|: q hits -127
      .select("vec_id", "maxabs_r", "q_sum", "q_csv")
      .as[(Long, Double, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // |x|*127/max + 0.5 floored, sign reapplied: -0.5 → -64 (not -63)
    assert(out(1L) === ((1.0, 127L - 64L + 32L, "127,-64,32,0")))
    assert(out(2L) === ((0.0, 0L, "0,0,0,0")))
    assert(out(3L) === ((2.0, -127L + 64L, "-127,64,0,0")))
  }

  test("quantizeInt8: dequantized values stay within half a step of the input") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.quantizeInt8(e)
      .join(Similarity.vectors(e), "vec_id")
      .select("vec_id", "maxabs_r", "q_csv", "e")
      .as[(Long, Double, String, Seq[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, csv, e0) =>
      val q = csv.split(",").map(_.toInt)
      assert(q.length === e0.length)
      assert(q.forall(v => v >= -127 && v <= 127))
      val maxabs = if (e0.isEmpty) 0.0 else e0.map(math.abs).max
      if (maxabs > 0) {
        val step = maxabs / 127.0
        q.zip(e0).foreach { case (qi, x) =>
          assert(math.abs(qi * step - x) <= step / 2 + 1e-9,
            s"dequant error ${math.abs(qi * step - x)} > ${step / 2}")
        }
      }
    }
  }

  test("bandsFor/bandingFor: minimal bands solving the banding curve, budget respected") {
    val tau = 0.40
    val p = 1.0 - math.acos(tau) / math.Pi
    def curve(bands: Int, bits: Int): Double =
      1.0 - math.pow(1.0 - math.pow(p, bits), bands)
    // bandsFor is the MINIMAL band count reaching the target
    for (bits <- 1 to 6; target <- Seq(0.9, 0.95, 0.99)) {
      val b = Similarity.bandsFor(tau, target, bits)
      assert(curve(b, bits) >= target, s"bits=$bits target=$target bands=$b")
      if (b > 1)
        assert(curve(b - 1, bits) < target,
          s"bands not minimal: bits=$bits target=$target bands=$b")
    }
    // bandingFor meets the curve inside the plane budget and picks the
    // cheapest candidate-cost config among those that fit
    val (bands, bits) = Similarity.bandingFor(tau)
    assert(curve(bands, bits) >= 0.95)
    assert(bands * bits <= 96)
    // monotonicity: stricter target or lower tau can only need more bands
    assert(Similarity.bandsFor(tau, 0.99, 4) >= Similarity.bandsFor(tau, 0.95, 4))
    assert(Similarity.bandsFor(0.8, 0.95, 4) <= Similarity.bandsFor(0.4, 0.95, 4))
  }

  test("embedDecontaminate: flags match a driver-side brute force") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.40
    val got = Similarity.embedDecontaminate(emb,
        v => pmod(v("vec_id"), lit(50)) === 0, tau)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val bench = vecs.filter(_._1 % 50 == 0)
    val want = vecs.filter(_._1 % 50 != 0).map { case (id, e) =>
      id -> {
        val hits = bench.values.count(b => cos(e, b) >= tau).toLong
        (hits, hits > 0)
      }
    }
    assert(got.keySet === want.keySet)  // every corpus vector audited
    assert(got === want)
    assert(got.values.exists(_._2) && got.values.exists(!_._2),
      "fixture should contain both contaminated and clean vectors")
  }

  test("embedDecontaminateLsh: a sound, useful subset of the exact pass") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // sf0.1, not sf0.001: the recall SLA below needs a contaminated set
    // big enough that one unlucky pair can't swing the ratio (sf0.001
    // has exactly 2 contaminated docs; sf0.1 has dozens)
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val tau = 0.40
    def bench(v: org.apache.spark.sql.DataFrame) =
      pmod(v("vec_id"), lit(50)) === 0
    val exact = Similarity.embedDecontaminate(emb, bench, tau)
      .filter(col("contaminated")).select("vec_id")
      .as[Long].collect().toSet
    val lsh = Similarity.embedDecontaminateLsh(emb, bench, tau)
    val flagged = lsh.filter(col("contaminated")).select("vec_id")
      .as[Long].collect().toSet
    // Soundness: exact verify inside buckets — the LSH pass can MISS a
    // contaminated doc (banding recall < 1) but never invent one.
    assert(flagged.subsetOf(exact),
      s"LSH flagged non-contaminated docs: ${(flagged -- exact).take(5)}")
    // Recall SLA: the DEFAULT knobs derive from (tau, target 0.95) via
    // bandingFor, so the shipped operating point must actually deliver
    // >= 0.95 recall of the exact pass on this corpus — the r8 shipped
    // 6x4 knobs gave 0.67 here, exactly the failure mode bandingFor
    // exists to prevent. Deterministic planes => a pinned number, not
    // a flaky sample.
    assert(exact.nonEmpty, "precondition: corpus has contaminated docs")
    val recall = flagged.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"derived banding recall $recall < 0.95 (${flagged.size}/${exact.size})")
    // Guaranteed-recall case: a corpus vector PARALLEL to a benchmark
    // vector has identical hyperplane signs, so it collides in EVERY
    // band — banding can never miss it, deterministically.
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val synth = Seq(
      0L  -> base.toSeq,                       // bench (0 % 50 == 0)
      51L -> base.map(_ * 2f).toSeq,           // parallel dup -> must flag
      52L -> Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat).toSeq
    ).toDF("vec_id", "embedding")
    val sFlagged = Similarity.embedDecontaminateLsh(synth, bench, tau)
      .filter(col("contaminated")).select("vec_id").as[Long].collect().toSet
    assert(sFlagged.contains(51L), "parallel duplicate must be flagged")
    // max_cos on audited rows is a true cosine (within rounding), and
    // n_hits counts DISTINCT benchmark ids (duplicate band collisions
    // collapse): every audited row's n_hits is bounded by the bench size.
    val nBench = emb.filter(pmod(col("vec_id"), lit(50)) === 0).count()
    val maxHits = lsh.agg(org.apache.spark.sql.functions.max("n_hits"))
      .as[Long].collect().head
    assert(maxHits <= nBench)
  }

  test("embedProjectSrp: exact integer contract (width, norm2, zero vector)") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val rows = Similarity.embedProjectSrp(e)
      .as[(Long, String, Long)].collect()
    assert(rows.length === 50)
    rows.foreach { case (id, csv, norm2) =>
      val p = csv.split(",").map(_.toLong)
      assert(p.length === 16, s"vec $id projected to ${p.length} dims")
      assert(p.forall(x => math.abs(x) <= 64L * 127L))
      assert(norm2 === p.map(x => x * x).sum, s"vec $id norm2 mismatch")
    }
    // all-zero vector quantizes to zeros and projects to zeros
    val z = Seq((99L, Seq.fill(64)(0f))).toDF("vec_id", "embedding")
    val zr = Similarity.embedProjectSrp(z).as[(Long, String, Long)].collect()
    assert(zr.head._2.split(",").forall(_ == "0") && zr.head._3 === 0L)
  }

  test("embedProjectSrp rejects wrong-width vectors loudly") {
    val bad = Seq((1L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.embedProjectSrp(bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("embedProjectSrp approximately preserves cosine (JL property)") {
    import org.apache.spark.sql.functions._
    import graft.functions.CosineSimilarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40)
    // true pairwise cosine
    val v = Similarity.vectors(e)
    val tru = v.toDF("a", "ea").join(v.toDF("b", "eb"), col("a") < col("b"))
      .select(col("a"), col("b"),
        CosineSimilarity(col("ea"), col("eb")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // projected-space cosine estimate
    val proj = Similarity.embedProjectSrp(e)
      .as[(Long, String, Long)].collect()
      .map { case (id, csv, n2) => id -> ((csv.split(",").map(_.toLong), n2)) }
      .toMap
    val errs = tru.toSeq.map { case ((a, b), c) =>
      val (pa, na) = proj(a); val (pb, nb) = proj(b)
      val est = pa.zip(pb).map { case (x, y) => x * y }.sum.toDouble /
        math.sqrt(na.toDouble * nb.toDouble)
      math.abs(est - c)
    }
    val meanErr = errs.sum / errs.length
    assert(meanErr < 0.25,
      f"mean |cos_est - cos| = $meanErr%.3f too high for outDim=16")
  }

  test("annIvfTopKFromIndex: degrades to the full int8 scan; ids match the rerank stack; survives the parquet layout") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val v = Similarity.vectors(e)
    val C = 16
    val cents = v.filter(col("vec_id") < C)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val queries = v.filter(col("vec_id") < 8).toDF("query_id", "e")
    val index = Similarity.ivfInt8IndexRows(e, cents)

    // nProbe = C probes every cell -> exactly the full quantized scan
    val full = Similarity.annIvfTopKFromIndex(index, queries, cents,
        nProbe = C, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val int8 = Similarity.annInt8TopK(e, numQueries = 8, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full === int8)

    // nProbe < C: same candidate cells as the rerank stack, so the
    // m=k shortlist ids must coincide per query (rerank only re-scores)
    val fromIdx = Similarity.annIvfTopKFromIndex(index, queries, cents,
        nProbe = 4, k = 3)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val rerank = Similarity.annIvfRerankTopK(e, numQueries = 8,
        numCentroids = C, nProbe = 4, m = 3, k = 3)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(fromIdx === rerank)

    // the stored layout round-trips: write partitionBy(cell), read
    // back (partition column comes back re-typed), serve identically
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    index.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val stored = Similarity.annIvfTopKFromIndex(
        spark.read.parquet(dir), queries, cents, nProbe = 4, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val mem = Similarity.annIvfTopKFromIndex(index, queries, cents,
        nProbe = 4, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(stored === mem)
  }

  test("annHardNegatives: only the confusable band survives, ranked within it") {
    // cos to q=0: id1 ~0.999 (dup, above hi), id2 = 0.3 (in band),
    // id3 = 0 (below lo)
    val out = Similarity.annHardNegatives(emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(1f, 0.05f),
      2L -> Seq(0.3f, 0.953939f),
      3L -> Seq(0f, 1f)
    ), numQueries = 1, k = 5, lo = 0.2, hi = 0.9)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
    assert(out === Set((2L, 1)))
  }

  test("annHardNegatives: band containment and contiguous ranks on real data") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.annHardNegatives(e, numQueries = 8, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty, "precondition: band is populated at sf0.001")
    rows.foreach { case (_, _, cos, _) =>
      assert(cos >= 0.15 && cos < 0.40, s"cos $cos escaped the band")
    }
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq === (1 to g.length), "ranks not contiguous")
    }
  }

  test("kcenterCoreset: hand-traced farthest-point sequence with exact distances") {
    // seed 0=(1,0); farthest is 3=(-1,0) at d=2, then 2=(0,1) at d=1,
    // then 1=(45°) at d = 1 - round(cos45°, 6) = 0.292893
    val out = Similarity.kcenterCoreset(emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(0.7f, 0.7f),
      2L -> Seq(0f, 1f),
      3L -> Seq(-1f, 0f)
    ), k = 4)
      .orderBy($"rnk").as[(Int, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1, 0L, 2000000L),
      (2, 3L, 2000000L),
      (3, 2L, 1000000L),
      (4, 1L, 292893L)))
  }

  test("kcenterCoreset: distinct picks with non-increasing coverage radius") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.kcenterCoreset(e, k = 8)
      .orderBy($"rnk").as[(Int, Long, Long)].collect().toSeq
    assert(out.length === 8)
    assert(out.map(_._2).distinct.length === 8, "a center was picked twice")
    assert(out.head === ((1, 0L, 2000000L)), "seed contract: vec 0 first")
    // greedy farthest-point: the max-min distance can only shrink
    val ds = out.drop(1).map(_._3)
    assert(ds.zip(ds.drop(1)).forall { case (a, b) => a >= b },
      s"coverage radius not monotone: $ds")
  }

  test("semDedup: assignment, intra-cell grouping, farthest-from-centroid keep rule") {
    // centroids: 0 -> x-axis, 1 -> y-axis. 2 is a near-dup of 0 in cell
    // 0; 3 sits in cell 0 below tau; 1 is alone in cell 1.
    val out = Similarity.semDedup(emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(0f, 1f),
      2L -> Seq(0.9f, 0.1f),
      3L -> Seq(0.8f, 0.6f)
    ), numCentroids = 2, tau = 0.95)
      .select("vec_id", "cell", "rep_id", "cluster_size", "keep")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(out === Set(
      (0L, 0L, 0L, 2L, false), // in the dup group but AT the centroid
      (2L, 0L, 0L, 2L, true),  // farthest from centroid -> kept
      (3L, 0L, 3L, 1L, true),  // below tau: singleton
      (1L, 1L, 1L, 1L, true)))
  }

  test("semDedup: one cell degrades to embedClusters' components; pairs never cross cells") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // numCentroids=1: every vector lands in cell 0, so the component
    // structure must equal the exact-pair embedClusters result
    val sem = Similarity.semDedup(e, numCentroids = 1, tau = 0.40)
      .select("vec_id", "rep_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    val exact = Similarity.embedClusters(e, tau = 0.40)
      .select("vec_id", "rep_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(sem === exact)
    assert(sem.exists(_._3 > 1), "precondition: corpus has dup groups")
    // with real cells, every non-singleton group is intra-cell and its
    // members form a subset of some exact component
    val cells = Similarity.semDedup(e, numCentroids = 16, tau = 0.40)
      .select("vec_id", "cell", "rep_id")
      .as[(Long, Long, Long)].collect()
    val cellOf = cells.map(r => r._1 -> r._2).toMap
    val exactRep = exact.map(r => r._1 -> r._2).toMap
    cells.groupBy(_._3).values.foreach { grp =>
      assert(grp.map(g => cellOf(g._1)).distinct.length === 1,
        s"group ${grp.toSeq} spans cells")
      assert(grp.map(g => exactRep(g._1)).distinct.length === 1,
        s"group ${grp.toSeq} not contained in an exact component")
    }
    // exactly one keeper per group
    val keeps = Similarity.semDedup(e, numCentroids = 16, tau = 0.40)
      .select("rep_id", "keep").as[(Long, Boolean)].collect()
    keeps.groupBy(_._1).values.foreach { g =>
      assert(g.count(_._2) === 1, "each group keeps exactly one member")
    }
  }

  test("mmrDiversify: redundancy penalty reorders a near-dup cluster") {
    // unit vectors: v1 at +26° of q with near-twin v2; v3 at −30°, the
    // OTHER side of q, so rel(v3)=0.87 is high while sim(v1,v3)≈0.57.
    // Relevance alone ranks v1, v2, v3; the λ=0.7 penalty on v2's
    // ≈0.9998 twin similarity must interleave v3 second.
    val d = emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(0.9f, 0.4359f),
      2L -> Seq(0.89f, 0.456f),
      3L -> Seq(0.87f, -0.4931f))
    val picks = Similarity.mmrDiversify(d, k = 3, nCand = 3)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    assert(picks === Seq(1L, 3L, 2L))
    // λ = 1 switches the penalty off: pure relevance order comes back
    val rel = Similarity.mmrDiversify(d, k = 3, nCand = 3,
        lamNum = 10, lamDen = 10)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    assert(rel === Seq(1L, 2L, 3L))
  }

  test("mmrDiversify: k=1 is the pure-relevance argmax at 7x micro score") {
    val d = emb(0L -> Seq(1f, 0f), 1L -> Seq(0.8f, 0.6f), 2L -> Seq(0f, 1f))
    val out = Similarity.mmrDiversify(d, k = 1, nCand = 2)
      .select("rnk", "vec_id", "rel_micro", "mmr_tenth_micro")
      .as[(Int, Long, Long, Long)].collect()
    assert(out.length === 1)
    val (rnk, id, relM, score) = out.head
    assert(rnk === 1 && id === 1L)
    assert(relM === 800000L, "cos([1,0],[0.8,0.6]) = 0.8 exactly")
    assert(score === 7 * relM)
  }

  test("mmrDiversify: nCand shortlist bounds the pool the greedy sees") {
    // v3 is most diverse but sits OUTSIDE the top-2 relevance shortlist,
    // so with nCand=2 the greedy can only choose among v1, v2
    val d = emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(0.9f, 0.1f),
      2L -> Seq(0.89f, 0.11f),
      3L -> Seq(0f, 1f))
    val picks = Similarity.mmrDiversify(d, k = 2, nCand = 2)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    assert(picks === Seq(1L, 2L))
  }

  test("clusterLabelPurity: majority share, singleton purity, label tie-break") {
    val d = Seq(
      // cluster A: three parallel vectors, labels 7,7,9 → purity 6666
      (1L, Seq(1f, 0f), 7), (2L, Seq(2f, 0f), 7), (3L, Seq(3f, 0f), 9),
      // cluster B: two parallel vectors, labels 4,2 tie → majority 2
      (5L, Seq(0f, 1f), 4), (6L, Seq(0f, 2f), 2),
      // singleton, pure by definition
      (9L, Seq(1f, -1f), 5))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterLabelPurity(d, tau = 0.9)
      .as[(Long, Long, Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) === ((3L, 7, 2L, 6666L)))
    assert(out(5L) === ((2L, 2, 1L, 5000L)))
    assert(out(9L) === ((1L, 5, 1L, 10000L)))
  }

  test("annPqTopK: hand-traced codes, ADC scores, and code-sharing") {
    // axis-aligned 2x2 PQ: codewords are vec 0/1's sub-slices.
    // v2 encodes as (sub0→c0, sub1→c1); v3 is NEAR those codewords and
    // lands on the SAME code — so v2 and v3 must score identically for
    // any query (what PQ compressed away), ranked apart by id only.
    val d = emb(
      0L -> Seq(1f, 0f, 1f, 0f),
      1L -> Seq(0f, 1f, 0f, 1f),
      2L -> Seq(1f, 0f, 0f, 1f),
      3L -> Seq(0.9f, 0.1f, 0.1f, 0.9f))
    val out = Similarity.annPqTopK(d, numQueries = 1, k = 3,
        numSub = 2, subDim = 2, numCodes = 2)
      .orderBy("rnk").as[(Long, Long, Double, Int)].collect().toSeq
    // query 0 (= [1,0,1,0]): ADC dot with code (c0,c1) = 1·1e6 + 0;
    // recon norm √2, query norm √2 ⇒ cos = 1/2 for both v2 and v3;
    // v1's code (c1,c1) is orthogonal ⇒ 0
    assert(out.map(r => (r._2, r._3, r._4)) ===
      Seq((2L, 0.5, 1), (3L, 0.5, 2), (1L, 0.0, 3)))
  }

  test("annPqTopK: real corpus — k dense ranks per query, self excluded") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.annPqTopK(e, numQueries = 4, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.length === 4 * 5)
    assert(out.forall(r => r._1 != r._2), "query is never its own neighbor")
    out.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._4).sorted.toSeq === (1 to 5), "dense ranks")
      // ranks follow (cos desc, id) exactly
      val sorted = rs.sortBy(_._4).toSeq
      assert(sorted === rs.sortBy(r => (-r._3, r._2)).toSeq)
    }
  }

  test("annIvfPqTopK: probing every cell with a corpus-wide shortlist " +
      "degrades to exact brute force") {
    // the stack's boundary contract: nProbe = C makes stage 1 a no-op,
    // m >= |corpus| makes the ADC shortlist a no-op, and the exact
    // rerank is then brute-force cosine top-k — the same boundary pin
    // ann_ivf/knn_graph carry
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val stacked = Similarity.annIvfPqTopK(e, numQueries = 4, m = 500,
        k = 3, numCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = Similarity.annCosineTopK(e, numQueries = 4, k = 3)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(stacked === exact)
  }

  test("pqTrainCodebook: iters=0 returns the md5-sampled init slices") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqTrainCodebook(e, numSub = 4, subDim = 16,
        numCodes = 3, iters = 0)
      .select("sub", "cid").as[(Int, Long)].collect().toSet
    assert(cb === (for (s <- 0 until 4; c <- 1 to 3) yield (s, c.toLong)).toSet)
  }

  test("pqTrainCodebook: Lloyd rounds never increase quantization error") {
    // the k-means monotonicity guarantee, measured on real data: total
    // integer L2 error of the nearest-code assignment must be
    // non-increasing in the iteration count
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def err(iters: Int): Long = {
      val cb = Similarity.pqTrainCodebook(e, iters = iters)
        .select(col("sub"), col("cid"),
          transform(col("c"), x => round(x * lit(1000000.0d)).cast("long"))
            .as("cm"))
      val vms = Similarity.vectors(e)
        .select(col("vec_id"),
          transform(col("e"), x => round(x * lit(1000000.0d)).cast("long"))
            .as("em"))
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("sub"), col("em"))
        .select(col("vec_id"), col("sub"),
          slice(col("em"), col("sub") * 8 + 1, lit(8)).as("xm"))
      vms.join(broadcast(cb), Seq("sub"))
        .withColumn("d2", aggregate(
          zip_with(col("xm"), col("cm"), (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, y) => acc + y))
        .groupBy("vec_id", "sub").agg(min(col("d2")).as("d2"))
        .agg(sum("d2")).as[Long].head()
    }
    val e0 = err(0); val e1 = err(1); val e2 = err(2)
    assert(e1 <= e0 && e2 <= e1,
      s"Lloyd error must be monotone non-increasing: $e0 -> $e1 -> $e2")
    assert(e2 < e0, "two rounds must actually improve on the init")
  }

  test("pqTrainRecall: held-out queries, two tagged rows, sane bp") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.pqTrainRecall(e)
      .select("codebook", "hits", "recall_bp")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) === Seq("default", "trained"))
    assert(out.forall { case (_, h, bp) =>
      h >= 0 && h <= 40 && bp === h * 250 })
  }

  test("annIvfPqTopK: reported scores are true fp32 cosines, ranks dense") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.annIvfPqTopK(e, numQueries = 4, m = 8, k = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.length === 4 * 3)
    // every reported (query, neighbor, cos) matches the exact scorer
    val truth = Similarity.annCosineTopK(e, numQueries = 4, k = 499)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out.forall(r => truth((r._1, r._2)) === r._3),
      "rerank must report exact cosines, not ADC estimates")
  }

  private val sf = "/root/testdata/sf0.001"

  /** Hand case (numSub=1, subDim=2): one cell (centroid v0), residual
    * codebook seeded from v1, v2. v3's residual (-0.1, 0.1) is nearer
    * v1's (-0.2, 0.6) than v2's (-0.4, -0.8), so v3 encodes AS v1 and
    * its reconstruction x̂3 = c + w1 = v1 exactly — the ADC estimate
    * for v3 equals cos(q, v1), which ties with v1 itself and loses the
    * m=1 shortlist on the vec_id tiebreak, while m=2 lets the exact
    * rerank restore v3 (true cos 0.9939) to the top. */
  private val handVecs = Seq(
    (0L, Array(1.0f, 0.0f)),    // centroid + query
    (1L, Array(0.8f, 0.6f)),    // seed 1 -> w1 = (-0.2, 0.6) micro
    (2L, Array(0.6f, -0.8f)),   // seed 2 -> w2 = (-0.4, -0.8) micro
    (3L, Array(0.9f, 0.1f)))    // encodes to code 1 (x̂ = v1)

  test("residual IVFADC: hand-computed encode, ADC tie, rerank recovery") {
    val emb = handVecs.toDF("vec_id", "embedding")
    def serve(m: Int) = Similarity.annIvfPqResidualTopK(emb,
      numQueries = 1, m = m, k = 1, numCentroids = 1, nProbe = 1,
      numSub = 1, subDim = 2, numCodes = 2)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // m=1: the ADC shortlist keeps only the tie-broken winner v1
    assert(serve(1) === Seq((0L, 1L, 0.8, 1)))
    // m=2: v3 enters the shortlist (ADC tie with v1) and the exact
    // rerank puts it first — cos(v0, v3) = 0.9 / sqrt(0.82)
    val m2 = serve(2)
    assert(m2.head._2 === 3L && m2.head._4 === 1)
    assert(math.abs(m2.head._3 - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("residual IVFADC: nProbe=C, m=corpus degrades to exact brute force") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val exact = Similarity.annCosineTopK(emb, numQueries = 4, k = 3)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    val res = Similarity.annIvfPqResidualTopK(emb, numQueries = 4,
      m = 100000, k = 3, numCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(res === exact,
      "full probing + full shortlist + exact rerank must equal brute force")
  }

  test("pqResidualRecall: one-pass curve — raw x residual per probe " +
      "budget, near-monotone in nProbe, shared denominator") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val rows = Similarity.pqResidualRecall(emb)
      .select("encoding", "n_probe", "hits", "recall_bp")
      .as[(String, Int, Long, Long)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)).toSet ===
      (for (e <- Seq("raw", "residual"); p <- Seq(1, 2, 4)) yield (e, p))
        .toSet)
    rows.foreach { case (_, _, hits, bp) =>
      assert(bp === (10000L * hits) / (32L * 5L),
        "denominator must be the actual held-out count (32 at this sf)")
    }
    // Strict monotonicity in nProbe is NOT a true invariant (r14
    // ADVICE): ADC scores are approximate, so widening the candidate
    // set can push a true neighbor below rank k behind a higher-ADC-
    // scored non-neighbor. What IS guaranteed is that the candidate
    // SETS nest; empirically the curves on this pinned testdata rise
    // — assert that shape with a small-dip allowance (2 hits = 125 bp
    // at the 32×5 denominator) so a parameter/data refresh can't fail
    // the suite for a non-bug reason.
    val dipBp = 125L
    Seq("raw", "residual").foreach { e =>
      val curve = rows.filter(_._1 == e).sortBy(_._2).map(_._4)
      assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - dipBp },
        s"$e recall should be near-monotone in nProbe (dips <= $dipBp " +
          s"bp): $curve")
    }
  }

  test("trained residual compose at iters=0: hand case pins the " +
      "micro-scale CAST (trained centroids are already micro)") {
    // iters=0: the coarse centroid is the md5-min vector (v1 — md5("1")
    // sorts first among 0..3) and the residual codebook holds the
    // md5-first two vectors' residuals against it (v1 -> the ZERO
    // residual, v2). v0 and v3 both encode as code 1 (x̂ = v1 exactly),
    // so the ADC ties v1/v3 at cos(v0, v1) = 0.8 — identical structure
    // to the seeded hand case, but through the CAST path: had the
    // trained centroids been re-scaled ×10⁶ like raw ones, residuals
    // would sit near -8·10¹¹ and every code and tie here would differ.
    val emb = handVecs.toDF("vec_id", "embedding")
    def serve(m: Int) = Similarity.annIvfPqResidualTrained(emb,
      numQueries = 1, m = m, k = 1, numCentroids = 1, nProbe = 1,
      numSub = 1, subDim = 2, numCodes = 2, iters = 0)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(serve(1) === Seq((0L, 1L, 0.8, 1)))
    val m2 = serve(2)
    assert(m2.head._2 === 3L && m2.head._4 === 1)
    assert(math.abs(m2.head._3 - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("residual from-index serving == the rebuild plan, row for row") {
    val out1 = Similarity.annIvfPqResidualFromIndexQuery(spark, sf)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val out2 = Similarity.annIvfPqResidualTopK(
        graft.core.Tables.embeddings(spark, sf))
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(out1 === out2,
      "the stored-index read path must serve exactly the rebuild plan")
  }

  test("residual index written partitionBy(cell): a cell probe prunes " +
      "the scan to that partition") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_respq").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cents = Similarity.defaultCentroids(emb, 16).localCheckpoint()
    Similarity.residualPqIndexRowsWith(emb, cents,
        Similarity.residualSeedCodebookOf(emb, cents))
      .write.partitionBy("cell").mode("overwrite").parquet(tmp)
    val index = spark.read.parquet(tmp)
    val total = index.count()
    // probe the cell nearest query 40 under the serving rule
    val probed = Similarity.vectors(emb)
      .filter(col("vec_id") === 40L).crossJoin(cents)
      .withColumn("ccos",
        round(graft.functions.CosineSimilarity(col("e"), col("ce")), 6))
      .orderBy(col("ccos").desc, col("cid")).limit(1)
      .select("cid").as[Long].collect()(0)
    val filtered = index.filter(col("cell") === probed)
    val cellRows = filtered.count()
    assert(cellRows > 0 && cellRows < total,
      "the probed cell must be a strict nonempty subset")
    assert(rowsRead(filtered, partitionedScansOnly = true) === cellRows,
      "the scan must READ only the probed cell's partition")
    val planStr = filtered.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"),
      s"cell predicate did not become a partition filter:\n$planStr")
    // the index payload really is M small ints per vector
    val w = index.select(org.apache.spark.sql.functions.size(col("codes")))
      .distinct().as[Int].collect().toSeq
    assert(w === Seq(8), "every row stores exactly numSub codes")
  }

  test("pqResidualTrainedRecall: two codebook rows, shared denominator") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val rows = Similarity.pqResidualTrainedRecall(emb)
      .select("codebook", "hits", "recall_bp")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) === Seq("seeded", "trained"))
    rows.foreach { case (_, hits, bp) =>
      assert(bp === (10000L * hits) / (8L * 5L))
    }
  }

  test("trained compose at iters=0 serves from the md5 seed tables") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // the iters=0 trainers must return the md5-ordered seed samples
    val ids = Similarity.vectors(emb).select(col("vec_id"))
      .as[Long].collect()
    def md5hex(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val sample = ids.sortBy(id => (md5hex(id), id)).take(16).toSeq
    val cents0 = Similarity.trainIvfCentroidsExact(emb, 16, iters = 0)
    val centIds = cents0.select("cid").as[Long].collect().sorted.toSeq
    assert(centIds === (1L to 16L),
      "iters=0 centroids carry sample ranks 1..C as cids")
    // each seed centroid is its sample vector's micro rounding
    val vm = Similarity.vectors(emb)
      .select(col("vec_id"),
        transform(col("e"),
          x => round(x * lit(1000000.0d)).cast("long")).as("em"))
      .as[(Long, Seq[Long])].collect().toMap
    val ce = cents0.select(col("cid"),
        transform(col("ce"), _.cast("long")).as("cm"))
      .as[(Long, Seq[Long])].collect().toMap
    sample.zipWithIndex.foreach { case (id, i) =>
      assert(ce(i + 1L) === vm(id),
        s"seed centroid ${i + 1} must be vector $id's micro rounding")
    }
    // and the compose at iters=0 == serving from those explicit tables
    val viaTrained = Similarity.annIvfPqTrained(emb, iters = 0)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val viaWith = Similarity.annIvfPqTopKWith(emb,
      Similarity.trainIvfCentroidsExact(emb, 16, 0),
      Similarity.pqTrainCodebook(emb, 8, 8, 16, 0),
      numQueries = 8, m = 12, k = 3, nProbe = 4, numSub = 8, subDim = 8)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaTrained === viaWith)
  }

  // ---- raw-scale guard, int4 packing, rerank budget and equal-bytes
  //      recall, embedding norm QC

  test("residualSeedCodebookOf / residualPqIndexRows fail LOUDLY on " +
      "micro-valued (trained-style) centroids instead of encoding junk") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // trainIvfCentroidsExact output convention: micro-valued doubles
    val microCents = Similarity.defaultCentroids(emb, 4)
      .select(col("cid"),
        transform(col("ce"), x => round(x * lit(1000000.0d))).as("ce"))
    def mustFail(f: => org.apache.spark.sql.DataFrame): Unit = {
      val ex = intercept[Exception] { f.collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("MICRO-valued")),
        s"expected the raw-scale guard message, got: $ex")
    }
    mustFail(Similarity.residualSeedCodebookOf(emb, microCents))
    mustFail(Similarity.residualPqIndexRowsWith(emb, microCents,
      Similarity.residualSeedCodebookOf(emb, microCents)))
    mustFail(Similarity.residualPqIndexRowsWith(emb, microCents,
      Similarity.residualSeedCodebookOf(emb,
        Similarity.defaultCentroids(emb, 4))))
    // raw-scale centroids still pass through untouched
    val ok = Similarity.residualSeedCodebookOf(emb,
      Similarity.defaultCentroids(emb, 4), numCodes = 4)
    assert(ok.count() > 0)
  }

  test("rerankBudgetRecall: strictly valid curve — per-m hits are " +
      "non-decreasing (a TRUE invariant here), full-budget top") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val rows = Similarity.rerankBudgetRecall(emb)
      .select("m", "hits", "recall_bp")
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) === Seq(5, 10, 20, 40))
    // shortlists nest in m and the rerank orders by the truth's own
    // exact rounded-6 cosine + vec_id tiebreak: a served true neighbor
    // can only be displaced by a higher-exact-ranked vector, which is
    // itself a truth row — so hits can never drop when m grows. This
    // is a real invariant, not a data-pinned observation (contrast the
    // nProbe curve, where ADC approximation breaks it).
    val hits = rows.map(_._2)
    assert(hits.zip(hits.tail).forall { case (a, b) => b >= a },
      s"hits must be non-decreasing in m: $hits")
    rows.foreach { case (_, h, bp) =>
      assert(bp === (10000L * h) / (32L * 5L),
        "denominator must be the actual held-out count (32 at this sf)")
    }
  }

  test("int4 packing is bit-lossless: annPqInt4TopK == annPqTopK " +
      "row for row (storage change, not model change)") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val packed = Similarity.annPqInt4TopK(emb, numQueries = 8, k = 5)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val flat = Similarity.annPqTopK(emb, numQueries = 8, k = 5)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(packed === flat,
      "serving from packed 4-bit codes must equal the byte-code plan")
  }

  test("int4 pack bit formula: two 4-bit cids per byte, hand-checked") {
    // codes per sub for one vector -> packed bytes:
    //  (3, 9)  -> 3 | 9<<4  = 147;  (15, 0) -> 15 | 0<<4 = 15
    val enc = Seq((7L, 0, 3L), (7L, 1, 9L), (7L, 2, 15L), (7L, 3, 0L))
      .toDF("vec_id", "sub", "cid")
    val packed = enc.groupBy(col("vec_id"))
      .agg(org.apache.spark.sql.functions.transform(
        sort_array(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("codes"))
      .select(col("vec_id"), expr(
        "transform(sequence(0, 1), " +
          "b -> CAST(codes[b * 2] | shiftleft(codes[b * 2 + 1], 4) " +
          "AS INT))").as("packed"))
      .as[(Long, Seq[Int])].collect().head
    assert(packed === ((7L, Seq(147, 15))))
    // and the unpack formula inverts it
    val unpacked = Seq((7L, Seq(147, 15))).toDF("vec_id", "packed")
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(3))).as("sub"), col("packed"))
      .select(col("sub"), expr(
        "CAST(shiftright(packed[CAST(sub div 2 AS INT)], " +
          "CAST(sub % 2 AS INT) * 4) & 15 AS BIGINT)").as("cid"))
      .as[(Int, Long)].collect().sortBy(_._1).toSeq
    assert(unpacked === Seq((0, 3L), (1, 9L), (2, 15L), (3, 0L)))
  }

  test("int4 residual index: packed serving == unpacked serving == " +
      "rebuild; stored row carries M/2 nibbles-bytes") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val v = Similarity.vectors(emb)
    val cents = Similarity.defaultCentroids(emb, 16).localCheckpoint()
    val cb = Similarity.residualSeedCodebookOf(emb, cents).localCheckpoint()
    val queries = v.filter(col("vec_id") < 8).toDF("query_id", "e")
    val packedIdx = Similarity.residualPqIndexRowsInt4(emb, cents, cb)
      .localCheckpoint()
    // the storage halves: 4 packed bytes where the unpacked index
    // stores 8 code ids
    assert(packedIdx.select(size(col("packed"))).distinct()
      .as[Int].collect().toSeq === Seq(4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
    val fromPacked = rows(Similarity.annIvfPqResidualFromInt4Index(
      packedIdx, queries, v, cents, cb,
      nProbe = 4, m = 12, k = 3, numSub = 8, subDim = 8))
    val fromPlain = rows(Similarity.annIvfPqResidualFromIndex(
      Similarity.residualPqIndexRowsWith(emb, cents, cb), queries, v, cents, cb,
      nProbe = 4, m = 12, k = 3, numSub = 8, subDim = 8))
    assert(fromPacked === fromPlain,
      "nibble packing must be serving-invisible")
    assert(fromPacked === rows(Similarity.annIvfPqResidualTopK(emb)),
      "packed-index serving must equal the rebuild plan")
  }

  test("pqInt4Recall: equal-bytes rows present, actual-count " +
      "denominator, shared truth") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val rows = Similarity.pqInt4Recall(emb)
      .select("encoding", "bytes_per_vec", "hits", "recall_bp")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1).toSet === Set("pq8_4x16", "int4_8x8"))
    rows.foreach { case (_, bytes, h, bp) =>
      assert(bytes === 4L)
      assert(bp === (10000L * h) / (32L * 5L))
    }
  }

  test("rerankBudgetRecall: m = corpus recovers the candidate-set " +
      "recall ceiling (exact rerank over ALL probed candidates)") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // at m >= |candidates| the rerank IS an exact top-k over the
    // probed cells: the curve's ceiling equals serving the candidates
    // exactly — more budget cannot help past the probe recall
    val wide = Similarity.rerankBudgetRecall(emb, ms = Seq(5, 100000))
      .select("m", "recall_bp").as[(Int, Long)].collect().toMap
    assert(wide(100000) >= wide(5))
    val again = Similarity.rerankBudgetRecall(emb,
      ms = Seq(100000, 200000))
      .select("m", "recall_bp").as[(Int, Long)].collect().toMap
    assert(again(100000) === again(200000),
      "past the candidate-set size, the budget knob must saturate")
    assert(again(100000) === wide(100000))
  }

  test("embedNormQc: zero vectors and non-finite components are flagged apart") {
    val d = Seq(
      (1L, Array(3.0f, 4.0f), 0),                  // norm 5
      (2L, Array(0.0f, 0.0f), 0),                  // zero vector
      (3L, Array(Float.NaN, 1.0f), 0),             // non-finite
      (4L, Array(Float.PositiveInfinity, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embedNormQc(d)
      .select("label", "n", "min_norm_micro", "max_norm_micro", "n_zero",
        "n_nonfinite")
      .as[(Int, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(out === Seq(
      (0, 3L, Some(0L), Some(5000000L), 1L, 1L),
      (1, 1L, None, None, 0L, 1L)))
  }

  test("embedNormQc: the real table is clean") {
    val out = Similarity.embedNormQc(
        graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .agg(sum("n_zero"), sum("n_nonfinite")).as[(Long, Long)].head()
    assert(out === ((0L, 0L)))
  }

  test("every recall instrument rejects a repeated budget (a repeat " +
      "would double-count its hits)") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cases: Seq[(String, () => Any)] = Seq(
      "annRecallEval" -> (() => Similarity.annRecallEval(emb,
        nProbes = Seq(1, 1, 2))),
      "annRecallTrained" -> (() => Similarity.annRecallTrained(emb,
        nProbes = Seq(2, 4, 2))),
      "pqResidualRecall" -> (() => Similarity.pqResidualRecall(emb,
        nProbes = Seq(1, 2, 2))),
      "annMatryoshkaRecall" -> (() => Similarity.annMatryoshkaRecall(emb,
        tiers = Seq(8, 8, 16))),
      "rerankBudgetRecall" -> (() => Similarity.rerankBudgetRecall(emb,
        ms = Seq(5, 10, 10))))
    cases.foreach { case (name, build) =>
      withClue(s"$name: ") {
        intercept[IllegalArgumentException](build())
      }
    }
  }
}
