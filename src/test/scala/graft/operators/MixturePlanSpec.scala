package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MixturePlanSpec extends SparkSpec {
  import spark.implicits._

  // hand-computed 3-ROUND cascade: w=(5000,3000,2000), T=(100,170,800),
  // B=2000, cap 4.0 epochs.
  //   round 1: wu=10000 brem=2000 → ideal=(1000,600,400), epochs=
  //     (10, 3.529, 0.5) → cap a at 400
  //   round 2: wu=5000 brem=1600 → ideal b=(3000·1600)/5000=960,
  //     epochs=5.647 → cap b at 680
  //   round 3: wu=2000 brem=920 → ideal c=920, epochs=1.15 → stop
  test("solve: three-round waterfilling cascade, hand-checked") {
    val rows = Seq(("a", 1L, 100L, 5000L), ("b", 1L, 170L, 3000L),
      ("c", 1L, 800L, 2000L))
    val out = MixturePlan.solve(rows, budget = 2000L,
      maxEpochsMicro = 4000000L).map(p => p.source -> p).toMap
    assert(out("a").capped && out("a").planned_tokens === 400L)
    assert(out("a").epochs_micro === 4000000L)
    assert(out("b").capped && out("b").planned_tokens === 680L)
    assert(out("b").epochs_micro === 4000000L)
    assert(!out("c").capped && out("c").planned_tokens === 920L)
    assert(out("c").epochs_micro === 1150000L)
    // achieved over the 2000 planned total: 2000/3400/4600 bp
    assert(out("a").achieved_bp === 2000L)
    assert(out("b").achieved_bp === 3400L)
    assert(out("c").achieved_bp === 4600L)
  }

  test("solve: no caps means pure proportional allotment") {
    val rows = Seq(("a", 1L, 1000L, 6000L), ("b", 1L, 1000L, 4000L))
    val out = MixturePlan.solve(rows, budget = 3000L,
      maxEpochsMicro = 4000000L).map(p => p.source -> p).toMap
    assert(out.values.forall(!_.capped))
    assert(out("a").planned_tokens === 1800L)
    assert(out("b").planned_tokens === 1200L)
    assert(out("a").achieved_bp === 6000L && out("b").achieved_bp === 4000L)
  }

  test("solve: every source capped leaves the surplus unallotted") {
    val rows = Seq(("a", 1L, 10L, 5000L), ("b", 1L, 10L, 5000L))
    val out = MixturePlan.solve(rows, budget = 1000L,
      maxEpochsMicro = 2000000L).map(p => p.source -> p).toMap
    assert(out.values.forall(_.capped))
    assert(out("a").planned_tokens === 20L && out("b").planned_tokens === 20L)
    assert(out("a").achieved_bp === 5000L)
  }

  test("mixturePlan: DataFrame path matches solve on a toy corpus") {
    val docs = Seq(
      (1L, Seq.fill(100)("x").mkString(" "), "en", "src1", 0L),
      (2L, Seq.fill(170)("x").mkString(" "), "en", "src2", 0L),
      (3L, Seq.fill(800)("x").mkString(" "), "en", "src3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // target by source index: src1→5000, src2→3000, src3→2000
    val target = expr(
      "CASE source WHEN 'src1' THEN 5000 WHEN 'src2' THEN 3000 ELSE 2000 END")
    val out = MixturePlan.mixturePlan(docs, target,
        budgetTokens = Some(2000L))
      .orderBy("source")
      .as[MixturePlan.SourcePlan].collect()
    assert(out.map(_.planned_tokens).toSeq === Seq(400L, 680L, 920L))
    assert(out.map(_.capped).toSeq === Seq(true, true, false))
    assert(out.map(_.n_docs).toSeq === Seq(1L, 1L, 1L))
  }

  test("mixturePlanDomains: a domains >> components corpus collapses " +
      "map-side and the solver input stays |components|-sized") {
    // 3000 docs fan out over up to 500 domains mapping into 5
    // components — the web-scale shape: the solver must only ever see
    // the component rows, with the domain fan recorded as n_domains
    val docs = (0L until 3000L)
      .map(i => (i, s"tok a b c doc$i", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (dd, dim) = MixturePlan.domainComponents(docs,
      numDomains = 500, numComponents = 5)
    val nDomains = dd.select("domain").distinct().count()
    assert(nDomains > 100 && nDomains <= 500, s"got $nDomains domains")
    assert(dim.count() === nDomains, "dim is |domains|-sized")
    assert(dim.select("component").distinct().count() <= 5)

    val out = MixturePlan.mixturePlanDomains(docs,
        numDomains = 500, numComponents = 5)
      .orderBy("component")
      .select("component", "n_domains", "n_docs", "src_tokens",
        "target_bp", "capped", "planned_tokens")
      .as[(String, Long, Long, Long, Long, Boolean, Long)].collect()
    assert(out.length <= 5, "solver input must stay |components|-sized")
    assert(out.map(_._2).sum === nDomains,
      "every domain lands in exactly one component")
    assert(out.map(_._3).sum === 3000L)

    // the plan must equal solve() on the hand-aggregated component sums
    val sums = dd.join(dim, "domain")
      .groupBy("component")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.size(split(col("text"), " "))
            .cast("long")).as("t"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val rows = sums.map { case (c, n, t) =>
      (c, n, t, (c.drop(4).toLong % 4 + 1) * 200L)
    }
    val expected = MixturePlan.solve(rows, 3L * rows.map(_._3).sum,
      4000000L).map(p => p.source -> p.planned_tokens).toMap
    out.foreach { case (c, _, _, _, _, _, planned) =>
      assert(planned === expected(c), s"$c plan must match solve()")
    }
  }

  private val sf = "/root/testdata/sf0.001"

  test("mixturePlanClusters: component sizes ARE the trained " +
      "assignment's cluster sizes; plan invariants hold") {
    val docs = graft.core.Tables.documents(spark, sf)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val plan = MixturePlan.mixturePlanClusters(docs, emb)
      .select("component", "n_docs", "src_tokens", "planned_tokens",
        "epochs_micro", "capped")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
    // the component dim IS the assignment: per-cell counts must match
    val cents = Similarity.trainIvfCentroidsExact(emb, 12, 2)
    val sizes = Similarity.assignToCells(Similarity.vectors(emb), cents)
      .groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    assert(plan.map(p => (p._1, p._2)).toSet ===
      sizes.map { case (c, n) => (s"cell$c", n) }.toSet,
      "plan components must mirror the trained cluster sizes exactly")
    // solver invariants (the mixture_plan laws on the new front end):
    // epoch cap respected; capped components sit exactly at the cap
    plan.foreach { case (c, _, t, p, em, capped) =>
      assert(em <= 4000000L, s"$c exceeds the epoch cap")
      if (capped) assert(p === (t * 4000000L) / 1000000L,
        s"capped component $c must sit exactly at cap")
    }
  }
}
