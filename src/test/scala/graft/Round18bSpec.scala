package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{PipelineOps, VectorOps}

/** Functional gates for the r18 continuation wave: DSIR importance
  * resampling (hashed-n-gram importance weights + deterministic top-n
  * resample) and Matryoshka prefix-dim serving.
  */
class Round18bSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("dsirWeights ranks target-like pool docs above unlike ones") {
    val s = spark
    import s.implicits._
    // target speaks "alpha beta gamma"; pool doc 1 speaks the target's
    // language, doc 2 a disjoint one — the importance ratio must order
    // them, with the bigram features reinforcing the unigram signal
    val target = Seq((100L, "alpha beta gamma alpha beta"),
      (101L, "beta gamma alpha")).toDF("doc_id", "text")
    val pool = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val w = PipelineOps.dsirWeights(target, pool, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w.keySet == Set(1L, 2L))
    assert(w(1L) > w(2L),
      s"target-like doc must outscore the disjoint one: $w")
  }

  test("dsirWeights covers exactly the pool docs and counts features") {
    val s = spark
    import s.implicits._
    val target = Seq((10L, "a b")).toDF("doc_id", "text")
    val pool = Seq((1L, "x y z")).toDF("doc_id", "text")
    val rows = PipelineOps.dsirWeights(target, pool, "doc_id", "text")
      .collect()
    assert(rows.length == 1)
    // 3 unigrams + 2 bigrams
    assert(rows.head.getLong(1) == 5L)
  }

  test("dsirSelect returns n ranked rows, logw non-increasing") {
    val docs = Tables.documents(spark, sfDir)
    val sel = PipelineOps.dsirSelect(PipelineOps.dsirWeights(
        target = docs.filter(col("lang") === "en"),
        pool = docs.filter(col("lang") =!= "en"),
        "doc_id", "text"), "doc_id", n = 20)
      .orderBy(col("rk")).collect()
    assert(sel.length == 20)
    assert(sel.map(_.getLong(3)).toSeq == (1L to 20L))
    val ws = sel.map(_.getLong(2))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b },
      "selection must be ranked by logw desc")
  }

  test("mrlTopK serves k exact-cosine-ranked rows per query") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val out = VectorOps.mrlTopK(emb.filter(col("vec_id") < 10), emb,
        k = 3, prefixDims = 32, shortlist = 100).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L))
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("mrl recall@3 holds the 0.9 floor on the fixture") {
    val rec = SparkEntry.queries("sim_ann_mrl_recall")(spark, sfDir)
      .agg(avg(col("recall"))).collect().head.getDouble(0)
    assert(rec >= 0.9, s"mrl recall regressed: $rec")
  }

  test("personalized pagerank concentrates rank on the seed set") {
    val rows = SparkEntry.queries("graph_ppr")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    val ranks = rows.map(_.getLong(1))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
    assert(ranks.forall(_ > 0))
    // the teleport set IS the 5 smallest node ids in the result (seeds
    // are chosen as the graph's smallest ids and hold the seed mass)
    val top5 = rows.take(5).map(_.getLong(0)).toSet
    val smallest5 = rows.map(_.getLong(0)).sorted.take(5).toSet
    assert(top5 == smallest5,
      s"seed set must out-rank its neighborhood: top=$top5 seeds=$smallest5")
  }

  test("k-core peel converges and reports within-core degrees >= kMin") {
    val chk = SparkEntry.queries("graph_kcore_check")(spark, sfDir)
      .collect().head
    assert(chk.getBoolean(2),
      s"peel must converge within the provisioned rounds: $chk")
    val core = SparkEntry.queries("graph_kcore")(spark, sfDir).collect()
    assert(core.nonEmpty)
    assert(core.forall(_.getLong(1) >= 2L),
      "every surviving node keeps degree >= kMin inside the core")
  }

  test("rm3 expansion terms exclude the query and the probe fills k") {
    val terms = SparkEntry.queries("text_search_rm3_terms")(spark, sfDir)
      .collect().map(_.getString(0))
    assert(terms.length == 3)
    assert(terms.toSet.intersect(Set("spark", "vector", "window")).isEmpty)
    val hits = SparkEntry.queries("text_search_rm3")(spark, sfDir).collect()
    assert(hits.length == 10)
    assert(hits.map(_.getLong(2)).sorted.toSeq == (1L to 10L))
  }

  test("l-diversity flags exactly the classes under the floor") {
    val rows = SparkEntry.queries("dq_l_diversity")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(3) < 3L))
    }
  }

  test("dp release: released = n*1e6 + noise, noise Laplace-bounded") {
    val rows = SparkEntry.queries("dq_dp_counts")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000000L + r.getLong(3))
      // b=1 Laplace from a ppm-resolution uniform: |noise| <= ln(1e6)
      assert(math.abs(r.getLong(3)) <= 14000000L, s"noise out of range: $r")
    }
  }

  test("link prediction never proposes an existing edge") {
    import org.apache.spark.sql.functions.broadcast
    val pred = SparkEntry.queries("graph_link_predict")(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("a"), col("b.l_partkey").as("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("a"), col("b"))
    val overlap = pred.select(col("a"), col("b"))
      .join(broadcast(edges), Seq("a", "b")).count()
    assert(overlap == 0L, s"$overlap predicted pairs already exist")
    val rows = pred.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) >= 1L))
  }

  test("mrl index probe matches the in-memory scorer and scans the narrow prefix table") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val probe = VectorOps.probeMrlIndex(spark,
      SimilarityQueries.base(spark, sfDir, SimilarityQueries.mrl),
      emb.filter(col("vec_id") < 10), k = 5, prefixDims = 32,
      shortlist = 100)
    val direct = VectorOps.mrlTopK(emb.filter(col("vec_id") < 10), emb,
      k = 5, prefixDims = 32, shortlist = 100)
    val a = probe.orderBy(col("query_id"), col("rk")).collect().map(_.toString)
    val b = direct.orderBy(col("query_id"), col("rk")).collect().map(_.toString)
    assert(a.toSeq == b.toSeq, "epoch probe must equal the direct scorer")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("_prefix"), "coarse pass must scan the prefix table")
    assert(plan.contains("_nodes"), "re-rank must join the full-vector table")
  }

  test("gini is a valid ppm concentration per language") {
    val rows = SparkEntry.queries("stats_gini_by_lang")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getLong(3)
      assert(g >= 0L && g < 1000000L, s"gini_ppm out of [0,1e6): $r")
    }
  }

  test("silhouette: s in [0,1] ppm, clusters cover the corpus") {
    val rows = SparkEntry.queries("sim_cluster_silhouette")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getLong(3)
      assert(m >= 0L && m <= 1000000L, s"mean silhouette out of range: $r")
      assert(r.getLong(2) >= 0L)
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.embeddings(spark, sfDir).count(),
      "every vector must be scored exactly once")
  }

  test("gumbel resample is a valid sample of the pool, keyed and ranked") {
    val docs = Tables.documents(spark, sfDir)
    val sel = SparkEntry.queries("pipeline_dsir_resample")(spark, sfDir)
      .collect()
    assert(sel.length == 50)
    assert(sel.map(_.getLong(3)).toSeq == (1L to 50L))
    val keys = sel.map(_.getLong(2))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    // selected ids are pool docs (lang <> en)
    val poolIds = docs.filter(col("lang") =!= "en")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(sel.map(_.getLong(0)).forall(poolIds))
  }

  test("curriculum: exact terciles per language, keys deterministic") {
    val rows = SparkEntry.queries("pipeline_curriculum")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).toSet.subsetOf(Set(0L, 1L, 2L)))
    val byLang = rows.groupBy(_.getString(1))
    byLang.foreach { case (lang, rs) =>
      val phases = rs.groupBy(_.getLong(3)).view.mapValues(_.length)
      val n = rs.length
      // exact integer thirds: each phase holds ceil/floor(n/3)
      phases.values.foreach(c =>
        assert(math.abs(c - n / 3.0) <= 1.0, s"$lang unbalanced: $phases"))
      // within a language, phase 0 holds the highest-quality docs
      val q0max = rs.filter(_.getLong(3) == 0L).map(_.getDouble(2)).min
      val q2min = rs.filter(_.getLong(3) == 2L).map(_.getDouble(2)).max
      assert(q0max >= q2min, s"$lang: phase 0 must dominate phase 2")
    }
  }

  test("interpolate: known buckets exact, gaps between their anchors") {
    val rows = SparkEntry.queries("events_interpolate")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    // every grid bucket filled; interpolated values live between the
    // series min and max of the known bucket means
    assert(rows.forall(!_.isNullAt(3)))
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val known = rs.filter(_.getLong(2) > 0).map(_.getLong(3))
      if (known.nonEmpty) {
        val (lo, hi) = (known.min, known.max)
        rs.filter(_.getLong(2) == 0).foreach { r =>
          val v = r.getLong(3)
          assert(v >= lo - 1 && v <= hi + 1,
            s"interpolation escaped its anchors: $r")
        }
      }
    }
  }

  test("hard negatives live strictly inside the mining band") {
    val rows = SparkEntry.queries("sim_hard_negatives")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= 0.30 && c < 0.90, s"negative escaped the band: $r")
    }
    // no query mines itself
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("ks drift: D in [0, 1e6] ppm, totals partition the series") {
    val rows = SparkEntry.queries("stats_ks_drift")(spark, sfDir)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val d = r.getLong(3)
      assert(d >= 0L && d <= 1000000L, s"ks out of range: $r")
      assert(r.getLong(1) > 0L && r.getLong(2) > 0L)
    }
  }

  test("modularity: single-community partition reads exactly zero") {
    val r = SparkEntry.queries("graph_modularity")(spark, sfDir)
      .collect().head
    // the sf0.001 backbone LP-collapses to one community, and Q of the
    // whole graph as one community is identically 0 (e_c = m, d_c = 2m
    // -> 4m² − 4m² = 0) — the formula's built-in sanity anchor
    assert(r.getLong(1) >= 1L)
    if (r.getLong(1) == 1L) assert(r.getLong(2) == 0L)
    assert(r.getLong(2) >= -1000000L && r.getLong(2) <= 1000000L)
  }

  test("temperature flattening raises mix entropy toward ln(k)") {
    val rows = SparkEntry.queries("pipeline_mix_entropy")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    val raw = rows("raw"); val mixed = rows("mixed")
    assert(mixed.getLong(3) > raw.getLong(3),
      "flattening must increase the mix entropy")
    val lnK = math.log(raw.getLong(1).toDouble) * 1e6
    assert(mixed.getLong(3) <= lnK + raw.getLong(1),
      s"entropy cannot exceed ln(k): ${mixed.getLong(3)} vs $lnK")
  }

  test("association rules: confidences bounded, lift sorted") {
    val rows = SparkEntry.queries("join_assoc_rules")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= 1000000L && r.getLong(4) <= 1000000L)
    }
    val lifts = rows.map(_.getLong(5))
    assert(lifts.zip(lifts.tail).forall { case (x, y) => x >= y })
  }
}
