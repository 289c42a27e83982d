package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the r20 hardening wave — the ADVICE r19 fixes
  * that the 525/525 hash gate could NOT catch because oracle and
  * engine shared the blind spot:
  *   - chi² now densifies the (type × dow) cell grid, so a
  *     zero-observation cell contributes its full E term (pinned here
  *     against a hand-computed BigInt mirror on a deliberately sparse
  *     synthetic grid);
  *   - the streaming Holt fold drops contract-violating earlier-day
  *     events instead of corrupting (l, b), surfacing them in a
  *     visible `late` counter;
  *   - degree-Gini accumulates in DECIMAL(38,0) (overflow headroom
  *     pinned by range bounds on the fixture). */
class Round20Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("chi-squared densifies zero-observation cells into the statistic") {
    val sparkS = spark; import sparkS.implicits._
    import java.nio.file.Files
    // two types, two observed weekdays, but type b NEVER fires on
    // dow(day0): the (b, dow0) cell has O = 0 and must still
    // contribute (R·C)²·1e6 div (N·R·C) = R·C·1e6 div N
    val day = 86400000000000L // one day in nanos
    def ev(id: Long, typ: String, d: Long) =
      (id, d * day + id, id, typ, 1.0)
    val rows =
      (1L to 6L).map(ev(_, "a", 0)) ++ // a on day0 (dow 4): 6
      (7L to 9L).map(ev(_, "a", 1)) ++ // a on day1 (dow 5): 3
      (10L to 14L).map(ev(_, "b", 1))  // b on day1 only: 5
    val dir = Files.createTempDirectory("chi2_sparse_").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.queries("stats_chi2_independence")(spark, dir)
      .collect()(0)
    // hand mirror over the DENSE 2×2 grid (BigInt-exact)
    val cells = Seq( // (O, R, C)
      (BigInt(6), BigInt(9), BigInt(6)),  // (a, dow0)
      (BigInt(3), BigInt(9), BigInt(8)),  // (a, dow1)
      (BigInt(0), BigInt(5), BigInt(6)),  // (b, dow0)  <- the zero cell
      (BigInt(5), BigInt(5), BigInt(8)))  // (b, dow1)
    val n = BigInt(14)
    val want = cells.map { case (o, r, c) =>
      val d = o * n - r * c
      (d * d * 1000000) / (n * r * c)
    }.sum
    assert(got.getAs[Long]("chi2_ppm") == want.toLong,
      "engine chi² must equal the dense-grid mirror")
    assert(got.getAs[Long]("dof") == 1L && got.getAs[Long]("n_events") == 14L)
    // the zero cell alone carries R·C·1e6 div N ≈ 2.14e6 ppm — the
    // statistic must exceed the sparse (observed-cells-only) sum by it
    val sparse = cells.filter(_._1 > 0).map { case (o, r, c) =>
      val d = o * n - r * c; (d * d * 1000000) / (n * r * c)
    }.sum
    assert(want > sparse, "fixture must exercise the densified path")
  }

  test("streaming holt drops late earlier-day events and counts them visibly") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val sparkS = spark; import sparkS.implicits._
    val day = 86400000000000L
    def write(dir: String, name: String, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      val tmp = Files.createTempDirectory("holt_late_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(dir, name)); Thread.sleep(20)
    }
    def run(dir: String, qn: String) = {
      val st = graft.streaming.CdcStream.readEventStream(spark, dir,
        maxFilesPerTrigger = 1)
      val q = graft.streaming.HoltStream.levels(st).toDF()
        .writeStream.format("memory").queryName(qn)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = spark.table(qn)
      val mx = out.agg(max(col("seq"))).collect()(0).getLong(0)
      out.filter(col("seq") === mx)
        .select("nFolded", "l", "b", "pendingDay", "pendingSum", "late")
        .collect()(0)
    }
    // in-order baseline: day0 = 100, day1 = 40, day2 = 70 (cents)
    val base = Seq(
      (1L, 0 * day + 1, 1L, "x", 1.00),
      (2L, 1 * day + 1, 1L, "x", 0.40),
      (3L, 2 * day + 1, 1L, "x", 0.70))
    val d1 = Files.createTempDirectory("holt_inorder_").toString
    write(d1, "w0.parquet", base.take(2)); write(d1, "w1.parquet", base.drop(2))
    val clean = run(d1, "holt_late_clean")
    assert(clean.getAs[Long]("late") == 0L)
    // same stream, but wave 2 smuggles a DAY-0 event after day 2 opened:
    // it must be dropped (state identical to the clean run) and counted
    val d2 = Files.createTempDirectory("holt_late_").toString
    write(d2, "w0.parquet", base.take(2))
    write(d2, "w1.parquet", base.drop(2) :+ (4L, 0 * day + 2, 1L, "x", 9.99))
    val dirty = run(d2, "holt_late_dirty")
    assert(dirty.getAs[Long]("late") == 1L,
      "the contract-violating event must be visible in the counter")
    for (c <- Seq("nFolded", "l", "b", "pendingDay", "pendingSum"))
      assert(dirty.getAs[Long](c) == clean.getAs[Long](c),
        s"$c must be untouched by the dropped late event")
  }

  test("kruskal-wallis H is non-negative and tie-correction only inflates") {
    val r = EventQueries.queries("stats_kruskal_wallis")(spark, sfDir)
      .collect()(0)
    val h = r.getAs[Long]("h_ppm"); val hc = r.getAs[Long]("h_tiecorr_ppm")
    assert(h >= 0, s"H=$h must be non-negative (up to rank truncation)")
    assert(hc >= h, "dividing by the tie factor <= 1 can only inflate H")
    assert(r.getAs[Long]("dof") == r.getAs[Long]("k_groups") - 1)
  }

  test("fano factor is non-negative and span covers the active days") {
    val rows = EventQueries.queries("stats_fano_burstiness")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("fano_ppm") >= 0)
      assert(r.getAs[Long]("active_days") <= r.getAs[Long]("span_days"))
    }
  }

  test("odds-ratio cells partition the type counts and OR is positive") {
    val rows = EventQueries.queries("stats_odds_ratio")(spark, sfDir)
      .collect()
    val byType = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val cells = Seq("a", "b", "c", "d").map(r.getAs[Long](_)).sum
      assert(cells == byType(r.getAs[String]("event_type")))
      assert(r.getAs[Long]("or_ppm") > 0)
    }
  }

  test("herfindahl is bounded by [1/n_users, 1] and eff users by n_users") {
    EventQueries.queries("stats_herfindahl")(spark, sfDir)
      .collect().foreach { r =>
        val hhi = r.getAs[Long]("hhi_ppm"); val nu = r.getAs[Long]("n_users")
        assert(hhi <= 1000000 && hhi >= 1000000 / nu - 1)
        assert(r.getAs[Long]("eff_users_x1000") <= nu * 1000)
      }
  }

  test("user-overlap jaccard is a symmetric-pair table bounded by marginals") {
    val rows = EventQueries.queries("events_user_overlap")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      val i = r.getAs[Long]("n_both")
      assert(i <= math.min(r.getAs[Long]("na"), r.getAs[Long]("nb")))
      assert(r.getAs[Long]("jaccard_ppm") <= 1000000)
    }
  }

  test("tukey fences bracket the quartiles and outliers lie outside") {
    EventQueries.queries("stats_tukey_outliers")(spark, sfDir)
      .collect().foreach { r =>
        assert(r.getAs[Long]("q1") <= r.getAs[Long]("q3"))
        assert(r.getAs[Long]("lo_fence") <= r.getAs[Long]("q1"))
        assert(r.getAs[Long]("hi_fence") >= r.getAs[Long]("q3"))
        assert(r.getAs[Long]("n_low") + r.getAs[Long]("n_high") <
          r.getAs[Long]("n"), "fences must not reject the bulk")
      }
  }

  test("rich club density rises toward the hubs and stays a valid ppm") {
    val rows = operators.GraphOps.richClub(spark, sfDir, Seq(1L, 2L, 4L, 8L))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("phi_ppm") >= 0 &&
        r.getAs[Long]("phi_ppm") <= 1000000)
      assert(r.getAs[Long]("e_k") <=
        r.getAs[Long]("n_k") * (r.getAs[Long]("n_k") - 1) / 2)
    }
  }

  test("bfs depths are contiguous from 0 and each shell is reachable") {
    val rows = operators.GraphOps.bfsDepths(spark, sfDir, maxDepth = 4)
      .collect()
    val byDepth = rows.groupBy(_.getAs[Long]("depth")).view.mapValues(_.length)
    assert(byDepth.getOrElse(0L, 0) == 1, "exactly one seed at depth 0")
    val depths = byDepth.keys.toSeq.sorted
    assert(depths == (0L to depths.max).toSeq, "no empty shell gaps")
    val ids = rows.map(_.getAs[Long]("node"))
    assert(ids.distinct.length == ids.length, "min-depth labels are unique")
  }

  test("simpson diversity complements to 1e6 and collision mass is sane") {
    TextQueries.queries("text_simpson_diversity")(spark, sfDir)
      .collect().foreach { r =>
        val sp = r.getAs[Long]("simpson_ppm")
        assert(sp >= 0 && sp <= 1000000)
        assert(r.getAs[Long]("diversity_ppm") == 1000000L - sp)
        assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
      }
  }

  test("streaming stats twins equal their batch folds at sf0.001") {
    for ((st, ba) <- Seq(
        "stream_odds_ratio" -> "stats_odds_ratio",
        "stream_fano_burstiness" -> "stats_fano_burstiness",
        "stream_herfindahl" -> "stats_herfindahl")) {
      val got = StreamingQueries.queries(st)(spark, sfDir)
        .collect().map(_.toString).toSeq
      val want = EventQueries.queries(ba)(spark, sfDir)
        .collect().map(_.toString).toSeq
      assert(got == want, s"$st drifted from $ba")
    }
  }

  test("split centroid cos2 is a signed ppm and halves partition each label") {
    val rows = SimilarityQueries.queries("sim_split_centroid_check")(
      spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sizes = Tables.embeddings(spark, sfDir)
      .groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val c2 = r.getAs[Long]("cos2_signed_ppm")
      assert(c2 >= -1000000 && c2 <= 1000000)
      assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") ==
        sizes(r.getAs[Int]("label")))
    }
  }

  test("term burstiness is bounded below by 1000 and df by cf") {
    val rows = TextQueries.queries("text_term_burstiness")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("df") <= r.getAs[Long]("cf"))
      assert(r.getAs[Long]("burst_x1000") >= 1000,
        "cf >= df forces burst >= 1.0")
    }
  }

  test("peak census is bounded by the window census") {
    EventQueries.queries("events_peak_detection")(spark, sfDir)
      .collect().foreach { r =>
        assert(r.getAs[Long]("n_peaks") <= r.getAs[Long]("n_windows"))
        assert(r.getAs[Long]("max_peak_n") >= 1)
      }
  }

  test("id gap audit reconciles rows, ids, and the id span") {
    val r = RelationalQueries.queries("dq_id_gap_audit")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("n_ids") <= r.getAs[Long]("n_rows"))
    assert(r.getAs[Long]("n_gaps") ==
      r.getAs[Long]("max_id") - r.getAs[Long]("min_id") + 1 -
        r.getAs[Long]("n_ids"))
    assert(r.getAs[Long]("n_dups") ==
      r.getAs[Long]("n_rows") - r.getAs[Long]("n_ids"))
  }

  test("split balance chi2 is non-negative with the marginal dof") {
    val r = PipelineQueries.queries("pipeline_split_balance")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("chi2_ppm") >= 0)
    val langs = Tables.documents(spark, sfDir)
      .select(col("lang")).distinct().count()
    assert(r.getAs[Long]("dof") == 2 * (langs - 1),
      "3 splits and the fixture's language marginals set the dof")
  }

  test("moments profile: JB >= 0 and squared-skew consistency holds") {
    val rows = EventQueries.queries("stats_moments_profile")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val jb = r.getAs[Double]("jarque_bera")
      assert(jb >= 0, "JB is a sum of squares")
      // ex-kurtosis is bounded below by g1^2 - 2 (Pearson inequality)
      val g1 = r.getAs[Double]("skewness")
      val g2 = r.getAs[Double]("ex_kurtosis")
      assert(g2 >= g1 * g1 - 2 - 1e-6)
    }
  }

  test("reconciliation audit counts reconcile and ppm is complementary") {
    val r = RelationalQueries.queries("dq_reconciliation_audit")(
      spark, sfDir).collect()(0)
    val n = r.getAs[Long]("n_orders"); val m = r.getAs[Long]("n_match")
    assert(m <= n)
    assert(r.getAs[Long]("mismatch_ppm") == (n - m) * 1000000L / n)
    assert(r.getAs[Long]("mean_diff_cents") <=
      r.getAs[Long]("max_diff_cents"))
  }

  test("hapax counts are bounded by types and tokens") {
    TextQueries.queries("text_hapax_profile")(spark, sfDir)
      .collect().foreach { r =>
        assert(r.getAs[Long]("n_hapax") <= r.getAs[Long]("n_types"))
        assert(r.getAs[Long]("hapax_type_ppm") >=
          r.getAs[Long]("hapax_token_ppm"),
          "types <= tokens forces the type share to dominate")
      }
  }

  test("pythagorean mean chain: harmonic <= geometric <= arithmetic") {
    val rows = RelationalQueries.queries("agg_geo_harmonic_means")(
      spark, sfDir).collect()
    val am = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("am")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val g = r.getAs[Double]("geo_mean_qty")
      val h = r.getAs[Double]("harmonic_mean_qty")
      // 1e-3 slack: the quantized-integer folds truncate per row
      assert(h <= g + 1e-3, s"harmonic $h must not exceed geometric $g")
      assert(g <= am(r.getAs[String]("l_returnflag")) + 1e-3)
    }
  }

  test("streaming peak detection equals the batch fold at sf0.001") {
    val got = StreamingQueries.queries("stream_peak_detection")(
      spark, sfDir).collect().map(_.toString).toSeq
    val want = EventQueries.queries("events_peak_detection")(
      spark, sfDir).collect().map(_.toString).toSeq
    assert(got == want, "stream peak twin drifted from batch")
  }

  test("kappa is bounded by accuracy's chance-corrected form") {
    val r = TextQueries.queries("text_langid_kappa")(spark, sfDir)
      .collect()(0)
    val k = r.getAs[Long]("kappa_ppm")
    assert(k >= -1000000 && k <= 1000000)
    // kappa <= accuracy always (pe >= 0); equality only at pe = 0
    assert(k <= r.getAs[Long]("accuracy_ppm"))
  }

  test("vocab overlap is a bounded pair table over the language grid") {
    val rows = TextQueries.queries("text_vocab_overlap")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("lang_a") < r.getAs[String]("lang_b"))
      assert(r.getAs[Long]("n_shared") <=
        math.min(r.getAs[Long]("va"), r.getAs[Long]("vb")))
    }
  }

  test("brown-forsythe F is non-negative with additive dofs") {
    val r = EventQueries.queries("stats_levene_bf")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("f_ppm") >= 0)
    assert(r.getAs[Long]("dof1") + r.getAs[Long]("dof2") + 1 ==
      r.getAs[Long]("n"))
  }

  test("temperature sweep: acceptance rises monotonically as tau falls") {
    val rows = PipelineQueries.queries("pipeline_temperature_sweep")(
      spark, sfDir).collect()
      .map(r => (r.getAs[Long]("tau_x100"), r.getAs[String]("lang")) ->
        r.getAs[Long]("accept_ppm")).toMap
    val langs = rows.keys.map(_._2).toSeq.distinct
    langs.foreach { l =>
      assert(rows((25L, l)) >= rows((50L, l)) &&
        rows((50L, l)) >= rows((100L, l)),
        s"flattening must not reduce acceptance for $l")
    }
    // the rarest language is always fully kept (r = 1 at every tau)
    assert(rows.values.max == 1000000L)
  }

  test("cos2 histogram buckets are valid and cover all consecutive pairs") {
    val rows = SimilarityQueries.queries("sim_pair_cos2_histogram")(
      spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val n = Tables.embeddings(spark, sfDir).count()
    assert(total == n - 1, "every consecutive pair lands in one bucket")
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 20)
    }
  }

  test("streaming cusum equals batch when days split across micro-batches") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("cusum_waves_").toString
    val e = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val days = e.select(expr("ts div 86400000000000").as("d")).distinct()
      .orderBy(col("d")).collect().map(_.getLong(0)).toSeq
    days.grouped(math.max(1, (days.length + 2) / 3)).zipWithIndex
      .foreach { case (ds, i) =>
        val tmp = Files.createTempDirectory("cusum_part_").toString
        e.filter(expr("ts div 86400000000000").isin(ds: _*))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath, Paths.get(dir, s"w$i.parquet"))
        Thread.sleep(20)
      }
    val targets = Tables.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(expr("sum(cents) div count(1)").as("mean_cents"))
    val st = graft.streaming.CdcStream.readEventStream(spark, dir,
      maxFilesPerTrigger = 1)
    val q = graft.streaming.CusumStream.levels(st, targets).toDF()
      .writeStream.format("memory").queryName("cusum_waves_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("cusum_waves_out")
    val fin = out.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("typ")).orderBy(col("seq").desc)))
      .filter(col("rk") === 1)
      .select(col("typ").as("event_type"), col("n"),
        col("target").as("mean_cents"), col("maxC").as("max_cusum"),
        col("minC").as("min_cusum"), col("absDev").as("abs_dev"))
      .withColumn("drift",
        greatest(col("max_cusum"), -col("min_cusum")) * 10 >=
          col("abs_dev"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq
    val want = EventQueries.queries("events_cusum")(spark, sfDir)
      .select("event_type", "n", "mean_cents", "max_cusum", "min_cusum",
        "abs_dev", "drift")
      .collect().map(_.toString).toSeq
    assert(fin == want, "multi-batch cusum drifted from the batch fold")
  }

  test("quantile drift deltas reconcile with their pre/post quantiles") {
    val rows = EventQueries.queries("stats_quantile_drift")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_delta_cents") ==
        r.getAs[Long]("p50_post") - r.getAs[Long]("p50_pre"))
      assert(r.getAs[Long]("p90_pre") >= r.getAs[Long]("p50_pre"))
      assert(r.getAs[Long]("p90_post") >= r.getAs[Long]("p50_post"))
    }
  }

  test("component size histogram conserves the node count") {
    val hist = GraphQueries.queries("graph_component_sizes")(spark, sfDir)
      .collect()
    val nodes = operators.GraphOps.labelPropagation(spark, sfDir, rounds = 4)
      .count()
    val mass = hist.map(r =>
      r.getAs[Long]("size") * r.getAs[Long]("n_components")).sum
    assert(mass == nodes, "Σ size·count must equal the node census")
  }

  test("intrinsic dimension is positive and bounded by the ambient dim") {
    val r = SimilarityQueries.queries("sim_intrinsic_dim")(spark, sfDir)
      .collect()(0)
    val id = r.getAs[Long]("id_x1000")
    assert(id > 0)
    assert(id <= 64 * 1000 * 4,
      "two-NN estimate should not wildly exceed the 64-dim ambient space")
    assert(r.getAs[Long]("mean_ln_ppm") > 0,
      "d2 >= d1 forces a non-negative mean log ratio")
  }

  test("ljung-box Q is non-negative over the fixed 3-lag grid") {
    val rows = EventQueries.queries("stats_ljung_box")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("q_lb") >= 0)
      assert(r.getAs[Long]("k_lags") == 3)
    }
  }

  test("streaming user overlap equals the batch fold at sf0.001") {
    val got = StreamingQueries.queries("stream_user_overlap")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val want = EventQueries.queries("events_user_overlap")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(got == want, "stream overlap twin drifted from batch")
  }

  test("bowker symmetry statistic is non-negative over symmetrized pairs") {
    val r = TextQueries.queries("text_langid_bowker")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("bowker_ppm") >= 0)
    // a one-sided pair (n_ij > 0, n_ji = 0) must still contribute:
    // pairs counted >= pairs visible from one orientation alone
    assert(r.getAs[Long]("n_pairs") >= 1)
  }

  test("degree-clustering profile conserves the LCC node census") {
    val prof = GraphQueries.queries("graph_degree_clustering_profile")(
      spark, sfDir).collect()
    val nodes = operators.GraphOps.localClustering(spark, sfDir).count()
    assert(prof.map(_.getAs[Long]("n_nodes")).sum == nodes)
    prof.foreach { r =>
      val m = r.getAs[Long]("mean_lcc_ppm")
      assert(m >= 0 && m <= 1000000)
    }
  }

  test("split novelty is a valid ppm and seen never exceeds the census") {
    val rows = PipelineQueries.queries("pipeline_split_novelty")(
      spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("split")).sorted.toSeq ==
      Seq("test", "val"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seen") <= r.getAs[Long]("n_shingles"))
      val p = r.getAs[Long]("novelty_ppm")
      assert(p >= 0 && p <= 1000000)
    }
  }

  test("label margin audit partitions each label's pair census") {
    val rows = SimilarityQueries.queries("sim_label_margin_audit")(
      spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    val sizes = Tables.embeddings(spark, sfDir)
      .groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val l = r.getAs[Int]("label"); val nl = sizes(l)
      // intra pairs land twice on the same label (once per endpoint):
      // the count is ORDERED pairs; the mean is unaffected
      assert(r.getAs[Long]("n_intra") == nl * (nl - 1))
      assert(r.getAs[Long]("n_inter") == nl * (n - nl))
      assert(r.getAs[Long]("margin_e6") ==
        r.getAs[Long]("intra_cos_e6") - r.getAs[Long]("inter_cos_e6"))
    }
  }

  test("shingle df histogram conserves the distinct-shingle census") {
    val hist = TextQueries.queries("dedup_shingle_df_hist")(spark, sfDir)
      .collect()
    val toks = operators.TextOps.tokens(col("text"))
    val distinctShingles = Tables.documents(spark, sfDir)
      .select(explode(array_distinct(operators.TextOps.hashedShingles(
        operators.TextOps.shingles(toks)))).as("h"))
      .select(col("h")).distinct().count()
    assert(hist.map(_.getAs[Long]("n_shingles")).sum == distinctShingles)
    assert(hist.map(_.getAs[Long]("df")).forall(_ >= 1))
  }

  test("degree gini stays a valid ppm under the widened decimal accumulators") {
    val r = GraphQueries.queries("graph_degree_gini")(spark, sfDir)
      .collect()(0)
    val g = r.getAs[Long]("gini_ppm")
    assert(g >= 0 && g < 1000000, s"gini $g outside [0, 1e6)")
    assert(r.getAs[Long]("n") > 0 && r.getAs[Long]("sx") > 0)
  }

  test("blb brackets agree with the exact bootstrap at fixture scale") {
    def brackets(name: String): Map[String, (Long, Long, Long)] =
      EventQueries.queries(name)(spark, sfDir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("mean_cents"), r.getAs[Long]("lo_cents"),
            r.getAs[Long]("hi_cents")))).toMap
    val exact = brackets("stats_bootstrap_ci")
    val blb = brackets("stats_bootstrap_blb")
    assert(blb.keySet == exact.keySet)
    blb.foreach { case (t, (mean, lo, hi)) =>
      val (emean, elo, ehi) = exact(t)
      assert(mean == emean, s"$t: point estimates must be identical")
      assert(lo <= mean && mean <= hi, s"$t: BLB bracket excludes the mean")
      assert(lo <= ehi && elo <= hi, s"$t: brackets do not overlap")
      val (w, ew) = (hi - lo, ehi - elo)
      assert(w * 2 >= ew && ew * 2 >= w,
        s"$t: bracket widths diverge (blb=$w exact=$ew)")
    }
  }

  test("jackknife brackets contain the mean and overlap the bootstrap's") {
    val boot = EventQueries.queries("stats_bootstrap_ci")(spark, sfDir)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("lo_cents"), r.getAs[Long]("hi_cents")))).toMap
    val jk = EventQueries.queries("stats_jackknife_ci")(spark, sfDir)
      .collect()
    assert(jk.map(_.getAs[String]("event_type")).toSet == boot.keySet)
    jk.foreach { r =>
      val (t, mean) = (r.getAs[String]("event_type"),
        r.getAs[Long]("mean_cents"))
      val (lo, hi) = (r.getAs[Long]("lo_cents"), r.getAs[Long]("hi_cents"))
      assert(r.getAs[Double]("se_cents") > 0, s"$t: degenerate SE")
      assert(lo <= mean && mean <= hi, s"$t: bracket excludes the mean")
      val (blo, bhi) = boot(t)
      assert(lo <= bhi && blo <= hi, s"$t: jackknife/bootstrap disjoint")
    }
  }

  test("pq distortion reports every subspace over the full corpus") {
    val n = Tables.embeddings(spark, sfDir).count()
    val rows = SimilarityQueries.queries("sim_pq_distortion")(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[Long]("s")).toSeq == (0L until 8L),
      "missing subspaces")
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == n, "a subspace dropped corpus rows")
      assert(r.getAs[Long]("mse_e6") >= 0)
    }
  }

  test("forecast backtest: seasonal-naive beats or prices against naive sanely") {
    val rows = EventQueries.queries("events_forecast_backtest")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n7") <= r.getAs[Long]("n1") - 6,
        "lag-7 grid cannot have more points than lag-1 minus 6")
      assert(r.getAs[Long]("mae_naive_cents") >= 0)
      assert(r.getAs[Long]("mase_ppm") > 0, "degenerate MASE")
    }
  }

  test("changepoint shift equals the post/pre mean difference") {
    val rows = EventQueries.queries("events_changepoint")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("shift_cents") ==
        r.getAs[Long]("post_mean_cents") - r.getAs[Long]("pre_mean_cents"))
      assert(r.getAs[Long]("pre_mean_cents") > 0)
    }
  }

  test("cluster size histogram conserves the clustered-doc census") {
    val cl = TextQueries.queries("dedup_clusters")(spark, sfDir).count()
    val rows = TextQueries.queries("dedup_cluster_size_hist")(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == cl,
      "histogram lost or invented clustered docs")
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 2,
        "a singleton appeared in the pair-walk census")
      assert(r.getAs[Long]("n_removable") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_clusters"))
    }
  }

  test("tost margin and se are positive and the verdict matches the ci") {
    val r = EventQueries.queries("stats_tost_equivalence")(spark, sfDir)
      .collect()(0)
    val (d, se, m) = (r.getAs[Double]("delta_cents"),
      r.getAs[Double]("se_cents"), r.getAs[Double]("margin_cents"))
    assert(se > 0 && m > 0)
    // re-derive the verdict from the rounded report within tolerance
    val inside = d + 1.645 * se < m + 0.001 && d - 1.645 * se > -m - 0.001
    if (r.getAs[Boolean]("equivalent")) assert(inside)
  }

  test("seasonal indices sum to ~zero and adjustment shrinks deviation") {
    val rows = EventQueries.queries("events_seasonal_adjust")(spark, sfDir)
      .collect()
    assert(rows.length == 7)
    val wsum = rows.map(r => r.getAs[Long]("idx_cents") *
      r.getAs[Long]("n_days")).sum
    val nDays = rows.map(_.getAs[Long]("n_days")).sum
    // Σ n_d·idx_d = Σy − nd·grand ∈ [0, nd) up to the floor-div losses
    assert(math.abs(wsum) <= nDays * 7,
      s"weighted index sum $wsum violates the decomposition identity")
    val r0 = rows(0)
    assert(r0.getAs[Long]("dev_after") <= r0.getAs[Long]("dev_before"),
      "the seasonal adjustment inflated the deviation mass")
  }

  test("quality sweep retention is monotone non-increasing in the bar") {
    val rows = PipelineQueries.queries("pipeline_quality_sweep")(
      spark, sfDir).collect()
    val kept = rows.map(_.getAs[Long]("n_tokens"))
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b },
      "a higher quality bar kept more tokens")
    assert(rows.map(_.getAs[Long]("kept_ppm")).forall(p =>
      p >= 0 && p <= 1000000L))
  }

  test("anova decomposition is non-negative with a positive F") {
    val r = EventQueries.queries("stats_anova_f")(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("ssb_floor") >= 0 && r.getAs[Long]("ssw_floor") > 0)
    assert(r.getAs[Double]("f_stat") >= 0)
    assert(r.getAs[Long]("k") > 1 && r.getAs[Long]("n") > r.getAs[Long]("k"))
  }

  test("bot verdict is exactly the 2-of-3 rule over its own flags") {
    val rows = EventQueries.queries("events_bot_rules")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val votes = Seq("rate_flag", "burst_flag", "night_flag")
        .count(r.getAs[Boolean])
      assert(r.getAs[Boolean]("bot_suspect") == (votes >= 2))
      assert(r.getAs[Long]("night_ppm") <= 1000000L)
    }
  }

  test("streamed source mix shares tile the token mass") {
    val rows = StreamingQueries.queries("stream_source_mix")(spark, sfDir)
      .collect()
    val shares = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(shares <= 1000000L && shares > 1000000L - rows.length,
      s"shares $shares do not tile ppm space")
  }

  test("image keep verdict is the conjunction of its four screens") {
    val rows = MultimodalQueries.queries("mm_image_rules")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fired = Seq("too_small", "extreme_aspect", "low_contrast", "dark")
        .exists(r.getAs[Boolean])
      assert(r.getAs[Boolean]("kept") == !fired)
    }
  }

  test("waterfill allocation exhausts the budget within n sources slack") {
    val rows = PipelineQueries.queries("pipeline_mix_waterfill")(
      spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("cap_tokens")).sum
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    val b = total / 2
    // Σ min(cap, λ) ≤ B, and the integer level leaves < n tokens unused
    assert(alloc <= b && alloc > b - rows.length,
      s"allocation $alloc misses the budget $b")
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap_tokens"))
      assert(r.getAs[Boolean]("truncated") ==
        (r.getAs[Long]("cap_tokens") > r.getAs[Long]("water_level")))
    }
  }

  test("ivf probe sweep traces a monotone recall/cost frontier") {
    val rows = SimilarityQueries.queries("sim_ann_ivf_probe_sweep")(
      spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_probe")).toSeq == Seq(1L, 2L, 4L, 8L))
    val rec = rows.map(_.getAs[Long]("recall_ppm"))
    val cost = rows.map(_.getAs[Long]("n_candidates"))
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      "recall fell as probes widened")
    assert(cost.zip(cost.tail).forall { case (a, b) => a < b },
      "candidate cost must strictly grow with nProbe")
  }

  test("hll intersection inclusion-exclusion stays inside its tolerance") {
    val r = RelationalQueries.queries("agg_hll_intersect")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Boolean]("within_tol"), "estimate left the 20% band")
    assert(r.getAs[Long]("n_both") <= r.getAs[Long]("n_a") &&
      r.getAs[Long]("n_both") <= r.getAs[Long]("n_b"))
  }

  test("markov stationary mass survives 16 floored power iterations") {
    val rows = EventQueries.queries("events_markov_stationary")(spark, sfDir)
      .collect()
    val types = Tables.events(spark, sfDir)
      .select(col("event_type")).distinct().count()
    assert(rows.length.toLong == types, "a state fell out of the support")
    val mass = rows.map(_.getAs[Long]("pi_ppm")).sum
    // each of 16 steps loses < k ppm per state to the floors
    assert(mass <= 1000000L && mass > 1000000L - 16 * types * types - types,
      s"stationary mass $mass drifted outside the floor tolerance")
  }

  test("permutation test p-value is a valid fraction over all 64 draws") {
    val r = EventQueries.queries("stats_permutation_test")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("n_perms") == 64L, "a permutation draw was dropped")
    val p = r.getAs[Long]("p_x1000")
    assert(p >= 0 && p <= 1000)
    assert(r.getAs[Long]("n_extreme") <= 64L)
  }

  test("embedding drift cosine is a valid similarity over both halves") {
    val n = Tables.embeddings(spark, sfDir).count()
    val rows = SimilarityQueries.queries("sim_embedding_drift")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => r.getAs[Long]("n_pre") + r.getAs[Long]("n_post"))
      .sum == n, "halves do not partition the corpus")
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_halves")
      assert(c >= -1.0 && c <= 1.0, s"cosine $c out of range")
    }
  }

  test("harmonic centrality hub probes are bounded by their reach") {
    val rows = GraphQueries.queries("graph_harmonic_centrality")(spark, sfDir)
      .collect()
    assert(rows.length == 10, "expected one row per hub probe")
    rows.foreach { r =>
      val (n, h) = (r.getAs[Long]("n_reached"), r.getAs[Long]("harmonic_ppm"))
      // every reached node contributes (250000, 1000000] ppm
      assert(h > n * 250000L && h <= n * 1000000L,
        s"harmonic $h outside its reach bound for n=$n")
    }
  }

  test("threshold sweep is monotone and densified down to zero rows") {
    val rows = TextQueries.queries("dedup_threshold_sweep")(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[Long]("threshold_x1000")).toSeq ==
      Seq(500L, 600L, 700L, 800L, 900L))
    val pairs = rows.map(_.getAs[Long]("n_pairs"))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b },
      "pair count must fall as the threshold rises")
    rows.foreach(r => assert(r.getAs[Long]("n_docs_dropped") <=
      r.getAs[Long]("n_pairs")))
  }

  test("power analysis is self-consistent with the per-user metric") {
    val r = EventQueries.queries("events_power_analysis")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("n") == r.getAs[Long]("n0") + r.getAs[Long]("n1"))
    assert(r.getAs[Double]("sd_cents") > 0)
    // MDE shrinks with n: it must be far below the mean on this fixture
    assert(r.getAs[Double]("mde_cents") > 0 &&
      r.getAs[Long]("n_per_arm_5pct") > 0)
  }

  test("adaptive mrl probe clears the 0.8 recall floor (VERDICT r19 #1)") {
    val rows = SimilarityQueries.queries("sim_ann_mrl_ivf_recall")(
      spark, sfDir).collect()
    val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(mean >= 0.8, s"adaptive MRL-over-IVF recall@3 $mean < 0.8")
  }

  test("adaptive mrl probe still prunes prefix rows via partition pruning") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val table = SimilarityQueries.base(spark, sfDir, SimilarityQueries.mrl)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = emb.filter(col("vec_id") === 0)
      // a tight 5% mass target probes ~1-2 of the √N cells — the scan
      // must show a DynamicPruning partition filter AND read fewer
      // prefix files than exist (identical to the fixed-nProbe pin)
      val probe = operators.VectorOps.probeMrlIndexIvfAdaptive(spark,
        table, one, k = 3, prefixDims = 32, shortlist = 20,
        massTargetPpm = 50000L)
      def nodes(p: SparkPlan): Seq[SparkPlan] =
        (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
      val scans = nodes(probe.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("prefix")) => f
      }
      assert(scans.nonEmpty, "no file scan over the prefix table found")
      assert(scans.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        "no prefix scan carries a DPP filter")
      probe.count()
      val pruned = scans.filter(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning")))
      val filesRead = pruned.map(_.metrics("numFiles").value).min
      val totalFiles = spark.table(s"${table}_prefix")
        .select(input_file_name()).distinct().count()
      assert(filesRead < totalFiles,
        s"adaptive probe read all $totalFiles prefix files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
