package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexFamily, VectorOps}

/** Gates the persisted IVF index family ([[VectorOps.writeIvfIndex]] /
  * [[VectorOps.probeIvfIndex]] and the SQ8 twins) — the vector twin of
  * the band-index epoch/probe contract: (1) each probe is
  * result-identical to its in-memory pass with the same parameters, and
  * (2) the probe plan physically reads ONLY the probed lists — the
  * `partitionBy(list_id)` layout + dynamic partition pruning turn "scan
  * the corpus" into "scan nProbe/K of the corpus", which is the entire
  * point of the index at 100 TB (and for SQ8, those pruned partitions
  * hold int8 codes — the 4× payload cut compounds the partition cut). */
class IvfIndexSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  test("probe matches the in-memory IVF pass exactly") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = SimilarityQueries.ivfK(emb)
    val table = ivfTable(emb, k, sq8 = false)
    val probe = VectorOps.probeIvfIndex(spark, table, queries, k = 3, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val direct = VectorOps.ivfTopK(queries, emb, k = 3,
        numCentroids = k, nProbe = 4, trainIters = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val (p, d) = (rows(probe), rows(direct))
    assert(p.nonEmpty, "probe returned nothing")
    assert(p == d)
  }

  test("sq8 probe matches the in-memory IVF-SQ8 pass exactly") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = SimilarityQueries.ivfK(emb)
    val table = ivfTable(emb, k, sq8 = true)
    val probe = VectorOps.probeIvfIndexSq8(spark, table, queries, k = 3, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val direct = VectorOps.ivfTopKSq8(queries, emb, k = 3,
        numCentroids = k, nProbe = 4, trainIters = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val (p, d) = (rows(probe), rows(direct))
    assert(p.nonEmpty, "sq8 probe returned nothing")
    assert(p == d)
    // and the persisted list payload really is int8-in-int codes
    val qe = spark.table(s"${table}_lists").schema("qe").dataType.simpleString
    assert(qe == "array<int>", s"sq8 lists store $qe, expected array<int>")
  }

  test("probe scans only the probed lists (dynamic partition pruning)") {
    assertPrunedProbe(sq8 = false)
  }

  test("sq8 probe scans only the probed lists (dynamic partition pruning)") {
    assertPrunedProbe(sq8 = true)
  }

  /** The pruning contract, shared by both index layouts: DPP expression
    * in the lists scan, no Exchange between the scan and its broadcast
    * join, and a files-read count proving ≤ nProbe of the K partitions
    * were touched. */
  private def assertPrunedProbe(sq8: Boolean): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = ivfTable(emb, k, sq8)
    val nLists = spark.table(s"${table}_lists")
      .select(col("list_id")).distinct().count()
    assert(nLists > 4, s"need >nProbe lists for the pruning assertion, got $nLists")

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // a single query vector probes exactly min(nProbe, K) lists
      val one = emb.filter(col("vec_id") === 0)
      val probe =
        if (sq8) VectorOps.probeIvfIndexSq8(spark, table, one, k = 3, nProbe = 4)
        else VectorOps.probeIvfIndex(spark, table, one, k = 3, nProbe = 4)
      val all = nodes(probe.queryExecution.executedPlan)
      val listScans = all.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
      }
      assert(listScans.nonEmpty, "no file scan over the lists table found")
      // 1. the pruning expression is IN the plan (not relying on luck)
      listScans.foreach { f =>
        assert(f.partitionFilters.exists(_.toString.toLowerCase.contains("dynamicpruning")),
          s"lists scan has no dynamic partition pruning filter:\n${f.partitionFilters}")
      }
      // 2. the lists themselves are never reshuffled: on the root→scan
      //    path, the broadcast join must sit BELOW any Exchange — the
      //    only shuffle containing the scan is the top-k window over the
      //    small already-joined candidate set, never the corpus lists
      //    feeding the join
      def pathTo(p: SparkPlan, t: SparkPlan): Option[List[SparkPlan]] =
        if (p eq t) Some(List(p))
        else p.children.view.flatMap(c => pathTo(c, t)).headOption.map(p :: _)
      listScans.foreach { scan =>
        val path = pathTo(probe.queryExecution.executedPlan, scan)
          .getOrElse(fail("scan not reachable from root"))
        val joinAt = path.lastIndexWhere(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
        assert(joinAt >= 0, "lists scan is not fed through a broadcast join")
        assert(!path.drop(joinAt).exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"Exchange between the lists scan and its broadcast join:\n${path.drop(joinAt)}")
      }
      // 3. runtime proof: files actually read cover ≤ nProbe of the K
      //    list partitions (each list is one partition-dir of 1+ files;
      //    without pruning this would be all of them)
      probe.count()
      val filesRead = listScans.map(_.metrics("numFiles").value).sum
      val totalFiles = spark.table(s"${table}_lists")
        .select(input_file_name()).distinct().count()
      assert(filesRead < totalFiles,
        s"probe read all $totalFiles list files — partition pruning never happened")
      assert(filesRead <= 4 * math.max(1L, totalFiles / nLists) + 4,
        s"probe read $filesRead of $totalFiles files for 4 probed lists of $nLists")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("binary: packSignBits + hamming hand-computed; served probe keeps DPP") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // hand-computed packing: dims 1,3 positive → bits 0,2 in hi; dim 33
    // positive → bit 0 in lo
    val v = Array.tabulate(64)(d =>
      if (d == 0 || d == 2 || d == 32) 1f else -1f)
    val packed = Seq(Tuple1(v)).toDF("embedding")
      .select(VectorOps.packSignBits(col("embedding"), 0, 32).as("hi"),
        VectorOps.packSignBits(col("embedding"), 32, 32).as("lo"))
      .as[(Long, Long)].head()
    assert(packed == ((1L | 4L, 1L)), s"unexpected packing: $packed")
    // hamming: q differs from v in exactly dims 0 and 33 → distance 2
    val q = v.clone(); q(0) = -1f; q(33) = 1f
    val ham = VectorOps.binaryTopK(
        Seq((100L, q)).toDF("vec_id", "embedding"),
        Seq((1L, v)).toDF("vec_id", "embedding"), k = 1)
      .select(col("hamming")).as[Long].head()
    assert(ham == 2L, s"hand-computed hamming must be 2, got $ham")
    // served layout: DPP + no exchange below the broadcast join, the
    // family plan contract
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = "graft_ivf_bin_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_bin_spec_").toString
    try {
      VectorOps.writeIvfIndexBinary(emb, table, path, numCentroids = k,
        trainIters = 2)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val probe = VectorOps.probeIvfIndexBinary(spark, table,
          emb.filter(col("vec_id") === 0), k = 3, nProbe = 4)
        val scans = nodes(probe.queryExecution.executedPlan).collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
        }
        assert(scans.nonEmpty, "no file scan over the binary lists table")
        scans.foreach { f =>
          assert(f.partitionFilters.exists(
            _.toString.toLowerCase.contains("dynamicpruning")),
            s"binary lists scan lost DPP:\n${f.partitionFilters}")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    } finally Seq(s"${table}_cents", s"${table}_lists").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("append: frozen-quantizer assignment, correct partitions, dup findable") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    // dedicated tables — appending to the shared memo tables would
    // mutate what the parity/pruning tests probe
    val table = "graft_ivf_append_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_append_spec_").toString
    VectorOps.writeIvfIndex(emb, table, path, numCentroids = k, trainIters = 2)
    val nBefore = spark.table(s"${table}_lists").count()

    // the batch: copies of vectors 0-19 under new ids
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    IndexFamily.ivf.append(spark, table, batch)

    // 1. only the batch was added — the already-indexed corpus was
    //    neither dropped nor duplicated
    assert(spark.table(s"${table}_lists").count() == nBefore + 20)
    // 2. every appended row sits in the partition the FROZEN quantizer
    //    assigns it to (recomputed independently via the shared
    //    assignLists — the contract that makes the append oracle-able)
    val cents = org.apache.spark.sql.functions.broadcast(
      spark.table(s"${table}_cents"))
    val expected = VectorOps.assignLists(batch, cents)
      .select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val actual = spark.table(s"${table}_lists")
      .filter(col("vec_id") >= 500000)
      .select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected, "appended rows landed in wrong list partitions")
    // 3. the appended twin of a query vector is now findable at
    //    cos_sim 1.0: an identical vector shares its nearest centroid,
    //    and the query's own nearest list is always probed first
    val probe = VectorOps.probeIvfIndex(spark, table,
        emb.filter(col("vec_id") === 3), k = 3, nProbe = 4)
      .filter(col("neighbor_id") === 500003L)
      .select(col("cos_sim")).collect()
    assert(probe.length == 1 && probe.head.getDouble(0) == 1.0,
      "appended duplicate of the query vector not found at cos 1.0")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cents")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_lists")
  }

  test("compaction: one file per list, byte-identical probe results") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = "graft_ivf_compact_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact_spec_").toString
    val cTable = table + "_c"
    val cPath = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact_spec_c_").toString
    try {
      VectorOps.writeIvfIndex(emb, table, path, numCentroids = k, trainIters = 2)
      // two appends → at least one partition carries >1 file group
      (1 to 2).foreach { i =>
        IndexFamily.ivf.append(spark, table,
          emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + i * 500000).as("vec_id"), col("embedding")))
      }
      def filesPerList(t: String): Map[Long, Long] =
        spark.table(s"${t}_lists")
          .select(col("list_id"), input_file_name().as("f"))
          .groupBy(col("list_id"))
          .agg(countDistinct(col("f")).as("nf"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(filesPerList(table).values.exists(_ > 1),
        "appends should have left multi-file partitions to compact")

      IndexFamily.ivf.compact(spark, table, cTable, cPath)
      assert(filesPerList(cTable).values.forall(_ == 1L),
        "compaction must leave exactly one file per list")
      // identical rows → identical probe output
      val q = emb.filter(col("vec_id") < 5)
      val before = rows(VectorOps.probeIvfIndex(spark, table, q, k = 3, nProbe = 4))
      val after = rows(VectorOps.probeIvfIndex(spark, cTable, q, k = 3, nProbe = 4))
      assert(before.nonEmpty && before == after)
    } finally Seq(table, cTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_cents")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_lists")
    }
  }

  test("retrain check: a skewed append flips the verdict") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = "graft_ivf_retrain_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_retrain_spec_").toString
    try {
      VectorOps.writeIvfIndex(emb, table, path, numCentroids = k, trainIters = 2)
      // thresholds pinned just above the fresh index's own signals, so
      // the flip below is forced by the skewed append alone (absolute
      // defaults would make the test hostage to the toy corpus's
      // natural imbalance)
      val fresh = VectorOps.retrainCheck(spark, s"${table}_lists", 1)
        .collect().head
      val skewBar = fresh.getAs[Long]("max_over_mean_x1000") + 1
      val fracBar = fresh.getAs[Long]("top_frac_x1000") + 1
      def verdict() = VectorOps.retrainCheck(spark, s"${table}_lists", 1,
        skewBar, fracBar).collect().head
      val before = verdict()
      assert(!before.getAs[Boolean]("retrain"),
        s"thresholds above the observed signals must not fire: $before")
      assert(before.getAs[Long]("mean_list") ==
        before.getAs[Long]("total_vectors") / before.getAs[Long]("n_lists"))

      // drift, concentrated: 2·N copies of ONE vector — the frozen
      // quantizer routes every copy to the same list, so that list now
      // holds ≥ 2/3 of the corpus and both signals blow through any
      // bar the fresh index could have set
      val n = spark.table(s"${table}_lists").count()
      val copies = spark.range(2 * n).toDF("i")
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding"))))
        .select((col("i") + 500000).as("vec_id"), col("embedding"))
      IndexFamily.ivf.append(spark, table, copies)

      val after = verdict()
      assert(after.getAs[Boolean]("retrain"),
        s"skewed append did not flip the retrain verdict: $after")
      assert(after.getAs[Long]("total_vectors") ==
        before.getAs[Long]("total_vectors") + 2 * n)
      assert(after.getAs[Long]("max_list") >= 2 * n,
        "the hot list should hold every appended copy")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_cents")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_lists")
    }
  }

  test("retrain: new generation over the grown corpus, fresh K, source untouched") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = "graft_ivf_retrain_exec_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val rTable = table + "_r"
    val dTable = table + "_d"
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_retrain_exec_spec_").toString
    val rPath = java.nio.file.Files
      .createTempDirectory("graft_ivf_retrain_exec_spec_r_").toString
    val dPath = java.nio.file.Files
      .createTempDirectory("graft_ivf_retrain_exec_spec_d_").toString
    try {
      VectorOps.writeIvfIndex(emb, table, path, numCentroids = k, trainIters = 2)
      // grow the corpus enough that ⌊√n⌋ — hence the retrained K — rises
      val batch = emb.select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
      IndexFamily.ivf.append(spark, table, batch)
      val nGrown = spark.table(s"${table}_lists").count()
      val srcCents = spark.table(s"${table}_cents").count()

      VectorOps.retrainIvfIndex(spark, table, rTable, rPath)
      // 1. the new quantizer reflects the GROWN corpus: trained (not
      //    copied) centroids, K re-derived from n (≤ because empty
      //    lists drop out of a trained centroid set)
      val kGrown = math.max(4, math.floor(math.sqrt(nGrown.toDouble)).toInt)
      val rCents = spark.table(s"${rTable}_cents").count()
      assert(rCents > srcCents && rCents <= kGrown,
        s"retrained centroid count $rCents (source $srcCents, derived K $kGrown)")
      assert(spark.table(s"${rTable}_lists").count() == nGrown,
        "retrained index must hold exactly the grown corpus")
      // 2. the source (serving) generation is untouched
      assert(spark.table(s"${table}_cents").count() == srcCents)
      assert(spark.table(s"${table}_lists").count() == nGrown)
      // 3. retrain ≡ a fresh build over the union corpus: identical
      //    probes (same deterministic Lloyd/seed/K path — the contract
      //    that makes the retrained generation oracle-able)
      val union = emb.select(col("vec_id"), col("embedding")).unionAll(batch)
      VectorOps.writeIvfIndex(union, dTable, dPath,
        numCentroids = kGrown, trainIters = 2)
      val q = emb.filter(col("vec_id") < 5)
      val viaRetrain = rows(VectorOps.probeIvfIndex(spark, rTable, q, k = 3, nProbe = 4))
      val viaBuild = rows(VectorOps.probeIvfIndex(spark, dTable, q, k = 3, nProbe = 4))
      assert(viaRetrain.nonEmpty && viaRetrain == viaBuild)
    } finally Seq(table, rTable, dTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_cents")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_lists")
    }
  }

  test("sq8 derivation from the float master equals the directly-built SQ8 index") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val fTable = ivfTable(emb, k, sq8 = false)  // shared float master
    val sTable = ivfTable(emb, k, sq8 = true)   // shared direct SQ8 build
    val dTable = "graft_ivf_sq8_derive_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val dPath = java.nio.file.Files
      .createTempDirectory("graft_ivf_sq8_derive_spec_").toString
    try {
      VectorOps.derive(spark, fTable, dTable, dPath, Nil, VectorOps.sq8Lists)
      // the quantizer is the float master's, verbatim
      assert(spark.table(s"${dTable}_cents").collect().toSet ==
        spark.table(s"${fTable}_cents").collect().toSet)
      // the derived lists are the direct SQ8 build's, row for row
      def lists(t: String) = spark.table(s"${t}_lists")
        .select(col("vec_id"), col("list_id"), col("qe"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      assert(lists(dTable) == lists(sTable),
        "derived SQ8 lists differ from the directly-built index")
      // and so are the probes
      val q = emb.filter(col("vec_id") < 5)
      val viaDerived = rows(VectorOps.probeIvfIndexSq8(spark, dTable, q, k = 3, nProbe = 4))
      val viaDirect = rows(VectorOps.probeIvfIndexSq8(spark, sTable, q, k = 3, nProbe = 4))
      assert(viaDerived.nonEmpty && viaDerived == viaDirect)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${dTable}_cents")
      spark.sql(s"DROP TABLE IF EXISTS ${dTable}_lists")
    }
  }

  test("sq8 append: int8 codes in the frozen quantizer's partitions") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = "graft_ivf_sq8_append_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_sq8_append_spec_").toString
    VectorOps.writeIvfIndexSq8(emb, table, path, numCentroids = k, trainIters = 2)
    val nBefore = spark.table(s"${table}_lists").count()
    val batch = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    IndexFamily.sq8.append(spark, table, batch)
    assert(spark.table(s"${table}_lists").count() == nBefore + 10)
    // appended payload is int8 codes in the float quantizer's partitions
    val cents = org.apache.spark.sql.functions.broadcast(
      spark.table(s"${table}_cents"))
    val expected = VectorOps.assignLists(batch, cents)
      .select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val appended = spark.table(s"${table}_lists")
      .filter(col("vec_id") >= 500000)
      .select(col("vec_id"), col("list_id"), col("qe"))
      .collect()
    assert(appended.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    assert(appended.forall(r => r.getSeq[Int](2).forall(x => x >= -127 && x <= 127)),
      "appended codes out of int8 range")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cents")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_lists")
  }

  /** Build (once per suite, per layout) a throwaway index for these
    * tests — unique names, dropped by the JVM temp-dir lifecycle like
    * the spec twin in DedupIncrementalSpec. */
  private lazy val tableMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Boolean), String]()
  private def ivfTable(emb: DataFrame, k: Int, sq8: Boolean): String =
    tableMemo.computeIfAbsent((k, sq8), _ => {
      val table = "graft_ivf_spec_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec_").toString
      if (sq8) VectorOps.writeIvfIndexSq8(emb, table, path, numCentroids = k, trainIters = 2)
      else VectorOps.writeIvfIndex(emb, table, path, numCentroids = k, trainIters = 2)
      table
    })
}
