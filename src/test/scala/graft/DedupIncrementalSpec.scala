package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexFamily}

/** Gates [[Dedup.incrementalMinhashPairs]] and the bucketed band-index
  * path (VERDICT r6 #1/#3): cross-boundary semantics, first-matching-band
  * ownership (the 1-based `element_at` vs 0-based `band` unrolling), and
  * the "ingestion shuffles the BATCH, not the corpus" plan shape. */
class DedupIncrementalSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "patient crane waits beside the riverbank watching silver fish drift " +
    "slowly past the mossy stones under a pale morning sky full of birds"

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("cross-boundary near-copies pair up; same-side near-dups never appear") {
    val corpus = docs(1L -> base,
      2L -> "completely unrelated text about catalyst optimizer rule batches")
    // 10 and 11 are near-copies of corpus doc 1 AND of each other: the
    // 10~11 pair is same-side (batch-internal) and must be withheld
    val batch = docs(10L -> s"xdup $base", 11L -> s"ydup $base")
    val got = pairs(Dedup.incrementalMinhashPairs(corpus, batch, "doc_id", "text", 0.5))
    assert(got.map(t => (t._1, t._2)) == Set((10L, 1L), (11L, 1L)),
      s"expected exactly the two cross pairs, got $got")
    assert(got.forall(_._3 >= 0.5))
  }

  test("an exact dup matches in all 4 bands but is emitted exactly once (band ownership)") {
    val corpus = docs(1L -> base)
    val batch = docs(50L -> base)
    val rows = Dedup.incrementalMinhashPairs(corpus, batch, "doc_id", "text", 0.5)
      .collect()
    // identical text ⇒ identical signature ⇒ all 4 band keys match; the
    // first-matching-band unrolling must keep only band 0's copy. An
    // off-by-one in the element_at indexing yields 4 rows (or 0) here.
    assert(rows.length == 1, s"expected one owned pair, got ${rows.toSeq}")
    assert(rows(0).getLong(0) == 50L && rows(0).getLong(1) == 1L)
    assert(rows(0).getDouble(2) == 1.0)
  }

  test("equals the cross subset of the full minhashPairs pass on the combined corpus") {
    val corpus = TextQueries.dupCorpus(Tables.documents(spark, dir))
    val full = Dedup.minhashPairs(corpus, "doc_id", "text",
        numHashes = 8, numBands = 4, threshold = 0.5)
      .filter(col("id_a") < 100000 && col("id_b") >= 100000)
      .select(col("id_b").as("new_id"), col("id_a").as("old_id"), col("jaccard"))
    val inc = Dedup.incrementalMinhashPairs(
      corpus.filter(col("doc_id") < 100000),
      corpus.filter(col("doc_id") >= 100000), "doc_id", "text", 0.5)
    val (f, i) = (pairs(full), pairs(inc))
    assert(i.nonEmpty, "sf0.001 dup corpus must produce cross pairs")
    assert(i == f)
  }

  test("append grows the index: probe equals the direct join over the grown corpus") {
    val corpus = TextQueries.dupCorpus(Tables.documents(spark, dir))
    val originals = corpus.filter(col("doc_id") < 100000)
    val admitted = corpus.filter(col("doc_id") >= 200000) // the appended batch
    val incoming = corpus.filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
    val table = "graft_band_append_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_band_append_spec").toString
    try {
      Dedup.writeBandIndex(originals, "doc_id", "text", table, path)
      val nBefore = spark.table(table).count()
      Dedup.appendToBandIndex(spark, table, admitted, "doc_id", "text")
      // the append only added the batch's band rows — the indexed corpus
      // was neither dropped nor duplicated
      val nAdmitted = Dedup.probeBandIndex(spark, table, incoming,
        "doc_id", "text", 0.5) // force table read after append
      assert(spark.table(table).count() > nBefore)
      assert(spark.table(table).filter(col("old_id") < 100000).count() == nBefore)
      // probe parity: identical to the direct bipartite join against the
      // UNION corpus — what "the batch was admitted" must mean
      val direct = Dedup.incrementalMinhashPairs(
        originals.unionAll(admitted), incoming, "doc_id", "text", 0.5)
      assert(pairs(nAdmitted) == pairs(direct))
      // and the appended half genuinely contributes matches (near-dups of
      // doc x pair with the appended exact copy of x when x % 15 == 0)
      assert(pairs(nAdmitted).exists(_._2 >= 200000),
        "no probe match against the appended corpus half")
      // the probe plan still bucket-joins without reshuffling the corpus
      // (file groups from build + append union per bucket)
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val probe = Dedup.probeBandIndex(spark, table, incoming, "doc_id", "text", 0.5)
        def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
        val all = nodes(probe.queryExecution.executedPlan)
        def isBucketedScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
          case _ => false
        }
        assert(all.exists(isBucketedScan), "no bucketed corpus scan after append")
        all.collect { case s: ShuffleExchangeExec => s }.foreach { s =>
          assert(!nodes(s).exists(isBucketedScan),
            "appended index is being reshuffled")
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compaction collapses append file groups to one file per bucket; probe parity intact") {
    val corpus = TextQueries.dupCorpus(Tables.documents(spark, dir))
    val originals = corpus.filter(col("doc_id") < 100000)
    val admitted = corpus.filter(col("doc_id") >= 200000)
    val incoming = corpus.filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
    val table = "graft_band_compact_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val cTable = table + "_c"
    val path = java.nio.file.Files
      .createTempDirectory("graft_band_compact_spec").toString
    val cPath = java.nio.file.Files
      .createTempDirectory("graft_band_compact_spec_c").toString
    try {
      Dedup.writeBandIndex(originals, "doc_id", "text", table, path)
      Dedup.appendToBandIndex(spark, table, admitted, "doc_id", "text")
      // bucketed files carry their bucket id in the name (_NNNNN.c000) —
      // group physical files by it
      def filesPerBucket(t: String): Map[String, Long] =
        spark.table(t)
          .select(regexp_extract(input_file_name(), "_(\\d{5})\\.c000", 1).as("b"),
            input_file_name().as("f"))
          .groupBy(col("b")).agg(countDistinct(col("f")).as("nf"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(filesPerBucket(table).values.exists(_ > 1),
        "the append should have left a second file group to compact")

      IndexFamily.band(32).compact(spark, table, cTable, cPath)
      assert(filesPerBucket(cTable).values.forall(_ == 1L),
        "compaction must leave exactly one file per bucket")
      assert(spark.table(cTable).count() == spark.table(table).count(),
        "compaction changed the row count")
      // probe parity: compaction is result-invisible
      val before = pairs(Dedup.probeBandIndex(spark, table, incoming,
        "doc_id", "text", 0.5))
      val after = pairs(Dedup.probeBandIndex(spark, cTable, incoming,
        "doc_id", "text", 0.5))
      assert(before.nonEmpty && before == after)
      // and the compacted generation still serves the no-corpus-reshuffle
      // probe plan (bucketed scan, no Exchange above it)
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val probe = Dedup.probeBandIndex(spark, cTable, incoming, "doc_id", "text", 0.5)
        def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
        val all = nodes(probe.queryExecution.executedPlan)
        def isBucketedScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
          case _ => false
        }
        assert(all.exists(isBucketedScan), "no bucketed scan on the compacted index")
        all.collect { case s: ShuffleExchangeExec => s }.foreach { s =>
          assert(!nodes(s).exists(isBucketedScan),
            "compacted index is being reshuffled")
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    } finally Seq(table, cTable).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("re-sharding: clone at a different bucket count, probe parity, zero recompute") {
    // the band family's retrain analog: a persistently hot bucket (see
    // dedup_band_stats) is remedied by RE-SHARDING — a band re-shard at
    // a higher bucket count redistributes the already-computed band
    // rows under a new bucket spec; the shingle/minhash build never
    // re-runs, and the probe is result-invisible to the shard count
    val corpus = TextQueries.dupCorpus(Tables.documents(spark, dir))
    val originals = corpus.filter(col("doc_id") < 100000)
    val incoming = corpus.filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
    val table = "graft_band_reshard_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val rTable = table + "_r"
    val path = java.nio.file.Files
      .createTempDirectory("graft_band_reshard_spec_").toString
    val rPath = java.nio.file.Files
      .createTempDirectory("graft_band_reshard_spec_r_").toString
    try {
      Dedup.writeBandIndex(originals, "doc_id", "text", table, path, numBuckets = 8)
      IndexFamily.band(8).reshard(spark, table, rTable, rPath, numBuckets = 64)
      def numBuckets(t: String): Int =
        spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
          .bucketSpec.get.numBuckets
      assert(numBuckets(table) == 8 && numBuckets(rTable) == 64)
      assert(spark.table(rTable).count() == spark.table(table).count())
      val before = pairs(Dedup.probeBandIndex(spark, table, incoming,
        "doc_id", "text", 0.5))
      val after = pairs(Dedup.probeBandIndex(spark, rTable, incoming,
        "doc_id", "text", 0.5))
      assert(before.nonEmpty && before == after,
        "re-sharding must be result-invisible to the probe")
    } finally Seq(table, rTable).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("band-index probe matches the direct join and never reshuffles the corpus") {
    val corpus = TextQueries.dupCorpus(Tables.documents(spark, dir))
    val existing = corpus.filter(col("doc_id") < 100000)
    val incoming = corpus.filter(col("doc_id") >= 100000)
    val path = java.nio.file.Files.createTempDirectory("graft_bandindex_spec").toString
    Dedup.writeBandIndex(existing, "doc_id", "text", "graft_band_index_spec", path)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // force the shuffled-join plan the 100 TB case would take (a broadcast
    // of the corpus side would trivially have no exchange), and keep the
    // plan tree statically walkable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Dedup.probeBandIndex(spark, "graft_band_index_spec",
        incoming, "doc_id", "text", 0.5)
      val direct = Dedup.incrementalMinhashPairs(existing, incoming,
        "doc_id", "text", 0.5)
      assert(pairs(probe) == pairs(direct))

      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
      val plan = probe.queryExecution.executedPlan
      val all = nodes(plan)
      def isBucketedScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case _ => false
      }
      assert(all.exists(isBucketedScan), s"no bucketed corpus scan in:\n$plan")
      val shuffles = all.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty, "expected the batch side to shuffle")
      shuffles.foreach { s =>
        assert(!nodes(s).exists(isBucketedScan),
          s"corpus (bucketed) scan sits under an Exchange — the index is " +
            s"being reshuffled:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS graft_band_index_spec")
    }
  }
}
