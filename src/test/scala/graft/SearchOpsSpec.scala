package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexFamily, SearchOps}

/** Retrieval contracts: conjunctive semantics (ALL terms required),
  * deterministic tf ranking, and the k cut. */
class SearchOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark window spark query"),   // both terms, tf(spark)=2
    (2L, "spark window window window"), // both, higher total tf
    (3L, "spark spark spark spark"),    // missing 'window' — excluded
    (4L, "window plain text here"))     // missing 'spark' — excluded
    .toDF("doc_id", "text")

  private lazy val idx = SearchOps.invertedIndex(docs, "doc_id", "text")

  test("invertedIndex counts term frequency per (term, doc)") {
    val tf = idx.as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(tf(("spark", 1L)) == 2L && tf(("spark", 3L)) == 4L)
    assert(tf(("window", 2L)) == 3L)
    assert(!tf.contains(("window", 3L)))
  }

  test("persisted index probe: bucket-pruned scan, identical results") {
    val table = "graft_search_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_spec_").toString
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", table, path, numBuckets = 4)
      // ADVICE r9 #1: the probe's autoBucketedScan flip must be scoped
      // to its own session clone — the CALLER's conf stays untouched,
      // so later bucketed scans (band index, IVF lists) plan the same
      // whether or not an indexed search ran first
      val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val confBefore = spark.conf.get(confKey)
      val probe = SearchOps.probeSearchIndex(spark, table, Seq("spark", "window"), 10)
      val direct = SearchOps.searchAllTerms(idx, Seq("spark", "window"), 10)
      assert(spark.conf.get(confKey) == confBefore,
        "probeSearchIndex mutated the caller session's conf")
      assert(probe.collect().toSeq == direct.collect().toSeq,
        "persisted probe must equal the in-memory search")
      // the term IN (...) predicate must prune buckets at scan time —
      // fewer than all 4 selected proves the probe never reads the
      // whole index
      val scan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r
        .findFirstMatchIn(scan)
      assert(sel.isDefined, s"no bucket pruning in plan:\n$scan")
      assert(sel.get.group(1).toInt < 4,
        s"probe read every bucket:\n$scan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("searchBm25: conjunctive, idf-weighted, length-normalized, bucket-pruned") {
    val table = "graft_search_bm25_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_bm25_spec_").toString
    val dlPath = java.nio.file.Files
      .createTempDirectory("graft_search_bm25_spec_dl_").toString
    // 'rare' appears in docs 1,2 only; 'common' in every doc. Docs 1 and
    // 2 have identical tf for both query terms; doc 2 is much longer —
    // BM25's length normalization must rank doc 1 first (raw-tf ranking
    // would tie them and fall to the doc_id tiebreak, so also construct
    // doc 2 with HIGHER total query tf to prove the ranking genuinely
    // differs from searchAllTerms').
    val bmDocs = Seq(
      (1L, "rare common filler"),
      (2L, "rare rare common common pad pad pad pad pad pad pad pad pad pad"),
      (3L, "common only here nothing else"),
      (4L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    try {
      SearchOps.writeSearchIndex(bmDocs, "doc_id", "text", table, path, numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, dlPath)
      val res = SearchOps.searchBm25(spark, table, Seq("rare", "common"), 10)
      val rows = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // conjunctive: docs 3 (no 'rare') and 4 (neither) excluded
      assert(rows.map(_._1).toSet == Set(1L, 2L))
      // doc 2 has double the query tf but 14 tokens vs doc 1's 3: the
      // saturation + length penalty must rank the short doc first —
      // searchAllTerms on the same index ranks doc 2 first, proving the
      // two scorers genuinely disagree here
      assert(rows.find(_._3 == 1L).get._1 == 1L,
        s"length normalization failed: $rows")
      val tfRank = SearchOps.probeSearchIndex(spark, table, Seq("rare", "common"), 10)
        .collect().map(_.getLong(0))
      assert(tfRank.head == 2L, "fixture no longer separates BM25 from raw tf")
      // scores are positive scaled integers, non-increasing by rank
      assert(rows.forall(_._2 > 0L))
      val byRank = rows.sortBy(_._3).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"scores not ordered by rank: $rows")
      // and the postings scan still bucket-prunes to the query terms
      val scan = res.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(scan)
      assert(sel.isDefined && sel.get.group(1).toInt < 4,
        s"bm25 probe read every bucket:\n$scan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_doclens")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("searchBm25Any: subset matches rank, scored only by the terms they have") {
    val table = "graft_bm25_any_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_bm25_any_spec_").toString
    val dlPath = java.nio.file.Files
      .createTempDirectory("graft_bm25_any_spec_dl_").toString
    val anyDocs = Seq(
      (1L, "rare common filler"),        // both terms
      (2L, "rare rare rare rare only"),  // 'rare' only — must still rank
      (3L, "common text here"),          // 'common' only — must still rank
      (4L, "unrelated entirely"))        // neither — excluded
      .toDF("doc_id", "text")
    try {
      SearchOps.writeSearchIndex(anyDocs, "doc_id", "text", table, path, numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, dlPath)
      val any = SearchOps.searchBm25Any(spark, table, Seq("rare", "common"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(any.map(_._1).toSet == Set(1L, 2L, 3L),
        s"disjunctive match set wrong: ${any.toSeq}")
      // the conjunctive form on the same index keeps only doc 1, with
      // the SAME score the disjunctive run gave it (shared scorer)
      val conj = SearchOps.searchBm25(spark, table, Seq("rare", "common"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(conj.map(_._1).toSeq == Seq(1L))
      assert(conj.head._2 == any.find(_._1 == 1L).get._2,
        "conjunctive and disjunctive scorers drifted")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_doclens")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("appendDocLengths: BM25 over build+append equals BM25 over a fresh full index") {
    val table = "graft_bm25_append_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val fTable = table + "_f"
    val path = java.nio.file.Files
      .createTempDirectory("graft_bm25_append_spec_").toString
    val dlPath = java.nio.file.Files
      .createTempDirectory("graft_bm25_append_spec_dl_").toString
    val fPath = java.nio.file.Files
      .createTempDirectory("graft_bm25_append_spec_f_").toString
    val fDlPath = java.nio.file.Files
      .createTempDirectory("graft_bm25_append_spec_fdl_").toString
    try {
      // grown generation: build on half the docs, append the rest —
      // postings AND norms
      SearchOps.writeSearchIndex(docs.filter($"doc_id" <= 2), "doc_id", "text",
        table, path, numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, dlPath)
      SearchOps.appendToSearchIndex(spark, table,
        docs.filter($"doc_id" > 2), "doc_id", "text", numBuckets = 4)
      SearchOps.appendDocLengths(spark, table, docs.filter($"doc_id" > 2),
        "doc_id", "text")
      assert(spark.table(s"${table}_doclens").count() == docs.count(),
        "sidecar must cover every indexed doc after the append")
      // reference: one fresh build over all docs
      SearchOps.writeSearchIndex(docs, "doc_id", "text", fTable, fPath,
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, fTable, fDlPath)
      val grown = SearchOps.searchBm25(spark, table, Seq("spark", "window"), 10)
        .collect().toSeq.map(_.toSeq)
      val fresh = SearchOps.searchBm25(spark, fTable, Seq("spark", "window"), 10)
        .collect().toSeq.map(_.toSeq)
      assert(grown.nonEmpty && grown == fresh,
        s"append-maintained BM25 diverged: grown=$grown fresh=$fresh")
    } finally Seq(table, fTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclens")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("probe session inherits the caller's runtime conf and is cached (ADVICE r10)") {
    val table = "graft_search_conf_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_conf_spec_").toString
    // a custom runtime-only key: provably NOT inherited by a bare
    // newSession() (whose defaults come from the SparkConf), so seeing
    // it in the probe plan's session proves the per-call conf re-sync
    val key = "spark.graft.spec.probe_conf"
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", table, path, numBuckets = 4)
      spark.conf.set(key, "v1")
      val p1 = SearchOps.probeSearchIndex(spark, table, Seq("spark"), 10)
      assert(p1.sparkSession ne spark, "probe must run on a clone")
      assert(p1.sparkSession.conf.get(key) == "v1",
        "caller runtime conf did not reach the probe session")
      assert(p1.sparkSession.conf
          .get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false",
        "the pruning flag must still win after the conf copy")
      // one SessionState per parent, not per call
      val p2 = SearchOps.probeSearchIndex(spark, table, Seq("window"), 10)
      assert(p1.sparkSession eq p2.sparkSession, "probe clone must be cached")
      // a runtime change AFTER the clone was built still propagates
      spark.conf.set(key, "v2")
      val p3 = SearchOps.probeSearchIndex(spark, table, Seq("spark"), 10)
      assert(p3.sparkSession.conf.get(key) == "v2",
        "conf must be re-synced on every probe, not only at clone build")
    } finally {
      spark.conf.unset(key)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("append grows the index: probe equals the search over all docs, pruning intact") {
    val table = "graft_search_append_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_append_spec_").toString
    try {
      // build on docs 1-2, append 3-4 (doc 4 contributes the only
      // 'plain' posting — it must be findable post-append)
      SearchOps.writeSearchIndex(docs.filter($"doc_id" <= 2), "doc_id", "text",
        table, path, numBuckets = 4)
      val nBefore = spark.table(table).count()
      SearchOps.appendToSearchIndex(spark, table,
        docs.filter($"doc_id" > 2), "doc_id", "text", numBuckets = 4)
      assert(spark.table(table).filter($"doc_id" <= 2).count() == nBefore,
        "append rewrote or duplicated the built postings")
      val probe = SearchOps.probeSearchIndex(spark, table, Seq("spark", "window"), 10)
      val direct = SearchOps.searchAllTerms(idx, Seq("spark", "window"), 10)
      assert(probe.collect().toSeq == direct.collect().toSeq,
        "grown-index probe must equal the search over the full corpus")
      // bucket pruning still holds over build+append file groups
      val scan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(scan)
      assert(sel.isDefined && sel.get.group(1).toInt < 4,
        s"post-append probe read every bucket:\n$scan")
      // the appended-only posting is findable
      val plain = SearchOps.probeSearchIndex(spark, table, Seq("plain"), 10)
        .select("doc_id").as[Long].collect().toSeq
      assert(plain == Seq(4L), "appended doc's posting not found")
      // a mismatched bucket spec is REJECTED, not silently mixed in —
      // mixed bucket-id file groups would misroute rows in pruned joins,
      // so the docstring's "Spark rejects" claim is load-bearing
      intercept[org.apache.spark.sql.AnalysisException] {
        SearchOps.appendToSearchIndex(spark, table,
          docs.filter($"doc_id" === 1), "doc_id", "text", numBuckets = 8)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compaction collapses append file groups to one file per bucket; pruned probe parity") {
    val table = "graft_search_compact_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val cTable = table + "_c"
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_compact_spec_").toString
    val cPath = java.nio.file.Files
      .createTempDirectory("graft_search_compact_spec_c_").toString
    try {
      SearchOps.writeSearchIndex(docs.filter($"doc_id" <= 2), "doc_id", "text",
        table, path, numBuckets = 4)
      SearchOps.appendToSearchIndex(spark, table,
        docs.filter($"doc_id" > 2), "doc_id", "text", numBuckets = 4)
      import org.apache.spark.sql.functions.{col, countDistinct, input_file_name, regexp_extract}
      def filesPerBucket(t: String): Map[String, Long] =
        spark.table(t)
          .select(regexp_extract(input_file_name(), "_(\\d{5})\\.c000", 1).as("b"),
            input_file_name().as("f"))
          .groupBy(col("b")).agg(countDistinct(col("f")).as("nf"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(filesPerBucket(table).values.exists(_ > 1),
        "the append should have left a second file group to compact")

      IndexFamily.search(4).compact(spark, table, cTable, cPath)
      assert(filesPerBucket(cTable).values.forall(_ == 1L),
        s"compaction must leave exactly one file per bucket: ${filesPerBucket(cTable)}; " +
          s"files=${new java.io.File(cPath).listFiles().map(_.getName).toSeq}")
      assert(spark.table(cTable).count() == spark.table(table).count(),
        "compaction changed the posting count")
      // probe parity with the in-memory search over ALL docs, and the
      // bucket-pruned scan survives compaction
      val probe = SearchOps.probeSearchIndex(spark, cTable, Seq("spark", "window"), 10)
      val direct = SearchOps.searchAllTerms(idx, Seq("spark", "window"), 10)
      assert(probe.collect().toSeq == direct.collect().toSeq,
        "compacted-index probe must equal the full-corpus search")
      val scan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(scan)
      assert(sel.isDefined && sel.get.group(1).toInt < 4,
        s"compacted probe read every bucket:\n$scan")
    } finally Seq(table, cTable).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("phraseSearch: in-order consecutive matches, overlaps counted, short docs safe") {
    val d = Seq(
      (1L, "a b a b a"),   // "a b" at 1 and 3 → 2 matches
      (2L, "b a b a b"),   // "a b" at 2 and 4 → 2
      (3L, "a a a"),       // "a a" overlapping at 1,2 — but phrase is "a b": 0
      (4L, "b"),           // shorter than the phrase
      (5L, "a")).toDF("doc_id", "text")
    val out = SearchOps.phraseSearch(d, "doc_id", "text", Seq("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L), "order matters, zero-match docs absent")
    val overlap = SearchOps.phraseSearch(d, "doc_id", "text", Seq("a", "a"))
      .as[(Long, Long)].collect().toMap
    assert(overlap == Map(3L -> 2L), "overlapping starts each count")
  }

  test("phraseCount: NULL token array yields NULL; empty phrase array counts 0") {
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{array, lit, col}
    val df = Seq((Some(Seq("a", "b")), 1), (None, 2)).toDF("toks", "i")
    val out = df.select(col("i"), graft.functions.GraftFunctions
        .phraseCount(col("toks"), array(lit("a"))).as("c"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out(1) == Some(1L) && out(2) == None)
    val empty = df.filter(col("i") === 1).select(graft.functions.GraftFunctions
        .phraseCount(col("toks"), array().cast("array<string>")))
      .collect().head.getLong(0)
    assert(empty == 0L)
  }

  test("phraseCount: null ELEMENTS are non-matches, not NPEs") {
    // ADVICE r9 #5: the SQL function is user-callable with arbitrary
    // arrays — a null slot in either side must never throw
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{array, lit, col, expr}
    val df = Seq(1).toDF("i")
      .withColumn("toks", expr("array('a', CAST(NULL AS STRING), 'a', 'b')"))
    // phrase ("a","b") matches only at position 3 — position 1 is broken
    // by the null token in the middle
    val c1 = df.select(graft.functions.GraftFunctions
      .phraseCount(col("toks"), array(lit("a"), lit("b")))).collect().head.getLong(0)
    assert(c1 == 1L)
    // a null PHRASE element can never match any token → 0, no throw
    val c2 = df.select(graft.functions.GraftFunctions
      .phraseCount(col("toks"), expr("array('a', CAST(NULL AS STRING))")))
      .collect().head.getLong(0)
    assert(c2 == 0L)
  }

  test("searchAllTerms: AND semantics, tf-desc ranking, k cut") {
    val out = SearchOps.searchAllTerms(idx, Seq("spark", "window"), k = 10)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(out.map(_._1).toSeq == Seq(2L, 1L), "docs 3 and 4 lack a term")
    assert(out.map(_._2).toSeq == Seq(4L, 3L), "total tf ranks doc 2 first")
    val cut = SearchOps.searchAllTerms(idx, Seq("spark", "window"), k = 1)
      .as[(Long, Long, Long)].collect()
    assert(cut.map(_._1).toSeq == Seq(2L))
  }

  test("rrfFuse: exact integer contributions, agreement beats rank-1") {
    import org.apache.spark.sql.functions.col
    // lex list: docs 1,2,3 at ranks 1,2,3; sem list: docs 3,4 at 1,2.
    // doc 3 appears in BOTH (ranks 3+1) → 1e6/63 + 1e6/61 = 15873+16393
    // = 32266, which outranks doc 1's single rank-1 leg (1e6/61=16393):
    // cross-leg agreement dominates any single-leg rank — the RRF
    // property the fusion exists for.
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rk")
    val sem = Seq((3L, 1L), (4L, 2L)).toDF("doc_id", "rk")
    val out = SearchOps.rrfFuse(Seq(lex, sem), k = 10)
      .select(col("doc_id"), col("rrf_x1e6"), col("n_lists"), col("rk"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4).toSeq
    assert(out.map(_._1) == Seq(3L, 1L, 2L, 4L))
    assert(out.head == ((3L, 32266L, 2L, 1L)),
      s"doc 3 fused contribution wrong: ${out.head}")
    assert(out(1) == ((1L, 16393L, 1L, 2L)))
    // doc 2 (lex rank 2) and doc 4 (sem rank 2) tie at 1e6/62=16129 —
    // equal scores break to the lower doc_id, deterministic
    assert(out(2)._2 == 16129L && out(3)._2 == 16129L)
  }

  test("weightedFuse: min-max normalization, weights, constant leg") {
    import org.apache.spark.sql.functions.col
    // lex scores 100/60/20 normalize to 1e6 / 5e5 / 0; sem is CONSTANT
    // (mx == mn) so every member normalizes to 1e6. Weights 70/30.
    val lex = Seq((1L, 100L), (2L, 60L), (3L, 20L)).toDF("doc_id", "score")
    val sem = Seq((3L, 42L), (4L, 42L)).toDF("doc_id", "score")
    val out = SearchOps.weightedFuse(Seq((lex, 70), (sem, 30)), k = 10)
      .select(col("doc_id"), col("wscore"), col("n_lists"), col("rk"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4).toSeq
    // doc 1: 70·1e6; doc 3: 70·0 + 30·1e6; doc 2: 70·5e5; doc 4: 30·1e6
    assert(out == Seq(
      (1L, 70000000L, 1L, 1L),
      (2L, 35000000L, 1L, 2L),
      (3L, 30000000L, 2L, 3L),
      (4L, 30000000L, 1L, 4L)), s"unexpected fused set: $out")
    // weights must sum to 100
    intercept[IllegalArgumentException] {
      SearchOps.weightedFuse(Seq((lex, 70), (sem, 20)), k = 10)
    }
  }

  test("rrfFusePerQuery: fusion is independent per query") {
    import org.apache.spark.sql.functions.col
    // query 1 sees doc 3 in both legs; query 2 sees doc 3 in ONE leg —
    // per-query fusion must not leak query 1's agreement into query 2
    val lex = Seq((1L, 3L, 1L), (2L, 5L, 1L)).toDF("query_id", "doc_id", "rk")
    val sem = Seq((1L, 3L, 1L), (2L, 3L, 1L)).toDF("query_id", "doc_id", "rk")
    val out = SearchOps.rrfFusePerQuery(Seq(lex, sem), k = 10)
      .select(col("query_id"), col("doc_id"), col("rrf_x1e6"), col("n_lists"),
        col("rk"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 3L, 32786L, 2L, 1L),       // 2 × 1e6/61
      (2L, 3L, 16393L, 1L, 1L),       // one leg only
      (2L, 5L, 16393L, 1L, 2L)),      // tie with doc 3 → higher doc_id second
      s"unexpected fused set: $out")
  }

  test("weightedFusePerQuery: normalization is per query's OWN candidate list") {
    import org.apache.spark.sql.functions.col
    // query 1's lex range is 100..20, query 2's is 10..8 — per-query
    // min-max must normalize each over its own range (query 2's doc 6
    // hits 1e6 despite a raw score of 10); query 2's sem leg is
    // constant → 1e6 for its only member
    val lex = Seq((1L, 1L, 100L), (1L, 2L, 20L), (2L, 6L, 10L), (2L, 7L, 8L))
      .toDF("query_id", "doc_id", "score")
    val sem = Seq((1L, 2L, 50L), (1L, 1L, 10L), (2L, 6L, 42L))
      .toDF("query_id", "doc_id", "score")
    val out = SearchOps.weightedFusePerQuery(Seq((lex, 70), (sem, 30)), k = 10)
      .select(col("query_id"), col("doc_id"), col("wscore"), col("n_lists"),
        col("rk"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1L, 70000000L, 2L, 1L),    // lex max (70·1e6) + sem min (30·0)
      (1L, 2L, 30000000L, 2L, 2L),    // lex min + sem max (30·1e6)
      (2L, 6L, 100000000L, 2L, 1L),   // max of BOTH legs within query 2
      (2L, 7L, 0L, 1L, 2L)),          // lex min of query 2
      s"unexpected fused set: $out")
    intercept[IllegalArgumentException] {
      SearchOps.weightedFusePerQuery(Seq((lex, 50), (sem, 20)), k = 10)
    }
  }
}
