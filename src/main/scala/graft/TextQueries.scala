package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Classifier, Dedup, IndexFamily, SearchOps, TextOps}
import graft.EpochRegistry.{freshId, generation, tmpDir}

/** Text analysis + deduplication over `documents` (SURVEY §2.3).
  *
  * The testdata has no natural duplicates, so dedup queries run over a
  * deterministic dup-corpus: the original docs plus an exact copy of every
  * 5th doc and a near-copy (one prepended token) of every 3rd doc — built
  * identically on the Spark and DuckDB sides.
  */
object TextQueries {

  private[graft] def dupCorpus(docs: DataFrame): DataFrame = {
    val near = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("xdup "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val exact = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .unionAll(near).unionAll(exact)
  }

  /** The PUBLISHED classifier model generation (r17, VERDICT r16 #2):
    * the full weight trajectory (`<table>`: epoch, b0..b5) plus the
    * train-time quantile drift bins (`<table>_bins`: feature, e20..e80)
    * persisted as catalog tables — the model leaves the process cache
    * and becomes a versioned artifact, exactly like an index
    * generation. */
  private[graft] def classifierModelFor(s: SparkSession,
      dir: String): String =
    generation(s, dir, "clf_model", Seq("", "_bins")) { (table, _) =>
      val docs = Tables.documents(s, dir)
      val traj = Classifier.trajectoryFor(s, docs, dir)
      import s.implicits._
      traj.epochs.zipWithIndex
        .map { case (w, i) => (i + 1L, w(0), w(1), w(2), w(3), w(4), w(5)) }
        .toDF("epoch", "b0", "b1", "b2", "b3", "b4", "b5")
        .write.format("parquet").saveAsTable(table)
      Classifier.binEdges(Classifier.labeledFeatures(docs))
        .write.format("parquet").saveAsTable(s"${table}_bins")
    }

  /** Atomic pointer serving for the model generation — trajectory and
    * bins resolve together ([[graft.operators.Generations
    * .publishPointer]]), promotion is one view replace. */
  private[graft] def classifierViewFor(s: SparkSession,
      dir: String): String =
    EpochRegistry.pointerView(s, dir, "clf_model_view",
      classifierModelFor(s, dir), Seq("", "_bins"))

  /** The RETRAINED trajectory: the short-doc crawl wave (re-badged
    * +300000 — a fresh drifted observation, not the dup fixture's ids)
    * joins the training corpus and the batch perceptron re-runs its
    * full epoch chain over the union. Cached per (session, dir) via
    * [[Classifier.trajectoryFor]]'s own cache under a derived key. */
  private[graft] def retrainedTrajectoryFor(s: SparkSession,
      dir: String): Classifier.Trajectory = {
    val docs = Tables.documents(s, dir)
    val wave = docs.filter(col("n_chars") < 250)
      .select((col("doc_id") + 300000L).as("doc_id"), col("text"),
        col("n_chars"))
    Classifier.trajectoryFor(s,
      docs.select(col("doc_id"), col("text"), col("n_chars"))
        .unionAll(wave),
      dir + "#retrained")
  }

  /** Epoch-materialized tf·idf postings (doc_id, token, wq) with the
    * df ≤ 10% stopword prune — built once per (session, dataset), read
    * as parquet by every stage of the doc-similarity probe. */
  private[graft] def tfidfWeightsDir(s: SparkSession, dir: String): String =
    EpochRegistry.dirEpoch(s, dir, "tfidf_weights_dir") { path =>
      TextOps.tfidfWeights(Tables.documents(s, dir), "doc_id", "text",
          // the synthetic corpus has a ~31-token vocabulary, so ANY df
          // prune empties most docs' postings — disabled here; a real
          // corpus would pass ~10
          maxDfPct = 100)
        .write.mode("overwrite").parquet(path)
    }

  /** One materialized band index per (session, dir) "epoch", built lazily
    * on first use into a unique table name + fresh temp directory —
    * concurrent sessions (or two dirs) can never collide on a shared name
    * (ADVICE r7 #3: the old form used one fixed global table and a
    * `dir.hashCode` path, a wrong-answer race since the probe lazily
    * reads whatever the table points at when it finally executes). The
    * index lives for the session — [[EpochRegistry]] reclaims the table
    * and temp dir when the owning session's context stops — mirroring
    * the 100 TB contract: write once per full-dedup epoch, probe on
    * every arriving batch. */
  private[graft] def bandIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "band_index", Seq("")) { (t, newDir) =>
      Dedup.writeBandIndex(
        dupCorpus(Tables.documents(s, dir)).filter(col("doc_id") < 100000),
        "doc_id", "text", t, newDir())
    }

  /** The append-maintenance epoch for the band index: the serving index
    * generation ([[bandIndexFor]] — the ORIGINAL docs < 100000) is
    * CLONED (band rows re-bucketed, no shingle/minhash recompute), then
    * the exact-dup batch (≥ 200000) is APPENDED — admitted to the
    * corpus, as an ingestion pipeline would after accepting a batch,
    * without touching the serving tables `dedup_incremental_indexed`
    * probes. The gated query probes with the near-dup batch, so its
    * matches span both the built and the appended corpus halves. Base
    * epoch resolved BEFORE the acquire (nested computeIfAbsent on one
    * map can deadlock on bin contention). */
  private[graft] def bandAppendIndexFor(s: SparkSession, dir: String): String = {
    val base = bandIndexFor(s, dir)
    generation(s, dir, "band_append_index", Seq("")) { (t, newDir) =>
      IndexFamily.band(32).cloneTo(s, base, t, newDir())
      Dedup.appendToBandIndex(s, t,
        dupCorpus(Tables.documents(s, dir)).filter(col("doc_id") >= 200000),
        "doc_id", "text")
    }
  }

  /** The compaction epoch for the band index: the grown
    * [[bandAppendIndexFor]] generation (build + one append file group
    * per bucket) is collapsed to one file per bucket — pure IO, same
    * rows, same bucket spec, no shingle/minhash recompute. The gated
    * query re-runs the append epoch's probe against it: compaction is
    * DEFINED result-invisible, so it shares that oracle. */
  private[graft] def bandCompactIndexFor(s: SparkSession, dir: String): String = {
    val base = bandAppendIndexFor(s, dir)
    generation(s, dir, "band_compact_index", Seq(""))((t, newDir) =>
      IndexFamily.band(32).compact(s, base, t, newDir()))
  }

  /** The band UPDATE epoch: the serving generation is cloned, CORRUPTED
    * the way naive re-ingestion would (near-dup-batch texts appended
    * under EXISTING corpus ids — those ids now carry band rows for two
    * different texts, so phantom jaccard-1.0 pairs against the probe
    * batch), then HEALED by the band row's [[IndexFamily.upsert]] with
    * the ids' true documents. The gated probe must hash-match
    * `dedup_incremental_indexed`'s oracle. Base resolved before the
    * acquire. */
  private[graft] def bandUpsertIndexFor(s: SparkSession, dir: String): String = {
    val base = bandIndexFor(s, dir)
    EpochRegistry.acquire(s, "band_upsert_index", dir) { () =>
      val corrupt = "graft_band_upsert_src_" + freshId()
      val dest = "graft_band_upsert_index_" + freshId()
      val paths = Seq.fill(2)(tmpDir("graft_band_upsert_"))
      val corpus = dupCorpus(Tables.documents(s, dir))
      val originals = corpus.filter(col("doc_id") < 100000)
      // probe-batch texts re-badged under existing corpus ids (k+1 for
      // near-dup source k; semi-join keeps only ids the corpus has)
      val stale = corpus
        .filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
        .select((col("doc_id") - 100000 + 1).as("doc_id"), col("text"))
        .join(originals.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val truth = originals
        .join(stale.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
      IndexFamily.band(32).cloneTo(s, base, corrupt, paths(0))
      Dedup.appendToBandIndex(s, corrupt, stale, "doc_id", "text")
      IndexFamily.band(32).upsert(s, corrupt, dest, Seq(paths(1)), truth)
      EpochRegistry.Resource(dest,
        dropTables = Seq(corrupt, dest), deleteDirs = paths)
    }
  }

  /** The standing cluster assignment — the previous FULL dedup pass's
    * survivor labels over the original corpus, persisted once per
    * (session, dir) like any index epoch. The incremental entry merges
    * each arriving batch into THIS table instead of re-walking the full
    * pair graph. */
  private[graft] def clusterLabelsFor(s: SparkSession, dir: String): String =
    generation(s, dir, "cluster_labels", Seq("")) { (t, newDir) =>
      Dedup.nearDupClusters(Dedup.minhashPairs(
          dupCorpus(Tables.documents(s, dir)).filter(col("doc_id") < 100000),
          "doc_id", "text", numHashes = 8, numBands = 4, threshold = 0.5))
        .write.mode("overwrite").format("parquet")
        .option("path", newDir()).saveAsTable(t)
    }

  /** The band pointer-serving epoch (the band family's atomic
    * publish): the serving generation promoted under a stable name via
    * [[graft.operators.Generations.publishPointer]] — band rows AND
    * the tombstone sidecar resolve from the same atomically-flipped
    * generation, and the bucketed probe plan is unchanged. The gated
    * probe must hash-match `dedup_incremental_indexed`'s oracle. */
  private[graft] def bandPointerViewFor(s: SparkSession, dir: String): String =
    EpochRegistry.pointerView(s, dir, "band_pointer_view",
      bandIndexFor(s, dir), Seq(""))

  /** The band re-shard epoch: the serving generation rewritten under a
    * FINER bucket count (32 → 64) via [[IndexFamily.reshard]] — the
    * remedy [[Dedup.bandReshardCheck]]'s verdict calls for. The gated
    * probe must hash-match `dedup_incremental_indexed`'s oracle:
    * re-sharding moves rows between file buckets but every logical
    * (band, bkey) group travels intact, so probe output is defined
    * bit-identical. Base resolved before the acquire. */
  private[graft] def bandReshardIndexFor(s: SparkSession, dir: String): String = {
    val base = bandIndexFor(s, dir)
    generation(s, dir, "band_reshard_index", Seq(""))((t, newDir) =>
      IndexFamily.band(32).reshard(s, base, t, newDir(), numBuckets = 64))
  }

  /** The gram-index epoch for incremental span dedup: the even-id docs
    * are the standing corpus ([[graft.operators.Dedup.writeGramIndex]]),
    * probed by the odd-id "batch" — same acquire/reclaim contract as
    * every index epoch here. */
  private[graft] def gramIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "gram_index", Seq("")) { (t, newDir) =>
      Dedup.writeGramIndex(
        Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
        "doc_id", "text", t, newDir())
    }

  /** The GROWN gram-index epoch: half the even docs indexed, the other
    * half APPENDED — so grams shared across the two waves hold one row
    * per wave, the compaction debt [[gramCompactedIndexFor]] settles
    * and `dedup_span_compaction_check` measures. */
  private[graft] def gramGrownIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "gram_grown_index", Seq("")) { (t, newDir) =>
      val docs = Tables.documents(s, dir)
      Dedup.writeGramIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", t, newDir())
      Dedup.appendToGramIndex(s, t,
        docs.filter(col("doc_id") % 4 === 2), "doc_id", "text")
    }

  /** [[gramGrownIndexFor]] settled by [[graft.operators.Dedup
    * .compactGramIndex]] into a fresh generation — which must probe
    * identically to an index built in one pass over all evens (the base
    * epoch resolves OUTSIDE the acquire, the established nesting
    * discipline). */
  private[graft] def gramCompactedIndexFor(s: SparkSession, dir: String): String = {
    val grow = gramGrownIndexFor(s, dir)
    generation(s, dir, "gram_compacted_index", Seq(""))((t, newDir) =>
      Dedup.compactGramIndex(s, grow, t, newDir()))
  }

  /** [[gramIndexFor]] behind [[graft.operators.Generations
    * .publishPointer]] indirection — the same epoch-cached pointer view
    * the IVF families use ([[SimilarityQueries.pointer]]). */
  private[graft] def gramPointerViewFor(s: SparkSession, dir: String): String =
    EpochRegistry.pointerView(s, dir, "gram_pointer_view",
      gramIndexFor(s, dir), Seq(""))

  /** The tables one search generation holds: postings and the BM25
    * norms sidecar. */
  private val searchTables = Seq("", "_doclens")

  /** One persisted search index per (session, dir) epoch — the text
    * twin of [[bandIndexFor]]/[[SimilarityQueries.base]] (same
    * UUID-unique isolation and [[EpochRegistry]] lifecycle). */
  private[graft] def searchIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "search_index", searchTables) { (t, newDir) =>
      SearchOps.writeSearchIndex(Tables.documents(s, dir), "doc_id", "text",
        t, newDir())
      // the BM25 norms sidecar, derived from the postings just written
      SearchOps.writeDocLengths(s, t, newDir())
    }

  /** Doc-id bucket count for the late-interaction token-vector epoch:
    * the partition column the candidate join prunes on. */
  private[graft] val tokenVecBuckets = 32

  /** The PERSISTED late-interaction token-vector epoch (VERDICT r18
    * #3): (doc_id, tok, tv) materialized once per (session, dir) —
    * each doc's distinct tokens hashed and vectorized at WRITE time,
    * `partitionBy(bucket = doc_id % 32)` so a probe's candidate set
    * prunes the scan to its buckets. A production ColBERT serves
    * MaxSim from exactly this layout: the per-query cost becomes a
    * pruned index READ instead of candidate tokenization + hashing —
    * the corpus text is never touched at probe time. */
  private[graft] def tokenVecIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "token_vec_index", Seq("")) { (t, newDir) =>
      // r21: a spread + bucket-keyed-exchange rewrite of this write was
      // measured min-of-3 and REVERTED (1.77 -> 2.79 s at local[32] —
      // stage overhead beat the parallelized tokenize; see the
      // VectorOps build-path note)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
        .withColumn("tv", TextOps.hashTokenVecExpr("tok"))
        .withColumn("bucket", pmod(col("doc_id"), lit(tokenVecBuckets)))
        .write.mode("overwrite").format("parquet").partitionBy("bucket")
        .option("path", newDir()).saveAsTable(t)
    }

  /** The search-index append epoch: built from the even-id docs, the
    * odd-id docs appended — together covering every document, so the
    * grown index's probe is gated by the same all-docs oracle as
    * [[searchIndexFor]]'s. Separate kind: appending to the shared
    * search index would double `text_search_indexed`'s postings. */
  private[graft] def searchAppendIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "search_append_index", searchTables) { (t, newDir) =>
      val docs = Tables.documents(s, dir)
      SearchOps.writeSearchIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", t, newDir())
      // the norms sidecar grows WITH the postings: built from the even
      // docs, appended for the odd batch — so the BM25 probe over the
      // grown generation is gated by the same all-docs oracle
      SearchOps.writeDocLengths(s, t, newDir())
      SearchOps.appendToSearchIndex(s, t,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      SearchOps.appendDocLengths(s, t,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }

  /** The search-index compaction epoch: [[searchAppendIndexFor]]'s
    * grown generation collapsed to one file per `term` bucket —
    * result-invisible by definition, so the gated probe shares the
    * all-docs oracle with the indexed/appended probes. */
  private[graft] def searchCompactIndexFor(s: SparkSession, dir: String): String = {
    val base = searchAppendIndexFor(s, dir)
    generation(s, dir, "search_compact_index", searchTables) { (t, newDir) =>
      // the norms sidecar compacts with the postings (one file per
      // doc_id bucket), so ranked retrieval works across the whole
      // lifecycle
      IndexFamily.search(8).compact(s, base, t, newDir())
    }
  }

  /** The search re-shard epoch: the serving generation (postings AND
    * the doc_id-bucketed norms sidecar) rewritten under a finer bucket
    * count (8 → 16) via [[IndexFamily.reshard]] — the remedy
    * [[SearchOps.searchReshardCheck]]'s verdict calls for. Both gated
    * probes (raw-tf and BM25) must hash-match the all-docs oracles:
    * bucket layout is probe-invisible by definition, while the probe
    * still bucket-prunes against the NEW count (ReshardSpec pins it). */
  private[graft] def searchReshardIndexFor(s: SparkSession, dir: String): String = {
    val base = searchIndexFor(s, dir)
    generation(s, dir, "search_reshard_index", searchTables)((t, newDir) =>
      IndexFamily.search(8).reshard(s, base, t, newDir(), numBuckets = 16))
  }

  /** The view-flip serving epoch (VERDICT r11 #4): the serving search
    * generation is PUBLISHED under a stable view name via
    * [[graft.operators.Generations.publish]] — one `CREATE OR REPLACE
    * VIEW` per suffix (postings + doclens), the always-resolvable
    * alternative to rename-swap. The gated probes address the VIEW and
    * must hash-match the all-docs oracles: serving indirection is
    * result-invisible, and the probe still bucket-prunes through it
    * (ViewFlipSpec pins the plan). */
  private[graft] def searchViewFor(s: SparkSession, dir: String): String = {
    val base = searchIndexFor(s, dir)
    EpochRegistry.acquire(s, "search_view", dir) { () =>
      val view = "graft_search_view_" + freshId()
      graft.operators.Generations.publish(s, view, base,
        suffixes = Seq("", "_doclens"))
      EpochRegistry.Resource(view,
        dropTables = Seq(view, s"${view}_doclens"))
    }
  }

  /** The ATOMIC view-flip epoch (VERDICT r12 #3): a dedicated
    * generation (cloned from the serving index so no shared epoch's
    * sidecar set is mutated) published through
    * [[graft.operators.Generations.publishSearch]] — postings, norms,
    * AND tombstones through ONE catalog object, so a probe can never
    * observe fresh postings with stale norms. The gated probes address
    * the combined view and must hash-match the all-docs oracles;
    * pruning through the part-discriminated branches is pinned by
    * ViewFlipSpec. */
  private[graft] def searchAtomicViewFor(s: SparkSession, dir: String): String = {
    val base = searchIndexFor(s, dir)
    EpochRegistry.acquire(s, "search_atomic_view", dir) { () =>
      val gen = "graft_search_aview_gen_" + freshId()
      val view = "graft_search_aview_" + freshId()
      val path = tmpDir("graft_search_aview_")
      IndexFamily.search(8).cloneTo(s, base, gen, path)
      graft.operators.Generations.publishSearch(s, view, gen)
      EpochRegistry.Resource(view,
        dropTables = view +:
          IndexFamily.generationTables(IndexFamily.search(8)).map(gen + _),
        deleteDirs = Seq(path))
    }
  }

  /** The atomic view over the DELETE epoch's generation (ADVICE r12
    * #1): tombstones must resolve THROUGH the serving view — the
    * poison batch is tombstoned on the generation, the probes address
    * the view, and the all-docs oracles gate that no deleted doc leaks
    * back into candidates, df, or the BM25 corpus stats. */
  private[graft] def searchDeletedViewFor(s: SparkSession, dir: String): String = {
    val base = searchDeleteIndexFor(s, dir)
    EpochRegistry.acquire(s, "search_deleted_view", dir) { () =>
      val view = "graft_search_dview_" + freshId()
      graft.operators.Generations.publishSearch(s, view, base)
      EpochRegistry.Resource(view, dropTables = Seq(view))
    }
  }

  /** The DELETE-maintenance epoch for retrieval: the index is built over
    * the corpus PLUS a poison batch (doc_id ≥ 300000, text = the probe's
    * query terms repeated — the poison would own the top ranks), then the
    * poison ids are tombstoned via the search row's
    * [[IndexFamily.delete]]. The gated probes must hash-match the
    * ALL-DOCS oracles: tombstones have to remove the poison from the
    * candidate postings, the df counts, AND the corpus stats (n_docs,
    * Σdl) — any leak shifts every BM25 score, not just the poison's
    * rank. */
  private[graft] def searchDeleteIndexFor(s: SparkSession, dir: String): String =
    generation(s, dir, "search_delete_index",
        IndexFamily.generationTables(IndexFamily.search(8))) { (t, newDir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val poison = poisonSearchDocs(s, dir)
      SearchOps.writeSearchIndex(docs.unionByName(poison), "doc_id", "text",
        t, newDir())
      SearchOps.writeDocLengths(s, t, newDir())
      IndexFamily.search(8).delete(s, t, poison.select(col("doc_id")))
    }

  // every 11th doc re-badged under a fresh id with text that saturates
  // the probe's three query terms — guaranteed top-rank pollution if a
  // delete leaks anywhere
  private[graft] def poisonSearchDocs(s: SparkSession, dir: String) =
    Tables.documents(s, dir).filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 300000).as("doc_id"),
        lit("spark vector window spark vector window spark vector window")
          .as("text"))

  /** The UPDATE-maintenance epoch: generation v1 is built with STALE
    * text for every 7th document (the true text prefixed with the query
    * terms — wrong df, wrong dl, wrong ranks), then the true versions
    * are re-ingested via the search row's [[IndexFamily.upsert]] into
    * generation v2. The gated probes run against v2 and must hash-match
    * the all-docs oracles — which fails if the upsert leaves ANY stale
    * posting or doubles a norms row (the defect VERDICT r11 named: CDC
    * UPDATE semantics finally reaching the engine's own index). */
  private[graft] def searchUpsertIndexFor(s: SparkSession, dir: String): String =
    EpochRegistry.acquire(s, "search_upsert_index", dir) { () =>
      val src = "graft_search_upsert_src_" + freshId()
      val dest = "graft_search_upsert_index_" + freshId()
      val paths = Seq.fill(4)(tmpDir("graft_search_upsert_"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val changed = docs.filter(col("doc_id") % 7 === 0)
      val stale = changed
        .withColumn("text", concat(lit("spark vector window "), col("text")))
      SearchOps.writeSearchIndex(
        docs.filter(col("doc_id") % 7 =!= 0).unionByName(stale),
        "doc_id", "text", src, paths(0))
      SearchOps.writeDocLengths(s, src, paths(1))
      IndexFamily.search(8).upsert(s, src, dest, Seq(paths(2), paths(3)),
        changed)
      EpochRegistry.Resource(dest,
        dropTables = Seq(src, s"${src}_doclens",
          dest, s"${dest}_doclens"),
        deleteDirs = paths)
    }

  /** The band index's DELETE epoch: the serving generation is cloned,
    * a poison batch is admitted (exact copies of the incoming near-dup
    * batch under ids ≥ 500000 — every incoming doc would pair with its
    * poison twin at jaccard 1.0), then the poison is tombstoned via
    * the band row's [[IndexFamily.delete]]. The gated probe must
    * hash-match `dedup_incremental_indexed`'s oracle — any tombstone leak emits
    * phantom (new_id, ≥500000) pairs. */
  private[graft] def bandDeleteIndexFor(s: SparkSession, dir: String): String = {
    val base = bandIndexFor(s, dir)
    generation(s, dir, "band_delete_index",
        IndexFamily.generationTables(IndexFamily.band(32))) { (t, newDir) =>
      IndexFamily.band(32).cloneTo(s, base, t, newDir())
      val poison = dupCorpus(Tables.documents(s, dir))
        .filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
        .select((col("doc_id") + 400000).as("doc_id"), col("text"))
      Dedup.appendToBandIndex(s, t, poison, "doc_id", "text")
      IndexFamily.band(32).delete(s, t, poison.select(col("doc_id")))
    }
  }

  // the near-dup batch [100000, 200000) against the grown corpus
  // (originals < 100000 PLUS the appended exacts ≥ 200000): dup_pairs
  // is id_a < id_b, so the new (probe-side) id is id_b against
  // originals and id_a against appended docs. Shared verbatim by the
  // appended and compacted probes — compaction may not change results.
  private lazy val incrementalAppendedSql =
    s"""WITH $minhashPairCtes
      |SELECT CASE WHEN id_b < 200000 THEN id_b ELSE id_a END AS new_id,
      |  CASE WHEN id_b < 200000 THEN id_a ELSE id_b END AS old_id, jaccard
      |FROM dup_pairs
      |WHERE (id_a < 100000 AND id_b >= 100000 AND id_b < 200000)
      |   OR (id_a >= 100000 AND id_a < 200000 AND id_b >= 200000)
      |ORDER BY new_id, old_id""".stripMargin

  // cross-pair restriction of the full pipeline: dup_pairs orders
  // id_a < id_b, and the batch ids are all >= 100000 while the corpus
  // ids are < 100000, so id_a is always the corpus (old) side. Shared
  // verbatim by every probe of the untouched originals' band index and
  // of the result-invisible stages built from it.
  private lazy val incrementalIndexedSql =
    s"""WITH $minhashPairCtes
      |SELECT id_b AS new_id, id_a AS old_id, jaccard FROM dup_pairs
      |WHERE id_a < 100000 AND id_b >= 100000
      |ORDER BY new_id, old_id""".stripMargin

  private type Query = (SparkSession, String) => DataFrame

  /** The served search epochs. Each is probed as `text_search_<stage>`
    * by the raw-tf conjunctive probe (oracle [[searchAndSql]]) and as
    * `text_search_bm25_<stage>` by BM25 (oracle [[searchBm25Sql]]).
    * Every stage is result-invisible — its generation serves exactly
    * the index over all documents — so both probes carry the all-docs
    * oracles; BM25 is the strict gate, since a stale or deleted doc
    * leaking into df, dl, n_docs or Σdl shifts every score. */
  private val searchStages: Seq[(String, (SparkSession, String) => String)] =
    Seq(
      ("appended", searchAppendIndexFor), // evens built, odds appended
      ("compacted", searchCompactIndexFor), // one file per term bucket
      ("resharded", searchReshardIndexFor), // 8 → 16 buckets
      ("published", searchViewFor), // a view flip per suffix
      ("published_atomic", searchAtomicViewFor), // one combined view
      ("published_deleted", searchDeletedViewFor), // tombstones through it
      ("deleted", searchDeleteIndexFor), // the poison tombstoned
      ("updated", searchUpsertIndexFor)) // stale docs upserted

  private def searchEntries: Seq[(String, Query, String)] = for {
    (stage, epoch) <- searchStages
    (entry, probe, sql) <- Seq[(String,
        (SparkSession, String, Seq[String], Int) => DataFrame, String)](
      ("text_search_", SearchOps.probeSearchIndex, searchAndSql),
      ("text_search_bm25_", SearchOps.searchBm25, searchBm25Sql))
  } yield (entry + stage, (s: SparkSession, dir: String) =>
    probe(s, epoch(s, dir), Seq("spark", "vector", "window"), 10)
      .orderBy(col("rk")), sql)

  /** The served band epochs, each probing one dup-corpus batch with its
    * oracle: every dup doc (≥ 100000) against the originals' index
    * ([[incrementalIndexedSql]] — the delete, upsert, re-shard, pointer
    * and CDC stages all serve exactly that index), or the near-dup
    * batch [100000, 200000) against the index grown by the exact dups
    * (≥ 200000) and its compaction ([[incrementalAppendedSql]]). */
  private def bandEntries: Seq[(String, Query, String)] = {
    val originals = (col("doc_id") >= 100000, incrementalIndexedSql)
    val grown = (col("doc_id") >= 100000 && col("doc_id") < 200000,
      incrementalAppendedSql)
    for {
      (entry, stages) <- Seq[(String,
          Seq[(String, (SparkSession, String) => String, (Column, String))])](
        ("dedup_incremental_", Seq(
          ("indexed", bandIndexFor, originals),
          ("appended", bandAppendIndexFor, grown),
          ("published", bandPointerViewFor, originals),
          ("resharded", bandReshardIndexFor, originals),
          ("compacted", bandCompactIndexFor, grown),
          ("deleted", bandDeleteIndexFor, originals),
          ("updated", bandUpsertIndexFor, originals))),
        ("stream_dedup_", Seq(
          ("cdc", StreamingQueries.bandCdcIndexFor, originals),
          ("cdc_published", StreamingQueries.bandCdcViewFor, originals))))
      (stage, epoch, (incoming, sql)) <- stages
    } yield (entry + stage, (s: SparkSession, dir: String) => {
      val corpus = dupCorpus(Tables.documents(s, dir))
      Dedup.probeBandIndex(s, epoch(s, dir), corpus.filter(incoming),
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("new_id"), col("old_id"))
    }, sql)
  }

  private def searchBm25SqlOver(having: String, k: Int = 10,
      docFilter: String = ""): String = {
    val fhits =
      if (docFilter.isEmpty) ""
      else s""",
        |fhits AS (SELECT hits.* FROM hits JOIN documents d
        |  ON d.doc_id = hits.doc_id AND ($docFilter))""".stripMargin
    val rel = if (docFilter.isEmpty) "hits" else "fhits"
    s"""WITH idx AS (SELECT t.token AS term, doc_id, count(*) AS tf
      |  FROM documents, LATERAL unnest(${OracleSql.toks}) t(token) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM idx GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
      |q AS (SELECT term, doc_id, tf FROM idx
      |  WHERE term IN ('spark', 'vector', 'window')),
      |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM q GROUP BY 1),
      |sc AS (SELECT doc_id, CAST(floor(
      |    CAST(floor(1000000.0 *
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)) AS BIGINT)
      |    * ((22.0 * tf * total_dl) /
      |       (10.0 * tf * total_dl + 3.0 * total_dl + 9.0 * dl * n_docs))
      |  ) AS BIGINT) AS addend
      |  FROM q JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats),
      |hits AS (SELECT doc_id, CAST(sum(addend) AS BIGINT) AS score
      |  FROM sc GROUP BY doc_id $having)$fhits
      |SELECT doc_id, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      |FROM $rel ORDER BY rk LIMIT $k""".stripMargin
  }

  /** Mirror of [[SearchOps.searchBm25Rm3]]/[[SearchOps.rm3Terms]]
    * (query terms spark/vector/window, 5 feedback docs, 3 expansion
    * terms), ending in `exp (term, w, rk)` — the final expanded probe
    * re-derives df over the widened term set. */
  private lazy val rm3Ctes: String =
    s"""idx AS (SELECT t.token AS term, doc_id, count(*) AS tf
      |  FROM documents, LATERAL unnest(${OracleSql.toks}) t(token) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM idx GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
      |q0 AS (SELECT term, doc_id, tf FROM idx
      |  WHERE term IN ('spark', 'vector', 'window')),
      |df0 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM q0 GROUP BY 1),
      |sc0 AS (SELECT doc_id, CAST(floor(
      |    CAST(floor(1000000.0 *
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)) AS BIGINT)
      |    * ((22.0 * tf * total_dl) /
      |       (10.0 * tf * total_dl + 3.0 * total_dl + 9.0 * dl * n_docs))
      |  ) AS BIGINT) AS addend
      |  FROM q0 JOIN dl USING (doc_id) JOIN df0 USING (term) CROSS JOIN stats),
      |fb AS (SELECT doc_id FROM (
      |    SELECT doc_id, CAST(sum(addend) AS BIGINT) AS score
      |    FROM sc0 GROUP BY doc_id) h0
      |  ORDER BY score DESC, doc_id LIMIT 5),
      |exp AS (SELECT term, CAST(sum(tf) AS BIGINT) AS w,
      |    row_number() OVER (ORDER BY CAST(sum(tf) AS BIGINT) DESC, term) AS rk
      |  FROM idx JOIN fb USING (doc_id)
      |  WHERE term NOT IN ('spark', 'vector', 'window')
      |  GROUP BY term ORDER BY w DESC, term LIMIT 3)""".stripMargin

  private lazy val searchRm3Sql =
    s"""WITH $rm3Ctes,
      |q1 AS (SELECT term, doc_id, tf FROM idx
      |  WHERE term IN ('spark', 'vector', 'window')
      |     OR term IN (SELECT term FROM exp)),
      |df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM q1 GROUP BY 1),
      |sc1 AS (SELECT doc_id, CAST(floor(
      |    CAST(floor(1000000.0 *
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)) AS BIGINT)
      |    * ((22.0 * tf * total_dl) /
      |       (10.0 * tf * total_dl + 3.0 * total_dl + 9.0 * dl * n_docs))
      |  ) AS BIGINT) AS addend
      |  FROM q1 JOIN dl USING (doc_id) JOIN df1 USING (term) CROSS JOIN stats),
      |hits AS (SELECT doc_id, CAST(sum(addend) AS BIGINT) AS score
      |  FROM sc1 GROUP BY doc_id)
      |SELECT doc_id, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      |FROM hits ORDER BY rk LIMIT 10""".stripMargin

  // private[graft]: StreamingQueries' continuous-ingestion probes are
  // gated by the SAME all-docs mirrors (stream == batch by construction
  // once the source drains), so the fragments are shared, not copied
  private[graft] lazy val searchBm25Sql = searchBm25SqlOver("HAVING count(*) = 3")
  private lazy val searchBm25AnySql = searchBm25SqlOver("")
  // the k=20 disjunctive candidate list the hybrid-RRF fusion consumes
  // (SimilarityQueries nests it as a scoped subquery — shared builder,
  // so the lexical leg of the fused mirror can never drift from the
  // gated BM25 mirrors)
  private[graft] lazy val searchBm25AnyList20Sql = searchBm25SqlOver("", 20)

  /** Mirror of [[SearchOps.searchQld]] (Dirichlet μ = 2000, query
    * spark/vector/window) parameterized over the cut — shared by the
    * gated probe and the RRF fusion's QLD leg. */
  private[graft] def searchQldSql(k: Int): String =
    s"""WITH idx AS (SELECT t.token AS term, doc_id, count(*) AS tf
      |  FROM documents, LATERAL unnest(${OracleSql.toks}) t(token) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM idx GROUP BY 1),
      |ct AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total FROM dl),
      |q AS (SELECT term, doc_id, CAST(tf AS BIGINT) AS tf FROM idx
      |  WHERE term IN ('spark', 'vector', 'window')),
      |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM q GROUP BY 1),
      |grid AS (SELECT c.doc_id, t.term
      |  FROM (SELECT DISTINCT doc_id FROM q) c
      |  CROSS JOIN (SELECT unnest(['spark', 'vector', 'window']) AS term) t),
      |g2 AS (SELECT grid.term, grid.doc_id,
      |    coalesce(q.tf, 0)::BIGINT AS tf
      |  FROM grid LEFT JOIN q
      |    ON q.term = grid.term AND q.doc_id = grid.doc_id),
      |sc AS (SELECT doc_id, CAST(floor(1000000.0 *
      |    ln((tf * c_total + 2000 * cf)::DOUBLE /
      |       (c_total * (dl + 2000))::DOUBLE)) AS BIGINT) AS addend
      |  FROM g2 JOIN cf USING (term) JOIN dl USING (doc_id) CROSS JOIN ct),
      |hits AS (SELECT doc_id, CAST(sum(addend) AS BIGINT) AS score
      |  FROM sc GROUP BY 1)
      |SELECT doc_id, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      |FROM hits ORDER BY rk LIMIT $k""".stripMargin

  private[graft] lazy val searchAndSql =
    s"""WITH idx AS (SELECT t.token AS term, doc_id, count(*) AS tf
      |  FROM documents, LATERAL unnest(${OracleSql.toks}) t(token) GROUP BY 1, 2),
      |hits AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
      |  FROM idx WHERE term IN ('spark', 'vector', 'window')
      |  GROUP BY doc_id HAVING count(*) = 3)
      |SELECT doc_id, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      |FROM hits ORDER BY rk LIMIT 10""".stripMargin

  // private[graft]: MultimodalQueries' binary dedup mirrors the same
  // injected-dup corpus so the two fixtures cannot drift
  private[graft] val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, 'xdup ' || text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  // shared DuckDB mirror fragments — single definitions in [[OracleSql]]
  private val toksSql = OracleSql.toks

  /** Shared mirror of [[graft.operators.Dedup.removeDuplicateSpans]]
    * (positional 8-gram span erasure over corpus-wide min/max doc per
    * gram); `docFilter` restricts the OUTPUT rows — the incremental
    * probe is the same computation restricted to the batch docs. */
  private def spanRemovalSql(docFilter: String): String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |    array_to_string(toks[i:i+7], ' ') AS gram
      |  FROM d, LATERAL unnest(CASE WHEN len(toks) >= 8
      |    THEN range(1, len(toks) - 6) ELSE [] END) AS t(i)),
      |gd AS (SELECT gram, min(doc_id) AS mn, max(doc_id) AS mx
      |  FROM g GROUP BY gram),
      |cov AS (SELECT DISTINCT g.doc_id, g.pos + r.j AS cpos
      |  FROM g JOIN gd USING (gram), LATERAL unnest(range(0, 8)) AS r(j)
      |  WHERE gd.mn <> gd.mx),
      |tok AS (SELECT doc_id, unnest(toks) AS tok,
      |    unnest(range(1, len(toks) + 1)) AS pos FROM d),
      |kept AS (SELECT t.doc_id,
      |    string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text,
      |    count(*) AS n_kept
      |  FROM tok t LEFT JOIN cov c
      |    ON t.doc_id = c.doc_id AND t.pos = c.cpos
      |  WHERE c.cpos IS NULL GROUP BY t.doc_id)
      |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
      |  CAST(len(d.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
      |FROM d LEFT JOIN kept k USING (doc_id)
      |WHERE $docFilter ORDER BY doc_id""".stripMargin
  private def shinglesSql(toks: String): String = OracleSql.shingles(toks)
  private def stopHitsSql(toks: String, lang: String): String =
    OracleSql.stopHits(toks, lang)

  /** The MinHash+LSH candidate/verify pipeline as a reusable CTE chain
    * ending in `dup_pairs (id_a, id_b, jaccard)` — shared by the
    * `dedup_minhash` oracle and the `dedup_clusters` component walk. */
  // private[graft]: PipelineQueries' ingestion capstone reuses the same
  // dup_pairs chain so its dup flag can never drift from dedup_incremental
  private[graft] lazy val minhashPairCtes: String = {
    val mhFast = (0 until 8).map { i =>
      s"list_aggregate(list_transform(hs, h -> substr(h, ${i * 4 + 1}, 4)), 'min')"
    }.mkString("[", ", ", "]")
    val interSql = "CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)"
    val jacDSql = s"round($interSql / (sa.n_sh + sb.n_sh - $interSql), 6)"
    s"""$corpusSql,
      |t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
      |s0 AS (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM t),
      |h0 AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs
      |  FROM s0 WHERE len(shingles) > 0),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(hs, h -> ('0x' || substr(h, 1, 15))::BIGINT)) AS ds,
      |  len(list_distinct(list_transform(hs, h -> ('0x' || substr(h, 1, 15))::BIGINT))) AS n_sh,
      |  $mhFast AS mh FROM h0),
      |bands AS (
      |  SELECT doc_id, 0 AS band, mh[1] || '|' || mh[2] AS bkey FROM sh
      |  UNION ALL SELECT doc_id, 1, mh[3] || '|' || mh[4] FROM sh
      |  UNION ALL SELECT doc_id, 2, mh[5] || '|' || mh[6] FROM sh
      |  UNION ALL SELECT doc_id, 3, mh[7] || '|' || mh[8] FROM sh),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |dup_pairs AS (SELECT id_a, id_b, $jacDSql AS jaccard
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = id_a
      |  JOIN sh sb ON sb.doc_id = id_b
      |  WHERE $jacDSql >= 0.5)""".stripMargin
  }

  def queries: Map[String, Query] = Map[String, Query](

    "text_token_count" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    "text_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // classifier eval for the langid heuristic: full confusion matrix
    // (truth × prediction counts) plus per-truth-label accuracy in ppm
    // — the third eval-family member after the recall audits and the
    // rank-quality metric: every heuristic the pipeline ships carries
    // a measured error rate, not an asserted one
    "text_langid_eval" -> ((s, dir) => {
      val pred = Tables.documents(s, dir).select(col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
      val conf = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = conf.groupBy(col("lang"))
        .agg(sum(col("n")).as("lang_n"),
          sum(when(col("lang") === col("lang_pred"), col("n"))
            .otherwise(0L)).as("lang_hit"))
      conf.join(tot, Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("n"), col("lang_n"),
          expr("lang_hit * 1000000 div lang_n").as("lang_acc_ppm"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // COHEN'S KAPPA for the langid heuristic (r20) — chance-corrected
    // agreement κ = (p_o − p_e)/(1 − p_e): the eval number accuracy
    // can't give on an imbalanced label mix (a constant-majority
    // predictor scores high accuracy but κ ≈ 0). Exact integer
    // rational: κ_ppm = (N·Σdiag − Σ_k r_k·c_k)·1e6 div (N² − Σ r_k c_k)
    // with the PORTABLE floor-div (κ < 0 — worse than chance — is
    // real, and truncate ≠ floor on negatives). One confusion-matrix
    // agg + two marginal folds, all k²-bounded.
    "text_langid_kappa" -> ((s, dir) => {
      val conf = Tables.documents(s, dir)
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val r = conf.groupBy(col("lang")).agg(sum(col("n")).as("rn"))
      val c = conf.groupBy(col("lang_pred")).agg(sum(col("n")).as("cn"))
      val pe = r.join(c, col("lang") === col("lang_pred"))
        .agg(coalesce(sum(expr("CAST(rn AS DECIMAL(38,0)) * cn")), lit(0L))
          .as("pe_num"))
      val po = conf.agg(sum(col("n")).as("nn"),
        coalesce(sum(when(col("lang") === col("lang_pred"), col("n"))),
          lit(0L)).as("po_num"))
      po.crossJoin(broadcast(pe))
        .select(col("nn").as("n_docs"), col("po_num"),
          col("pe_num").cast("long").as("pe_num"),
          expr("po_num * 1000000 div nn").as("accuracy_ppm"),
          expr("""((CAST(nn AS DECIMAL(38,0)) * po_num - pe_num) * 1000000
            - ((((CAST(nn AS DECIMAL(38,0)) * po_num - pe_num) * 1000000)
                % (CAST(nn AS DECIMAL(38,0)) * nn - pe_num)
              + (CAST(nn AS DECIMAL(38,0)) * nn - pe_num))
              % (CAST(nn AS DECIMAL(38,0)) * nn - pe_num)))
            div (CAST(nn AS DECIMAL(38,0)) * nn - pe_num)""")
            .as("kappa_ppm"))
    }),

    // BOWKER SYMMETRY TEST over the langid confusion (r20) — is the
    // misclassification DIRECTIONAL? κ says how much total error
    // exceeds chance; Bowker's Q = Σ_{i<j} (n_ij−n_ji)²/(n_ij+n_ji)
    // says whether errors flow one way (en→de but never de→en = a
    // biased prior, fixable; symmetric confusion = genuine ambiguity,
    // not). Off-diagonal cells symmetrized by a full-outer merge so a
    // one-sided pair still contributes (the densification lesson on
    // the confusion grid); exact integer ppm, dof = contributing
    // pairs.
    "text_langid_bowker" -> ((s, dir) => {
      val conf = Tables.documents(s, dir)
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val up = conf.filter(col("lang") < col("lang_pred"))
        .select(col("lang").as("i"), col("lang_pred").as("j"),
          col("n").as("nij"))
      val dn = conf.filter(col("lang") > col("lang_pred"))
        .select(col("lang_pred").as("i"), col("lang").as("j"),
          col("n").as("nji"))
      val terms = up.join(dn, Seq("i", "j"), "full_outer")
        .na.fill(0L, Seq("nij", "nji"))
        .select(expr("""(nij - nji) * (nij - nji) * 1000000
          div (nij + nji)""").as("term"))
      val total = conf.agg(sum(col("n")).as("n_docs"))
      terms.agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("term")), lit(0L)).as("bowker_ppm"))
        .crossJoin(broadcast(total))
        .select(col("n_docs"), col("n_pairs"), col("bowker_ppm"))
    }),

    // CROSS-LANGUAGE VOCABULARY OVERLAP (r20) — per language pair
    // (a < b), the Jaccard of their token-type sets in ppm: the
    // script/lexicon contamination audit (two "languages" whose
    // vocabularies overlap heavily are either related scripts or a
    // mislabeled slice — either way the langid confusion matrix's
    // off-diagonal mass gets an explanation). The vocab-level sibling
    // of events_user_overlap; the self-join runs on the deduped
    // (lang, token) frame keyed by token, langs²-bounded output.
    "text_vocab_overlap" -> ((s, dir) => {
      val v = Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .distinct()
      val sizes = v.groupBy(col("lang")).agg(count(lit(1)).as("nv"))
      v.as("x").join(v.as("y"),
          col("x.token") === col("y.token") &&
            col("x.lang") < col("y.lang"))
        .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.withColumnRenamed("lang", "lang_a")
          .withColumnRenamed("nv", "va")), Seq("lang_a"))
        .join(broadcast(sizes.withColumnRenamed("lang", "lang_b")
          .withColumnRenamed("nv", "vb")), Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("va"), col("vb"),
          col("n_shared"),
          expr("n_shared * 1000000 div (va + vb - n_shared)")
            .as("jaccard_ppm"))
        .orderBy(col("lang_a"), col("lang_b"))
    }),

    "text_quality" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-rules document filter (Rae et al. 2021 A1.1): word-count /
    // mean-word-length / symbol-ratio / alpha-fraction bounds, every
    // signal floored-integer so the verdict hash-gates; the rule-based
    // complement to text_quality's score and text_unigram_logprob's
    // statistical filter
    "text_gopher_rules" -> ((s, dir) => {
      TextOps.gopherStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // TRAINED quality classifier (weak-supervision distillation, the
    // CCNet/GPT-3 pattern): a batch perceptron over integer doc
    // features learns the Gopher rule from its own labels on the
    // hash-80% split. The full weight TRAJECTORY gates (epoch 1 = the
    // first update from w=0) — the DuckDB oracle RE-TRAINS the model
    // in SQL, one materialized CTE layer per epoch (the BPE-trainer
    // discipline; all-integer updates make it exact)
    "text_classifier_train" -> ((s, dir) => {
      import s.implicits._
      val traj = Classifier.trajectoryFor(s, Tables.documents(s, dir), dir)
      traj.epochs.zipWithIndex
        .map { case (w, i) =>
          (i + 1L, w(0), w(1), w(2), w(3), w(4), w(5)) }
        .toDF("epoch", "b0", "b1", "b2", "b3", "b4", "b5")
        .orderBy(col("epoch"))
    }),
    // held-out margins + predictions with the trained weights — the
    // filter a production stack would then run INSTEAD of the rule
    "text_classifier_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = Classifier.trajectoryFor(s, docs, dir).epochs.last
      Classifier.score(Classifier.labeledFeatures(docs), w)
        .orderBy(col("doc_id"))
    }),
    // held-out confusion matrix + floored-ppm precision/recall/accuracy
    // — the acceptance gate before the trained filter replaces the rule
    "text_classifier_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = Classifier.trajectoryFor(s, docs, dir).epochs.last
      Classifier.eval(Classifier.labeledFeatures(docs), w)
    }),
    // deployment drift monitor (the train→eval→deploy→MONITOR
    // symmetry): fixed-bin PSI of the classifier's features between the
    // training corpus and two incoming waves — the dup wave (near-copy
    // batch, PSI small → no retrain) and a short-doc crawl wave
    // (selection-shifted, PSI large → retrain fires); both flag
    // outcomes gated
    "text_classifier_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = Classifier.labeledFeatures(docs)
      def scen(name: String, incoming: DataFrame) =
        Classifier.driftCheck(train, Classifier.labeledFeatures(incoming))
          .withColumn("scenario", lit(name))
      scen("dup_wave", dupCorpus(docs).filter(col("doc_id") >= 100000))
        .unionAll(scen("short_wave", docs.filter(col("n_chars") < 250)))
        .select(col("scenario"), col("feature"), col("n_ref"),
          col("n_cur"), col("n_buckets"), col("psi_ppm"),
          col("retrain_needed"))
        .orderBy(col("scenario"), col("feature"))
    }),

    // ------- the classifier's publish → monitor → decide → RETRAIN
    // loop (r17, VERDICT r16 #2) — the model gains the same deploy
    // symmetry the served index families carry -------

    // the PUBLISHED model: trajectory + train-time quantile bin edges
    // persisted as a versioned generation, served through the atomic
    // catalog pointer; scoring with the published weights (a plan-time
    // read of the 1-row final epoch — the model-load path) must
    // hash-match scoring with the in-process weights: same oracle,
    // another plan
    "text_classifier_published" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val gen = graft.operators.Generations.resolveServing(s,
        classifierViewFor(s, dir))
      val last = s.table(gen).orderBy(col("epoch").desc).head()
      val w = Array.tabulate(Classifier.nFeatures)(j => last.getLong(j + 1))
      Classifier.score(Classifier.labeledFeatures(docs), w)
        .orderBy(col("doc_id"))
    }),
    // the model's stored drift bins: exact 20/40/60/80th-percentile
    // order statistics of the TRAIN split's features, derived at train
    // time and persisted with the model (VERDICT r16: a deployment
    // derives edges from training-corpus quantiles, not fixture tuning)
    "text_classifier_bins" -> ((s, dir) => {
      val gen = graft.operators.Generations.resolveServing(s,
        classifierViewFor(s, dir))
      s.table(s"${gen}_bins").orderBy(col("feature"))
    }),
    // the monitor→decide edge with the PUBLISHED bins: PSI of the
    // incoming waves against the training corpus over the model's own
    // quantile edges — the dup wave must NOT fire, the short-doc crawl
    // wave MUST (both flag outcomes gated)
    "text_classifier_retrain_check" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val gen = graft.operators.Generations.resolveServing(s,
        classifierViewFor(s, dir))
      // model-sized plan-time read: 2 rows of 4 edges
      val bins = s.table(s"${gen}_bins").orderBy(col("feature")).collect()
        .map(r => r.getString(0) ->
          Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      val train = Classifier.labeledFeatures(docs)
      def scen(name: String, incoming: DataFrame) =
        Classifier.driftCheck(train, Classifier.labeledFeatures(incoming),
            edges = bins)
          .withColumn("scenario", lit(name))
      scen("dup_wave", dupCorpus(docs).filter(col("doc_id") >= 100000))
        .unionAll(scen("short_wave", docs.filter(col("n_chars") < 250)))
        .select(col("scenario"), col("feature"), col("n_ref"),
          col("n_cur"), col("n_buckets"), col("psi_ppm"),
          col("retrain_needed"))
        .orderBy(col("scenario"), col("feature"))
    }),
    // RETRAIN execution — the operation the check's verdict triggers
    // (the retrainIvfIndex symmetry): the short-doc crawl wave joins
    // the corpus (re-badged +300000) and the full epoch chain re-runs
    // over the union; the whole retrained weight TRAJECTORY gates (the
    // oracle re-trains epoch-for-epoch over the same union)
    "text_classifier_retrained" -> ((s, dir) => {
      import s.implicits._
      val traj = retrainedTrajectoryFor(s, dir)
      traj.epochs.zipWithIndex
        .map { case (w, i) =>
          (i + 1L, w(0), w(1), w(2), w(3), w(4), w(5)) }
        .toDF("epoch", "b0", "b1", "b2", "b3", "b4", "b5")
        .orderBy(col("epoch"))
    }),

    // LATE-INTERACTION retrieval (the ColBERT maxsim family — the
    // token-level scoring model between bag-of-words BM25 and
    // single-vector ANN): each document is its SET of token vectors
    // (deterministic 8-dim integer hash embeddings), and a candidate's
    // score is Σ over query tokens of the MAX dot against any of its
    // tokens. The production two-stage SERVE shape (VERDICT r18 #3):
    // CANDIDATES come from the standing inverted index (the
    // term-bucketed postings epoch — the filter pushes to the scan),
    // and MaxSim reads the PERSISTED (doc_id, tok, tv) epoch
    // ([[tokenVecIndexFor]]) pruned by the candidates' doc-id buckets
    // — no document text is read, no token hashes at probe time
    // beyond the |query| terms (Round19Spec pins the plan). Same
    // output, same oracle as the earlier tokenize-candidates form.
    "text_late_interaction" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("spark", "vector", "window")
      val q = terms.toDF("qtok")
        .select(col("qtok"), TextOps.hashTokenVecExpr("qtok").as("qv"))
      // stage 1: candidate ids from the postings index, carrying their
      // bucket so the epoch scan prunes on the partition column
      val cand = s.table(searchIndexFor(s, dir))
        .filter(col("term").isin(terms: _*))
        .select(col("doc_id")).distinct()
        .withColumn("bucket", pmod(col("doc_id"), lit(tokenVecBuckets)))
      // stage 2: MaxSim over the persisted token vectors of the
      // candidates only — a pruned index read, not a tokenization
      s.table(tokenVecIndexFor(s, dir))
        .join(broadcast(cand), Seq("bucket", "doc_id"), "left_semi")
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("qtok"),
          TextOps.intDot(col("tv"), col("qv")).as("dot"))
        .groupBy(col("doc_id"), col("qtok")).agg(max(col("dot")).as("m"))
        .groupBy(col("doc_id")).agg(sum(col("m")).as("maxsim"))
        .orderBy(col("maxsim").desc, col("doc_id")).limit(10)
    }),

    // RAKE keyphrase extraction (stopword-delimited candidate runs,
    // integer degree/freq word scores, phrase = Σ word scores): the
    // corpus-level top-20 keyphrases — full ranked list gated
    "text_rake_keyphrases" -> ((s, dir) =>
      TextOps.rakeKeyphrases(Tables.spread(Tables.documents(s, dir)),
          "doc_id", "text", k = 20)
        .orderBy(col("score").desc, col("phrase"))),

    // mutual information between the lang and source columns — the
    // corpus-composition dependence check (is a source language-skewed?)
    // every dataset card should carry: per-cell PMI in floored micro-
    // nats (the BM25-idf ln quantization) + the cell's MI contribution
    "stats_mutual_information" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val cells = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_ls"))
      val nl = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val ns = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val tot = d.agg(count(lit(1)).as("n"))
      cells.join(broadcast(nl), Seq("lang"))
        .join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_ls"),
          floor(lit(1e6) * log((col("n_ls") * col("n")).cast("double") /
              (col("n_l") * col("n_s")).cast("double")))
            .cast("long").as("pmi_micro"))
        .withColumn("mi_contrib_micro", col("n_ls") * col("pmi_micro"))
        .orderBy(col("lang"), col("source"))
    }),

    // unigram-LM quality score (the CCNet perplexity proxy): a unigram
    // model trained on the corpus itself scores each doc's mean token
    // log-prob — common-token prose high, rare-token noise low; the
    // statistical quality filter over text_quality's per-row heuristics
    "text_unigram_logprob" -> ((s, dir) => {
      TextOps.unigramLogProb(Tables.spread(Tables.documents(s, dir)),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // bigram-LM quality score — the order-2 statistical filter: mean
    // conditional log-prob ln(c(w1,w2)/c(w1,·)) per doc, catching
    // scrambled-word noise the unigram filter scores high
    "text_bigram_logprob" -> ((s, dir) => {
      TextOps.bigramLogProb(Tables.spread(Tables.documents(s, dir)),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // deterministic corpus-trained BPE (VERDICT r14 #3): the merge
    // TABLE itself, gated against a DuckDB chain that re-trains the
    // same 12 greedy merges in SQL (one materialized CTE layer per
    // step — frequency-weighted pair counts, lexicographic tie-break,
    // left-to-right non-overlapping apply)
    "text_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val m = graft.operators.Bpe.modelFor(s, Tables.documents(s, dir), dir)
      m.merges.zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b) }
        .toDF("step", "a", "b").orderBy(col("step"))
    }),

    // the trained vocabulary: distinct final symbols, lexicographic ids
    "text_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      val m = graft.operators.Bpe.modelFor(s, Tables.documents(s, dir), dir)
      m.vocab.toSeq.map { case (sym, id) => (id.toLong, sym) }
        .toDF("tid", "sym").orderBy(col("tid"))
    }),

    // SUBWORD encoding of every doc — broadcast model, narrow
    // mapPartitions with per-partition word memoization (zero shuffle;
    // the media-decode scale shape): integer-exact count, id sum, and a
    // position-weighted checksum that gates token ORDER bit-for-bit
    "text_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Bpe.encodeDocs(docs,
          graft.operators.Bpe.modelFor(s, docs, dir))
        .toDF().orderBy(col("doc_id"))
    }),

    // the tokenizer QUALITY report: corpus-level compression ratios
    // (chars/token, tokens/word in floored ppt) — the one-row summary
    // every tokenizer training run ships; words stream through a
    // broadcast vocab-bounded (word → token-count) table, one map-side
    // combined fold
    "text_bpe_compression" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val m = graft.operators.Bpe.modelFor(s, docs, dir)
      val wtab = broadcast(m.wordSyms.toSeq
        .map { case (w, syms) => (w, syms.length.toLong, w.length.toLong) }
        .toDF("w", "wn", "wlen"))
      docs.select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
        .join(wtab, Seq("w"))
        .agg(count(lit(1)).as("total_words"),
          sum(col("wlen")).as("total_chars"),
          sum(col("wn")).as("total_bpe_tokens"))
        .withColumn("chars_per_token_x1000",
          expr("total_chars * 1000 div total_bpe_tokens"))
        .withColumn("tokens_per_word_x1000",
          expr("total_bpe_tokens * 1000 div total_words"))
    }),

    // tokenizer FERTILITY by language (r19): the per-stratum form of
    // the compression report — chars/token and tokens/word per lang,
    // the audit that catches a tokenizer spending 3× the tokens on one
    // language (the training-cost and context-budget bias every
    // multilingual dataset card should carry). Same broadcast
    // vocab-bounded (word → token-count) table, one grouped fold.
    "text_bpe_fertility" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val m = graft.operators.Bpe.modelFor(s, docs, dir)
      val wtab = broadcast(m.wordSyms.toSeq
        .map { case (w, syms) => (w, syms.length.toLong, w.length.toLong) }
        .toDF("w", "wn", "wlen"))
      docs.select(col("lang"),
          explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
        .join(wtab, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total_words"),
          sum(col("wlen")).as("total_chars"),
          sum(col("wn")).as("total_bpe_tokens"))
        .withColumn("chars_per_token_x1000",
          expr("total_chars * 1000 div total_bpe_tokens"))
        .withColumn("tokens_per_word_x1000",
          expr("total_bpe_tokens * 1000 div total_words"))
        .orderBy(col("lang"))
    }),

    // HAPAX PROFILE (r20) — per language, the once-occurring share of
    // the vocabulary (V1/V) and of the token stream (V1/N): the TAIL
    // counterpart of the head-weighted Simpson number, and the
    // productivity signal behind Heaps' law (a corpus whose hapax-type
    // share collapses has stopped meeting new words — dedup leakage or
    // template mass; one whose share explodes is OCR/tokenizer junk).
    // One vocab agg, integer-exact ppm.
    "text_hapax_profile" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("f"))
        .groupBy(col("lang"))
        .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          expr("n_hapax * 1000000 div n_types").as("hapax_type_ppm"),
          expr("n_hapax * 1000000 div n_tokens").as("hapax_token_ppm"))
        .orderBy(col("lang"))
    }),

    // TERM BURSTINESS (r20) — Church & Gale's cf/df ratio for the
    // high-frequency vocabulary: a term whose collection frequency
    // concentrates in few documents (burst ≫ 1000) is topical/bursty;
    // cf ≈ df is a function word. The term-level complement of the
    // corpus-level Simpson/entropy diversity numbers, and the signal
    // behind Okapi-style within-doc saturation. cf ≥ 50 support cut,
    // deterministic (burst, cf, token) order, top 30.
    "text_term_burstiness" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
        .filter(col("cf") >= 50)
        .select(col("token"), col("cf"), col("df"),
          expr("cf * 1000 div df").as("burst_x1000"))
        .orderBy(col("burst_x1000").desc, col("cf").desc, col("token"))
        .limit(30)
    }),

    // SIMPSON diversity per language (r20) — the probability two
    // randomly drawn tokens are the SAME type, λ = Σf(f−1)/(N(N−1)),
    // reported with its 1−λ complement. The collision view of lexical
    // diversity: entropy-family metrics (mix_entropy, ngram_diversity)
    // weight the long tail; Simpson is dominated by the head, so a
    // slice drowning in stopword boilerplate moves λ long before the
    // distinct-token ratio budges. Σf(f−1) ≤ N² so the ppm product
    // runs in DECIMAL(38,0) (HUGEINT on the oracle). One token
    // explode → vocab agg → per-lang fold.
    "text_simpson_diversity" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("f"))
        .groupBy(col("lang"))
        .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(expr("f * (f - 1)")).as("coll"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          expr("""CAST(CAST(coll AS DECIMAL(38,0)) * 1000000
            div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))
            AS BIGINT)""").as("simpson_ppm"))
        .withColumn("diversity_ppm", lit(1000000L) - col("simpson_ppm"))
        .orderBy(col("lang"))
    }),

    // n-gram DIVERSITY by language (r19): distinct-over-total unigram
    // and bigram ratios in exact ppm — the corpus-level repetitiveness
    // audit (the distinct-n family): a slice whose bigram ratio
    // collapses is template/boilerplate mass the per-doc repetition
    // filter can't see. Two grouped passes over the token explode,
    // integer-exact end to end.
    "text_ngram_diversity" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = TextOps.tokens(col("text"))
      val bgArr = when(size(t) >= 2,
          zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>"))
      val uni = d.select(col("lang"), explode(t).as("g"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_unigrams"),
          countDistinct(col("g")).as("d_unigrams"))
      val bi = d.select(col("lang"), explode(bgArr).as("g"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("g")).as("d_bigrams"))
      uni.join(bi, Seq("lang"))
        .select(col("lang"), col("n_unigrams"), col("d_unigrams"),
          col("n_bigrams"), col("d_bigrams"),
          expr("d_unigrams * 1000000 div n_unigrams").as("uni_ttr_ppm"),
          expr("d_bigrams * 1000000 div n_bigrams").as("bi_ttr_ppm"))
        .orderBy(col("lang"))
    }),

    // C4-STYLE rule filter audit (Raffel et al. 2020, §2.2 — the
    // subset expressible on this fixture's single-line docs, stated as
    // such): per language, how many docs each rule would drop —
    // < 3 terminal-punctuation sentences, curly braces (code leak),
    // "lorem ipsum" (placeholder leak), < 50 words — and the ppm that
    // survives all four. The pre-training cousin of the Gopher-rules
    // entry (C4 cuts structure/leakage; Gopher cuts statistical
    // quality). One narrow per-row projection + one grouped sum.
    "text_c4_rules" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("lang"),
        (size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0))) < 3)
          .as("few_sent"),
        col("text").contains("{").as("braces"),
        lower(col("text")).contains("lorem ipsum").as("lorem"),
        (size(TextOps.tokens(col("text"))) < 50).as("short"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("few_sent"), 1L).otherwise(0L)).as("n_few_sentences"),
          sum(when(col("braces"), 1L).otherwise(0L)).as("n_braces"),
          sum(when(col("lorem"), 1L).otherwise(0L)).as("n_lorem"),
          sum(when(col("short"), 1L).otherwise(0L)).as("n_short"),
          sum(when(!col("few_sent") && !col("braces") && !col("lorem") &&
            !col("short"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("lang"), col("n_docs"), col("n_few_sentences"),
          col("n_braces"), col("n_lorem"), col("n_short"), col("n_kept"),
          expr("n_kept * 1000000 div n_docs").as("kept_ppm"))
        .orderBy(col("lang"))
    }),

    // SENTENCE-LENGTH distribution per language — the segmentation
    // profile beside the FK grade (which only sees the MEAN; packing
    // and chunking care about the tail): tokens per [.!?]-delimited
    // sentence, empty segments dropped, floored exact p90 + integer
    // mean + max. One per-row array pipeline (split → per-piece token
    // count → filter) then a grouped fold — zero UDFs.
    "text_sentence_length" -> ((s, dir) => {
      val sentArr = filter(
        transform(split(col("text"), "[.!?]"),
          x => size(TextOps.tokens(x))),
        n => n > 0)
      Tables.documents(s, dir)
        .select(col("lang"), explode(sentArr).as("sent_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sentences"),
          expr("sum(sent_tokens) div count(1)").as("mean_tokens"),
          floor(expr("percentile(sent_tokens, 0.9)")).cast("long")
            .as("p90_tokens"),
          max(col("sent_tokens")).cast("long").as("max_tokens"))
        .orderBy(col("lang"))
    }),

    // FLESCH-KINCAID readability grade per language (Kincaid 1975),
    // fully integer: the corpus-level FK of each language slice as a
    // ratio of exact sums — grade·100 = (39·W² + 1180·Y·S − 1559·W·S)
    // fdiv (W·S) over words W, sentences S (terminal-punctuation
    // count, floored at 1), vowel-group syllables Y (the standard
    // [aeiouy]+ heuristic, stated as such). Can go negative on simple
    // text, hence the portable floor-div; W² needs DECIMAL past ~10⁹
    // tokens per slice (documented, fixture is ~10⁶). One narrow
    // per-row projection + one grouped sum — the quality-stack cost
    // class.
    "text_readability_fk" -> ((s, dir) => {
      def fdiv(x: String, n: String) =
        s"(($x) - ((($x) % ($n)) + ($n)) % ($n)) div ($n)"
      Tables.documents(s, dir)
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("w"),
          greatest(lit(1L), size(regexp_extract_all(col("text"),
            lit("[.!?]"), lit(0))).cast("long")).as("st"),
          size(regexp_extract_all(lower(col("text")),
            lit("[aeiouy]+"), lit(0))).cast("long").as("y"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
          sum(col("st")).as("sentences"), sum(col("y")).as("syllables"))
        .select(col("lang"), col("n_docs"), col("words"),
          col("sentences"), col("syllables"),
          expr(fdiv(
            "39 * words * words + 1180 * syllables * sentences" +
              " - 1559 * words * sentences",
            "words * sentences")).as("fk_grade_e2"))
        .orderBy(col("lang"))
    }),

    // TEXTRANK keywords (Mihalcea & Tarau, EMNLP 2004): PageRank over
    // the token CO-OCCURRENCE graph — keywords are tokens that sit in
    // well-connected neighborhoods, not merely frequent ones (the
    // centrality upgrade over text_vocab_topk). Graph: adjacent-token
    // pairs, both non-stopword with corpus freq ≥ 10 (the cut bounds
    // the graph by VOCABULARY, not corpus size), undirected with
    // co-occurrence weights; then 2 iterations of weight-proportional
    // PageRank in exact ppb (the graph_pagerank_weighted integer
    // discipline: contribution (850·r·w) div (1000·W(u)) — BIGINT-safe
    // while edge weight ≤ ~10⁷). n and r₀ are plan-time scalars of
    // the vocab-bounded node set; every iteration is one edge⋈rank
    // shuffle + node-keyed agg. Top-20 via TakeOrderedAndProject.
    "text_textrank_keywords" -> ((s, dir) => {
      val d = Tables.spread(Tables.documents(s, dir))
      val t = TextOps.tokens(col("text"))
      val uni = d.select(explode(t).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val keep = uni
        .filter(col("c") >= 10 &&
          !col("w").isInCollection(TextOps.stopwords("en")))
        .select(col("w"))
      val bgArr = when(size(t) >= 2,
          zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val fb = d.select(explode(bgArr).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
        .join(keep.select(col("w").as("w1")), Seq("w1"), "left_semi")
        .join(keep.select(col("w").as("w2")), Seq("w2"), "left_semi")
      val e0 = fb.select(least(col("w1"), col("w2")).as("a"),
          greatest(col("w1"), col("w2")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("wt"))
      // materialize the vocab-bounded weighted edge list ONCE (the
      // ivfTopK RDD-persist leaf pattern — reference-tracked, lineage
      // kept): degree sum, node count, rank init and both iterations
      // each referenced it, so the tokenize+explode corpus pass ran
      // 5× (r20 measured 3.1 s warm → 0.9 s with the leaf)
      val eRdd = e0.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val e = s.createDataFrame(eRdd, e0.schema)
      def sym() = e.select(col("a").as("src"), col("b").as("dst"), col("wt"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst"), col("wt")))
      val wu = sym().groupBy(col("src").as("node")).agg(sum(col("wt")).as("wu"))
      // plan-time scalar over the vocab-bounded node set (the
      // GraphOps.pageRank pattern)
      val n = sym().select(col("src")).distinct().count()
      val r0 = 1000000000L / n
      val base = (150L * r0) / 1000L
      var r = sym().select(col("src").as("node")).distinct()
        .withColumn("r", lit(r0))
      for (_ <- 1 to 2) {
        r = sym().as("e")
          .join(r.as("rk"), col("e.src") === col("rk.node"))
          .join(wu.as("d"), col("e.src") === col("d.node"))
          .select(col("e.dst").as("node"),
            expr("(850 * r * wt) div (1000 * wu)").as("cc"))
          .groupBy(col("node")).agg((lit(base) + sum(col("cc"))).as("r"))
      }
      val out = r.orderBy(col("r").desc, col("node")).limit(20)
        .select(col("node").as("token"), col("r").as("rank_ppb"))
      // force the k-bounded keyword list and RELEASE the edge leaf
      // (VERDICT r20 #6): no persisted RDD outlives the query
      try s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
      finally { eRdd.unpersist(); () }
    }),

    // PMI COLLOCATIONS (Church & Hanks, CL 1990): the top bigram
    // collocations by pointwise mutual information — the classic
    // phrase-mining signal ("which word pairs co-occur far above
    // chance?") behind tokenizer-vocab seeding and stopword-phrase
    // audits. PMI = ln(p_xy/(p_x·p_y)) is monotone in the inner LIFT
    // ratio c_xy·U² / (T·c_x·c_y), so the ranking is computed as that
    // ratio in exact ppm — no log quantization at all; the products
    // run in DECIMAL(38,0)/HUGEINT (c_xy·U²·1e6 passes BIGINT past
    // ~10⁷ tokens). Two wordcount-shaped aggs (unigrams, bigrams), two
    // vocab-keyed joins onto the c_xy ≥ 20 support cut (the cut kills
    // the PMI low-frequency pathology AND bounds the join), top-30 via
    // TakeOrderedAndProject.
    "text_pmi_collocations" -> ((s, dir) => {
      val d = Tables.spread(Tables.documents(s, dir))
      val t = TextOps.tokens(col("text"))
      val bgArr = when(size(t) >= 2,
          zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val cxy = d.select(explode(bgArr).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      val tb = cxy.agg(sum(col("c_xy")).as("t_big"))
      val uni = d.select(explode(t).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val ut = uni.agg(sum(col("c")).as("u_tot"))
      cxy.filter(col("c_xy") >= 20)
        .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
        .crossJoin(broadcast(tb)).crossJoin(broadcast(ut))
        .select(col("w1"), col("w2"), col("c_xy"),
          expr("""CAST(CAST(c_xy AS DECIMAL(38,0)) * u_tot * u_tot * 1000000
            div (CAST(t_big AS DECIMAL(38,0)) * c_x * c_y) AS BIGINT)""")
            .as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // HEAPS' LAW vocabulary-growth exponent: V(N) ≈ K·N^β fitted as a
    // log-log OLS over ten decile checkpoints of the doc_id-ordered
    // corpus prefix — β ≈ 0.5 is natural text, β → 1 is unbounded-
    // vocabulary noise (ids, hashes), the corpus-health cousin of the
    // Zipf slope (and the number that sizes a tokenizer's vocab
    // budget). Prefix vocab = cumulative count of each token's FIRST
    // document (one min-agg — never a re-scan per checkpoint); the
    // zipf_fit integer-regression discipline (floor(1000·ln) points,
    // exact sums, one closed-form div). Cumulative windows ride the
    // doc-id grid (the zipf/ks precedent).
    "text_heaps_law" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // rank / cum_n / cum_v are global prefix sums in doc order. The
      // r20 form stamped them with UNPARTITIONED corpus-sized windows
      // (one row per document through one task — the §2 pattern);
      // this is the scalable TWO-LEVEL range-grid cumsum the repo
      // already uses (PipelineOps.shardManifest): per-range subtotals
      // (N/R rows — the only global window left, metadata-sized) are
      // cumsum'd and broadcast back, a range-partitioned window adds
      // the within-range running sum. doc_id is unique, so the
      // two-level rank/cumsums equal the global-window originals
      // exactly — same bits, same oracle.
      val rangeSize = 100L
      val base = d.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntoks"))
        .withColumn("rng", expr(s"doc_id div $rangeSize"))
      val wOff = Window.orderBy(col("rng"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = base.groupBy(col("rng"))
        .agg(count(lit(1)).as("rng_docs"), sum(col("ntoks")).as("rng_toks"))
        .withColumn("rank_off",
          coalesce(sum(col("rng_docs")).over(wOff), lit(0L)))
        .withColumn("tok_off",
          coalesce(sum(col("rng_toks")).over(wOff), lit(0L)))
        .select(col("rng"), col("rank_off"), col("tok_off"))
      val wIn = Window.partitionBy(col("rng")).orderBy(col("doc_id"))
      val ranked = base.join(broadcast(off), Seq("rng"))
        .withColumn("rank",
          (col("rank_off") + row_number().over(wIn)).cast("long"))
        .withColumn("cum_n", col("tok_off") + sum(col("ntoks")).over(
          wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val fr = d.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fdoc"))
        .join(ranked.select(col("doc_id").as("fdoc"),
          col("rank").as("frank")), Seq("fdoc"))
        .groupBy(col("frank")).agg(count(lit(1)).as("vnew"))
      // cum_v rides the rank grid (dense 1..N), same two-level form
      val vbase = ranked.select(col("rank"), col("cum_n"))
        .join(fr, ranked("rank") === fr("frank"), "left")
        .select(col("rank"), col("cum_n"),
          coalesce(col("vnew"), lit(0L)).as("vnew"))
        .withColumn("vr", expr(s"(rank - 1) div $rangeSize"))
      val wvOff = Window.orderBy(col("vr"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val voff = vbase.groupBy(col("vr")).agg(sum(col("vnew")).as("vr_sum"))
        .withColumn("v_off", coalesce(sum(col("vr_sum")).over(wvOff), lit(0L)))
        .select(col("vr"), col("v_off"))
      val cv = vbase.join(broadcast(voff), Seq("vr"))
        .withColumn("cum_v", col("v_off") + sum(col("vnew")).over(
          Window.partitionBy(col("vr")).orderBy(col("rank"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val dd = ranked.agg(max(col("rank")).as("dd"))
      val cp = s.range(1, 11).select(col("id").as("k"))
        .crossJoin(broadcast(dd))
        .select(expr("(k * dd) div 10").as("rank"))
      broadcast(cp).join(cv, Seq("rank"))
        .select(
          floor(lit(1000.0) * log(col("cum_n").cast("double")))
            .cast("long").as("x"),
          floor(lit(1000.0) * log(col("cum_v").cast("double")))
            .cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)")
            .as("beta_ppm"))
    }),

    // SPEARMAN rank agreement between the two per-doc quality signals
    // — the rule-based heuristic score and the unigram-LM log-prob.
    // ρ ≈ 1 means the cheap heuristic is a safe proxy for the LM
    // filter; ρ ≪ 1 means the two filters keep DIFFERENT corpora and a
    // pipeline must choose deliberately. ρ = 1 − 6Σd²/(n(n²−1)) over
    // deterministic (value, doc_id)-tie-broken ranks — exact integers
    // once the ranks exist (6Σd²·1e6 runs in DECIMAL/HUGEINT: it
    // passes BIGINT around n ≈ 10⁵). The global ranks ride two
    // no-partition windows here — a single total sort each at fixture
    // scale; the 100 TB form of a global rank is the standard
    // sort + per-partition-offset zipWithIndex, same semantics.
    "stats_spearman_quality_lm" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tk = d.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("token"))
      val cnt = tk.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum(col("c")).as("n"))
      val lp = tk.join(cnt, Seq("token")).crossJoin(broadcast(tot))
        .select(col("doc_id"),
          floor(lit(1000000.0) * log(col("c").cast("double") /
            col("n").cast("double"))).cast("long").as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nt"), sum(col("lp")).as("lp_sum"))
      val j = lp.join(
        d.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q")),
        Seq("doc_id"))
        .withColumn("ra", row_number().over(Window.orderBy(
          expr("CAST(lp_sum AS DOUBLE) / nt"), col("doc_id"))).cast("long"))
        .withColumn("rb", row_number().over(Window.orderBy(
          col("q"), col("doc_id"))).cast("long"))
      j.select(((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("d2"))
        .agg(count(lit(1)).as("n_docs"), sum(col("d2")).as("sd2"))
        .select(col("n_docs"), col("sd2"),
          expr("""CASE WHEN n_docs < 2 THEN NULL ELSE
            |CAST(1000000 - (CAST(6 AS DECIMAL(38,0)) * sd2 * 1000000)
            |div (CAST(n_docs AS DECIMAL(38,0)) *
            |  (n_docs * n_docs - 1)) AS BIGINT) END""".stripMargin)
            .as("rho_e6"))
    }),

    // DUNNING LOG-LIKELIHOOD-RATIO collocations (Dunning, CL 1993):
    // the statistically-grounded sibling of the PMI ranking — LLR
    // compares the bigram's 2×2 contingency table against
    // independence via G² = 2·Σ k·ln k over cells/margins/total, so
    // (unlike PMI) it does NOT explode on rare pairs. Each k·ln k
    // term quantizes floor(1e6·k·ln k) from EXACT BIGINT counts
    // through one identical double expression (0·ln 0 = 0 by CASE);
    // margins are bigram-START/END counts (one extra groupBy each on
    // the c_xy table — vocab-bounded), total T broadcast. Same c_xy ≥
    // 20 support cut and top-30 TakeOrderedAndProject as the PMI
    // entry, so the two rankings compare like-for-like.
    "text_collocation_llr" -> ((s, dir) => {
      def t(k: String) =
        s"""CASE WHEN ($k) <= 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(1000000 * CAST($k AS DOUBLE) *
          |  ln(CAST($k AS DOUBLE))) AS BIGINT) END""".stripMargin
      val d = Tables.spread(Tables.documents(s, dir))
      val tk = TextOps.tokens(col("text"))
      val bgArr = when(size(tk) >= 2,
          zip_with(slice(tk, lit(1), size(tk) - 1),
            slice(tk, lit(2), size(tk) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val cxy = d.select(explode(bgArr).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("k11"))
      val cx = cxy.groupBy(col("w1")).agg(sum(col("k11")).as("r1"))
      val cy = cxy.groupBy(col("w2")).agg(sum(col("k11")).as("c1"))
      val tot = cxy.agg(sum(col("k11")).as("tt"))
      cxy.filter(col("k11") >= 20)
        .join(cx, Seq("w1")).join(cy, Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("k11"),
          expr(s"""2 * (${t("k11")} + ${t("r1 - k11")} + ${t("c1 - k11")}
            |+ ${t("tt - r1 - c1 + k11")} - ${t("r1")} - ${t("tt - r1")}
            |- ${t("c1")} - ${t("tt - c1")} + ${t("tt")})""".stripMargin)
            .as("llr_e6"))
        .orderBy(col("llr_e6").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // vocabulary stats: the classic wordcount shape — explode + hash agg
    // with map-side partial combine, ONE shuffle of (token, partial n);
    // top-k via TakeOrderedAndProject (distributed, never a global sort)
    "text_vocab_topk" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),

    // corpus-relative term scoring (tf-idf semantics, integer-exact):
    // the one text op that needs corpus statistics, not just the row
    // doc-doc lexical similarity: tf-idf cosine top-5 for the first 10
    // docs via the postings join — the sparse-vector twin of the dense
    // ANN probes. Weights epoch-materialized (the GraphOps backbone
    // pattern: three downstream references read a columnar file, not
    // the tokenize+agg lineage thrice); integer dot, sqrt norms,
    // round(·,6) scores
    "text_doc_sim" -> ((s, dir) => {
      def w = s.read.parquet(tfidfWeightsDir(s, dir))
      val norms = w.groupBy(col("doc_id")).agg(sum(col("wq") * col("wq")).as("nsq"))
      val q = w.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("token"), col("wq").as("qw"))
      val dots = q.join(
          w.select(col("doc_id").as("c_id"), col("token"), col("wq").as("cw")),
          Seq("token"))
        .filter(col("q_id") =!= col("c_id"))
        .groupBy(col("q_id"), col("c_id")).agg(sum(col("qw") * col("cw")).as("dot"))
      val qn = norms.select(col("doc_id").as("q_id"), col("nsq").as("qn"))
      val cn = norms.select(col("doc_id").as("c_id"), col("nsq").as("cn"))
      val scored = dots.join(qn, Seq("q_id")).join(cn, Seq("c_id"))
        .select(col("q_id"), col("c_id"),
          round(col("dot").cast("double") /
            (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double"))), 6)
            .as("cos6"))
      val wnd = Window.partitionBy(col("q_id"))
        .orderBy(col("cos6").desc, col("c_id"))
      scored.withColumn("rk", row_number().over(wnd).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    // the top-100 vocabulary — the corpus-health diagnostic (natural
    // text ≈ −1; synthetic/templated corpora flatten). Both logs are
    // milli-quantized (1e3 — ppm would overflow the ×1e6 slope scale),
    // and the slope is computed on the NEGATED numerator so the
    // truncating-vs-floor div convention never sees a negative quotient
    "text_zipf_fit" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      // top-100 via orderBy+limit (TakeOrderedAndProject — the
      // distributed top-k), never a rank filter behind a vocab-sized
      // unpartitioned window; the rank is stamped on the 100-row leaf
      // (the dsirSelect/rm3Terms pattern — identical selection and
      // rank under the same (freq desc, token) total order)
      val w = Window.orderBy(col("freq").desc, col("token"))
      tok.orderBy(col("freq").desc, col("token")).limit(100)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(
          floor(lit(1000.0) * log(col("rank").cast("double")))
            .cast("long").as("x"),
          floor(lit(1000.0) * log(col("freq").cast("double")))
            .cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          (-expr("(sx * sy - n * sxy) * 1000000 div (n * sxx - sx * sx)"))
            .as("slope_ppm"))
    }),

    // keyword-in-context snippet extraction (the serving tail of every
    // search stack): first-occurrence position of the query term, ±30
    // chars of context, first 10 matching docs — narrow per-row string
    // ops and a distributed TakeOrdered; character-based substring/
    // locate semantics agree across engines on UTF-8
    "text_search_snippet" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .withColumn("pos", locate("spark", col("t")).cast("long"))
        .filter(col("pos") > 0)
        .orderBy(col("doc_id")).limit(10)
        .select(col("doc_id"), col("pos"),
          expr("substring(t, greatest(1L, pos - 30), 80)").as("snippet"))
    }),

    // hashing-trick vectorizer (signed feature hashing): token →
    // md5-portable bucket in [0,64), ±1 sign from the next hex digit's
    // parity (the debiasing trick of Weinberger et al.) — the fixed-
    // width bag-of-words a training pipeline feeds a linear model when
    // the vocabulary is unbounded. Narrow per-doc work, no corpus state
    "text_feature_hash" -> ((s, dir) => {
      val tok = TextOps.tokens(col("text"))
      Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), explode(tok).as("token"))
        .select(col("doc_id"),
          (conv(substring(md5(col("token")), 1, 4), 16, 10).cast("long") % 64)
            .as("bucket"),
          when(conv(substring(md5(col("token")), 5, 1), 16, 10)
              .cast("long") % 2 === 0, 1L).otherwise(-1L).as("sign"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("sign")).as("feat"))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    "text_distinctive_terms" -> ((s, dir) => {
      TextOps.distinctiveTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rk"))
    }),

    "text_repetition" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.repetitionScore(TextOps.tokens(col("text"))).as("rep_score"))
        .orderBy(col("doc_id"))
    }),

    "text_fingerprint" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("content_md5"),
        coalesce(TextOps.minhash(TextOps.shingles(toks), "s0"), lit("")).as("minhash0"))
        .orderBy(col("doc_id"))
    }),

    "dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(dupCorpus(Tables.documents(s, dir)), "doc_id", "text")
        .orderBy(col("content_hash"))
    }),

    "dedup_minhash" -> ((s, dir) => {
      Dedup.minhashPairs(dupCorpus(Tables.documents(s, dir)), "doc_id", "text",
          numHashes = 8, numBands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // DEDUP THRESHOLD SWEEP — the curation dial read before committing
    // to a cut: for each candidate Jaccard threshold above the band
    // index's 0.5 recall floor, how many near-dup pairs fire and how
    // many docs would drop. ONE pass builds the verified pair table
    // (the dedup_minhash machinery); the sweep is a broadcast join of
    // 5 literal thresholds against the mutation-sized pairs — the
    // whole report costs one extra KB-join over the entry it rides on
    // (the pipeline_temperature_sweep discipline: sweep the dial in
    // one query, not five). Grid densified (left join) so a threshold
    // that drops nothing still reports its zero row.
    "dedup_threshold_sweep" -> ((s, dir) => {
      val sparkS = s; import sparkS.implicits._
      val pairs = Dedup.minhashPairs(dupCorpus(Tables.documents(s, dir)),
        "doc_id", "text", numHashes = 8, numBands = 4, threshold = 0.5)
      val th = Seq(500L, 600L, 700L, 800L, 900L).toDF("threshold_x1000")
      broadcast(th).join(pairs,
          col("jaccard") >= col("threshold_x1000") / lit(1000.0), "left")
        .groupBy(col("threshold_x1000"))
        .agg(count(col("id_a")).as("n_pairs"),
          countDistinct(col("id_b")).as("n_docs_dropped"))
        .orderBy(col("threshold_x1000"))
    }),

    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhashSignatures(dupCorpus(Tables.documents(s, dir)), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "dedup_jaccard_bucket" -> ((s, dir) => {
      Dedup.jaccardPairsWithinBucket(dupCorpus(Tables.documents(s, dir)),
          "doc_id", "text", "source", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // CONTAINMENT near-dup (the asymmetric metric): a short doc wholly
    // embedded in a long one scores 1.0 where Jaccard dilutes toward
    // |A|/|B| — the quote-farm/wrapper-page detector curation stacks
    // run NEXT TO jaccard; same bucket-bounded pairwise machinery
    "dedup_containment_bucket" -> ((s, dir) => {
      Dedup.containmentPairsWithinBucket(dupCorpus(Tables.documents(s, dir)),
          "doc_id", "text", "source", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact dedup under NORMALIZATION (lowercase, strip punctuation,
    // collapse whitespace): catches trivially-reformatted copies a raw
    // byte hash misses — the cheap first rung of the dedup ladder
    "dedup_exact_normalized" -> ((s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      dupCorpus(Tables.documents(s, dir))
        .select(col("doc_id"), md5(norm).as("content_hash"))
        .groupBy(col("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("content_hash"))
    }),

    // ingestion-time dedup: the injected dup docs (ids >= 100000) arrive
    // as a BATCH against the originals as the standing corpus — only
    // cross pairs (batch × corpus) are in scope; batch-internal dups are
    // the next full pass's job. Oracle = the full minhash pair pipeline
    // restricted to cross pairs (the bipartite join must find exactly
    // the cross subset of what the full pass finds).
    "dedup_incremental" -> ((s, dir) => {
      val corpus = dupCorpus(Tables.documents(s, dir))
      Dedup.incrementalMinhashPairs(
          existing = corpus.filter(col("doc_id") < 100000),
          incoming = corpus.filter(col("doc_id") >= 100000),
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("new_id"), col("old_id"))
    }),

    // band-index MONITORING — the dedup twin of sim_ann_ivf_stats: per
    // band, the bucket count, row count, and hottest bucket size. The
    // hot-bucket signal is what drives probe cost (in-bucket work is
    // pairwise; BoundedPairs salts it, but a persistently hot bucket
    // means the shingle space needs re-sharding — the band family's
    // "retrain" analog). One map-side-combined shuffle over two pruned
    // columns of the index; integer-exact.
    "dedup_band_stats" -> ((s, dir) => {
      s.table(bandIndexFor(s, dir))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
          max(col("n")).as("max_bucket"))
        .orderBy(col("band"))
    }),

    // band-index re-shard DECISION — the thresholded verdict over the
    // distribution dedup_band_stats reports, closing the band family's
    // monitor→remedy edge (sim_ann_ivf_retrain_check's discipline):
    // integer-exact floored signals, one row, reshard boolean
    "dedup_band_reshard_check" -> ((s, dir) =>
      Dedup.bandReshardCheck(s, bandIndexFor(s, dir))),

    // survivor selection: connected components over the minhash pair
    // graph (pairs alone under-merge — a~b, b~c is ONE dup family even if
    // a,c never shared a band). cluster_id = min doc id in the component.
    "dedup_clusters" -> ((s, dir) => {
      Dedup.nearDupClusters(
          Dedup.minhashPairs(dupCorpus(Tables.documents(s, dir)), "doc_id", "text",
            numHashes = 8, numBands = 4, threshold = 0.5))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          (col("id") === col("label")).as("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    // ...and the one-screen CLUSTER-SIZE census over the same walk:
    // how near-dup mass distributes across cluster sizes (n_removable
    // = (size−1)·clusters is exactly the dedup saving at each size) —
    // the df-histogram's cluster-level sibling, read before choosing
    // keep-one vs quality-argmax survivorship.
    "dedup_cluster_size_hist" -> ((s, dir) => {
      Dedup.nearDupClusters(
          Dedup.minhashPairs(dupCorpus(Tables.documents(s, dir)), "doc_id",
            "text", numHashes = 8, numBands = 4, threshold = 0.5))
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
        .orderBy(col("cluster_size"))
    }),

    // survivor selection BY QUALITY — the curation policy layered on
    // the cluster structure: within each near-dup family keep the
    // highest-quality member (ppm-quantized score, doc_id tie-break)
    // instead of the structural min-id. Per-cluster window — the
    // fold is partitioned by cluster, never global; singleton docs
    // (no dup edge) are trivially survivors and not emitted here
    "dedup_survivors_quality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = dupCorpus(Tables.documents(s, dir))
      val clusters = Dedup.nearDupClusters(
          Dedup.minhashPairs(corpus, "doc_id", "text",
            numHashes = 8, numBands = 4, threshold = 0.5))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val q = Tables.spread(corpus).select(col("doc_id"),
        floor(TextOps.qualityScore(col("text")) * lit(1000000.0))
          .cast("long").as("q_ppm"))
      val byQuality = Window.partitionBy(col("cluster_id"))
        .orderBy(col("q_ppm").desc, col("doc_id"))
      clusters.join(q, Seq("doc_id"))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
        .withColumn("rk", row_number().over(byQuality))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"),
          col("q_ppm"), col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // INCREMENTAL cluster maintenance (Dedup.mergeClusters): the
    // standing assignment (a persisted epoch table — the previous full
    // pass) merged with the arriving batch's cross pairs (band-index
    // probe — the serving path) and internal pairs. Must hash-match
    // dedup_clusters' full-recompute oracle EXACTLY — including batch
    // docs that BRIDGE two standing clusters into one (both re-label
    // to the common minimum, the case label-reuse schemes get wrong).
    // Per-batch cost: |V| star edges + batch pairs through the star
    // fixpoint — never the full pair graph.
    "dedup_clusters_incremental" -> ((s, dir) => {
      val corpus = dupCorpus(Tables.documents(s, dir))
      val batch = corpus.filter(col("doc_id") >= 100000)
      val cross = Dedup.probeBandIndex(s, bandIndexFor(s, dir), batch,
          "doc_id", "text", threshold = 0.5)
        .select(col("old_id").as("id_a"), col("new_id").as("id_b"))
      val internal = Dedup.minhashPairs(batch, "doc_id", "text",
          numHashes = 8, numBands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.mergeClusters(s.table(clusterLabelsFor(s, dir)),
          cross.unionByName(internal))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          (col("id") === col("label")).as("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    // duplicate n-gram fraction: how much of each doc's distinct 3-gram
    // set also appears in OTHER docs (boilerplate/template signal; plain
    // corpus — the injected-dup fixture would only saturate it)
    // WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    // 2003 — the MOSS algorithm): from each doc's ORDERED 3-shingle
    // hash sequence, keep the minimum of every w = 4 window — the
    // fingerprint subset that GUARANTEES any shared run of ≥ w+k−1
    // tokens surfaces in both docs (the property minhash can only
    // promise probabilistically). Candidate pairs share a fingerprint
    // with document frequency ≤ 8 (the standard stop-fingerprint cut —
    // it bounds the per-print pair fan-out at scale, exactly like the
    // band-bucket caps elsewhere); ranked by shared-print count. All
    // expression-level array ops (transform/slice/array_min) — zero
    // UDFs, and the 60-bit md5-prefix hash is the engine-portable one
    // the shingle family already uses.
    "dedup_winnowing" -> ((s, dir) => {
      val t = TextOps.tokens(col("text"))
      val hs = transform(TextOps.shingles(t),
        sh => conv(substring(md5(sh), 1, 15), 16, 10).cast("long"))
      val prints = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), hs.as("hs"))
        .select(col("doc_id"),
          explode(when(size(col("hs")) >= 4,
            array_distinct(transform(
              sequence(lit(1), size(col("hs")) - 3),
              j => array_min(slice(col("hs"), j, lit(4))))))
            .otherwise(array_distinct(col("hs")))).as("fp"))
      val df = prints.groupBy(col("fp")).agg(count(lit(1)).as("ndf"))
      val kept = prints.join(df.filter(col("ndf") <= 8), Seq("fp"))
      kept.as("a").join(kept.as("b"),
          col("a.fp") === col("b.fp") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // SHINGLE DOCUMENT-FREQUENCY HISTOGRAM (r20) — how duplicated is
    // the corpus at 3-shingle granularity? df = 1 is unique prose,
    // df ≥ 2 is shared mass (quotes, templates, true dups); the
    // histogram is the one-screen duplication fingerprint that says
    // whether MinHash/span-removal have anything to harvest BEFORE
    // paying for them. Per-doc-distinct 60-bit shingle hashes (the
    // decontaminate keys), df from a hash-keyed count, histogram from
    // a df-keyed count — two tiny aggs over the explode.
    "dedup_shingle_df_hist" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(
          TextOps.hashedShingles(TextOps.shingles(toks)))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))
        .orderBy(col("df"))
    }),

    "dedup_crossdoc_ngrams" -> ((s, dir) => {
      Dedup.crossDocNgramStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // exact-substring span removal (the span-level dedup document-level
    // passes can't reach): every 8-token window whose text appears in
    // another doc is cut, the surrounding text kept — on this fixture
    // the injected near-dup pairs collapse to their distinguishing
    // tokens while the 453 clean docs pass through byte-identical
    "dedup_span_removal" -> ((s, dir) => {
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // the DATASET CARD rollup — the per-source corpus report every
    // curation run publishes (docs, language spread, token volume,
    // quality level, size shape). Integer-exact: quality averages in
    // ppm via integer division over the gated per-doc quality values
    "text_corpus_report" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          TextOps.tokenCount(col("text")).as("nt"),
          TextOps.qualityScore(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("nt")).as("total_tokens"),
          expr("sum(cast(floor(q * 1000000) as bigint)) div count(1)")
            .as("avg_quality_ppm"),
          expr("sum(n_chars) div count(1)").as("avg_chars"),
          min(col("nt")).cast("long").as("min_tokens"),
          max(col("nt")).cast("long").as("max_tokens"))
        .orderBy(col("source"))
    }),

    // the INCREMENTAL form: even-id docs are the standing corpus (gram
    // index, epoch-built), odd-id docs the arriving batch — cleaned
    // against corpus ∪ batch without re-reading the corpus, and gated
    // by the SAME full-recompute oracle restricted to the batch docs
    "dedup_span_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.probeGramIndex(s, gramIndexFor(s, dir),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // ...the same probe against the GROWN-then-COMPACTED generation
    // (build on half the evens, append the rest, compact the per-append
    // gram rows away) — compaction is result-invisible by construction,
    // so the oracle is unchanged: one oracle, another plan
    "dedup_span_compacted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.probeGramIndex(s, gramCompactedIndexFor(s, dir),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // the gram family's compaction VERDICT over the grown epoch: its
    // debt is duplicate rows per gram (one per append wave), and at 5‰
    // the threshold fires — integer-exact, mirrored from the wave
    // construction itself
    "dedup_span_compaction_check" -> ((s, dir) => {
      Dedup.gramCompactionCheck(s, gramGrownIndexFor(s, dir))
    }),
    // ...and the same probe through Generations.publishPointer serving
    // (the gram index joins the pointer-published families): promotion
    // is one atomic view replace, the probe dereferences the pointer
    // and must stay result-identical — one oracle, two serving paths
    "dedup_span_published" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.probeGramIndex(s, gramPointerViewFor(s, dir),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // string-distance family: per doc, edit distance of its 32-char
    // prefix to its language's anchor doc (min doc_id) — linear anchor
    // comparison, not pairwise (BoundedPairs is the pairwise path)
    "text_edit_distance" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 32).as("p"))
      val anchors = d.groupBy(col("lang"))
        .agg(min_by(col("p"), col("doc_id")).as("anchor_p"))
      d.join(broadcast(anchors), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          levenshtein(col("p"), col("anchor_p")).as("edit_dist"))
        .orderBy(col("doc_id"))
    }),

    // keyword retrieval: the posting-list index and a conjunctive
    // all-terms search ranked by total tf (SearchOps)
    "text_search_index" -> ((s, dir) => {
      SearchOps.invertedIndex(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("term"), col("doc_id"))
    }),
    "text_search_and" -> ((s, dir) => {
      SearchOps.searchAllTerms(
          SearchOps.invertedIndex(Tables.documents(s, dir), "doc_id", "text"),
          terms = Seq("spark", "vector", "window"), k = 10)
        .orderBy(col("rk"))
    }),
    // the same search against the PERSISTED bucketed index (epoch write
    // once per (session, dir); the probe bucket-prunes on term) — must
    // hash-match text_search_and exactly
    "text_search_indexed" -> ((s, dir) => {
      SearchOps.probeSearchIndex(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 10)
        .orderBy(col("rk"))
    }),
    // RANKED retrieval: BM25 over the persisted index + doc-length
    // sidecar — floor-quantized integer idf per query term, exact
    // rational tf part, integer addends (order-independent sum); the
    // probe keeps the bucket-pruned term scan. Raw-tf ranking is the
    // first thing a retrieval user replaces; this is the replacement.
    "text_search_bm25" -> ((s, dir) => {
      SearchOps.searchBm25(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 10)
        .orderBy(col("rk"))
    }),

    // QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (Zhai &
    // Lafferty 2001, r19) — the language-modeling scorer next to BM25:
    // an absent query term still contributes its smoothed collection
    // mass, so the candidate×term grid scores densely (tf → 0 via
    // left join); each addend is one floor(1e6·ln(BIGINT/BIGINT)),
    // candidates from the same bucket-pruned postings
    "text_search_qld" -> ((s, dir) => {
      SearchOps.searchQld(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 10)
        .orderBy(col("rk"))
    }),

    // attribute-FILTERED BM25 (the lexical twin of sim_ann_ivf_filtered
    // — filtered serving now covers both retrieval families): only
    // lang='en' docs may rank, filtered BEFORE the top-k cut; corpus
    // statistics stay global (a filter narrows candidates, it does not
    // re-weight idf/dl)
    "text_search_bm25_filtered" -> ((s, dir) => {
      SearchOps.searchBm25Filtered(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 10,
          allowed = Tables.documents(s, dir)
            .filter(col("lang") === "en").select(col("doc_id")))
        .orderBy(col("rk"))
    }),
    // RM3 pseudo-relevance feedback (Lavrenko & Croft 2001): probe →
    // top-5 feedback docs → 3 heaviest non-query terms mined from an
    // id-pruned scan of the feedback docs → expanded DISJUNCTIVE
    // re-probe on the same bucket-pruned index plan. The recall tool
    // for vocabulary mismatch, layered on the gated BM25 probes
    "text_search_rm3" -> ((s, dir) => {
      SearchOps.searchBm25Rm3(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 10,
          docs = Tables.documents(s, dir))
        .orderBy(col("rk"))
    }),
    // ...and the feedback loop's auditable intermediate: the expansion
    // terms themselves, weight = summed tf over the feedback docs (the
    // RM1 estimator with uniform doc priors — integer-exact)
    "text_search_rm3_terms" -> ((s, dir) => {
      SearchOps.rm3Terms(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"),
          docs = Tables.documents(s, dir), nFeedback = 5, mExpand = 3)
        .orderBy(col("rk"))
    }),
    // search-index MONITORING — posting-list skew in one row: term
    // count, posting count, hottest term's df, and the floored
    // max-over-mean signal (the retrain_check discipline). A hot
    // posting list is retrieval's probe-cost tail exactly like a hot
    // IVF list — this is the signal that a stopword crept past
    // tokenization or the bucket count needs raising.
    "text_search_stats" -> ((s, dir) => {
      s.table(searchIndexFor(s, dir))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("n_postings"),
          max(col("df")).as("max_df"))
        .withColumn("max_over_mean_x1000",
          expr("max_df * 1000 div (n_postings div n_terms)"))
    }),

    // search-index re-shard DECISION — text_search_stats' signals plus
    // the absolute-concentration one, thresholded to a verdict row (the
    // retrain_check discipline, VERDICT r11 #2): the operator a
    // deployment polls to decide when the bucket count needs raising
    "text_search_reshard_check" -> ((s, dir) =>
      SearchOps.searchReshardCheck(s, searchIndexFor(s, dir))),

    // compaction-cadence DECISION (Generations.compactionCheck — the
    // monitor completing the maintenance symmetry: retrain, re-shard,
    // and settle each have one; this is the COMPACT edge's): over the
    // DELETE epoch's generation the poison batch is pure tombstone
    // load — every probe pays its anti-join until compaction purges
    // it. One integer-exact verdict row, mirrored from the fixture's
    // poison definition (%11 docs re-badged +300000); the 83‰ load
    // crosses the 50‰ threshold, so `compact` must fire.
    "text_search_compaction_check" -> ((s, dir) => {
      val gen = searchDeleteIndexFor(s, dir)
      graft.operators.Generations.compactionCheck(s, gen,
        s.table(s"${gen}_doclens"))
    }),

    // ...the band family's form over its own DELETE epoch (poison =
    // the %3 batch twins): 250‰ — compact fires
    "dedup_band_compaction_check" -> ((s, dir) => {
      val gen = bandDeleteIndexFor(s, dir)
      graft.operators.Generations.compactionCheck(s, gen,
        s.table(gen).select(col("old_id")).distinct())
    }),

    // disjunctive (ANY-term) BM25 — the textbook form: subset matches
    // rank too, scored by the terms they have. Same scorer (shared
    // bm25Ranked), so conjunctive and disjunctive can't drift.
    "text_search_bm25_any" -> ((s, dir) => {
      SearchOps.searchBm25Any(s, searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 10)
        .orderBy(col("rk"))
    }),
    // positional phrase search (overlapping occurrences count per start)
    "text_search_phrase" -> ((s, dir) => {
      SearchOps.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
          phrase = Seq("table", "table"))
        .orderBy(col("doc_id"))
    }),

    // PII scrub: per-doc match counts and the md5 of the redacted text.
    // The synthetic corpus carries no natural PII, so the fixture plants
    // emails/phones/IPs deterministically by doc_id (identical
    // construction on the oracle side) — the operator itself
    // (TextOps.redactPii) is fixture-independent and spec-tested on
    // real-looking strings.
    "text_pii_redact" -> ((s, dir) => {
      val synth = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" mail u"), col("doc_id").cast("string"),
            lit("@ex-corp.io"))).otherwise(""),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" call +1 415-555-0"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"))).otherwise(""),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" host 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".7"))).otherwise(""))
      Tables.documents(s, dir).select(col("doc_id"),
          TextOps.piiCount(synth, TextOps.piiEmail).as("n_emails"),
          TextOps.piiCount(synth, TextOps.piiPhone).as("n_phones"),
          TextOps.piiCount(synth, TextOps.piiIpv4).as("n_ips"),
          md5(TextOps.redactPii(synth)).as("redacted_md5"))
        .orderBy(col("doc_id"))
    })) ++ (searchEntries ++ bandEntries).map {
      case (name, query, _) => name -> query }

  /** The BPE training chain in SQL — one MATERIALIZED CTE layer per
    * merge step, mirroring [[graft.operators.Bpe]]'s spec exactly:
    * `bpc_i` counts frequency-weighted adjacent pairs over the previous
    * word states, `bbest_i` takes the (count desc, a, b) argmax,
    * `bm_i`/`bms_i`/`bst_i` apply the merge left-to-right
    * non-overlapping (the parity term makes `aaaa` merge to [aa, aa] —
    * a merge starts only where the count of consecutive immediately-
    * preceding matches is even; for a ≠ b matches can never be
    * adjacent, so the term is vacuous there). MATERIALIZED is
    * load-bearing: each state CTE is referenced twice, and DuckDB's
    * default inlining would re-run the whole prefix chain per
    * reference — exponential in the merge count (measured: the
    * 12-layer chain never finishes inlined, 0.7 s materialized).
    * Ends with `bmerges (step, a, b)`, `bids (sym, tid)`, and
    * `bwstats (word, wn, wsum, wwsum)` in scope. */
  private[graft] def bpeCtes: String = {
    val n = graft.operators.Bpe.NumMerges
    val base =
      s"""bwords AS MATERIALIZED (SELECT unnest($toksSql) AS word FROM documents),
        |bwc AS MATERIALIZED (SELECT word, count(*)::BIGINT AS c FROM bwords GROUP BY word),
        |bst0 AS MATERIALIZED (SELECT word, c,
        |  list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms FROM bwc)""".stripMargin
    val layers = (1 to n).map { i =>
      val p = s"bst${i - 1}"
      s"""bpc$i AS MATERIALIZED (
        |  SELECT s.syms[j+1] AS a, s.syms[j+2] AS b, sum(s.c)::BIGINT AS cnt
        |  FROM $p s, unnest(range(0, len(s.syms) - 1)) AS t(j)
        |  GROUP BY 1, 2),
        |bbest$i AS MATERIALIZED (SELECT a, b FROM bpc$i ORDER BY cnt DESC, a, b LIMIT 1),
        |bm$i AS MATERIALIZED (
        |  SELECT word, c, syms, len(syms) AS L, bb.a AS ma, bb.b AS mb,
        |    list_transform(range(0, len(syms) - 1),
        |      j -> CASE WHEN syms[j+1] = bb.a AND syms[j+2] = bb.b THEN 1 ELSE 0 END) AS m
        |  FROM $p, bbest$i bb),
        |bms$i AS MATERIALIZED (
        |  SELECT word, c, syms, L, ma, mb,
        |    list_transform(range(0, L - 1),
        |      j -> CASE WHEN m[j+1] = 1 AND
        |        (j - 1 - coalesce(list_max(list_transform(range(0, j),
        |           x -> CASE WHEN m[x+1] = 0 THEN x ELSE -1 END)), -1)) % 2 = 0
        |        THEN 1 ELSE 0 END) AS msl
        |  FROM bm$i),
        |bst$i AS MATERIALIZED (
        |  SELECT word, c,
        |    flatten(list_transform(range(0, L),
        |      j -> CASE WHEN j <= L - 2 AND msl[j+1] = 1 THEN [ma || mb]
        |                WHEN j >= 1 AND msl[j] = 1 THEN []
        |                ELSE [syms[j+1]] END)) AS syms
        |  FROM bms$i)""".stripMargin
    }
    val merges = (1 to n)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a, b FROM bbest$i")
      .mkString("\n  UNION ALL ")
    val tail =
      s"""bmerges AS ($merges),
        |bvocab AS MATERIALIZED (SELECT DISTINCT s AS sym
        |  FROM (SELECT unnest(syms) AS s FROM bst$n)),
        |bids AS MATERIALIZED (SELECT sym,
        |  CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS tid FROM bvocab),
        |bwsym AS MATERIALIZED (SELECT word, t.j AS spos, syms[t.j+1] AS sym
        |  FROM bst$n, unnest(range(0, len(syms))) AS t(j)),
        |bwstats AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS wn, sum(tid)::BIGINT AS wsum,
        |    sum(tid * (spos + 1))::BIGINT AS wwsum
        |  FROM bwsym JOIN bids USING (sym) GROUP BY word)""".stripMargin
    (Seq(base) ++ layers :+ tail).mkString(",\n")
  }

  /** The per-doc encode tail over [[bpeCtes]] — ends with
    * `dstats (doc_id, n_tokens, sum_ids, checksum)` in scope (the
    * offset window reconstructs each token's GLOBAL 1-based position
    * from the per-word sums, so the checksum gates order). */
  private[graft] def bpeDocCtes: String =
    s"""$bpeCtes,
      |dw AS (SELECT doc_id, t.j AS wpos, toks[t.j + 1] AS word
      |  FROM (SELECT doc_id, $toksSql AS toks FROM documents),
      |    unnest(range(0, len(toks))) AS t(j)),
      |dj AS (SELECT doc_id, wpos, wn, wsum, wwsum FROM dw JOIN bwstats USING (word)),
      |dcum AS (SELECT *, CAST(sum(wn) OVER (PARTITION BY doc_id ORDER BY wpos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - wn AS off
      |  FROM dj),
      |dstats AS (
      |  SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_tokens,
      |    CAST(sum(wsum) AS BIGINT) AS sum_ids,
      |    CAST(sum(wwsum + off * wsum) AS BIGINT) AS checksum
      |  FROM dcum GROUP BY doc_id)""".stripMargin

  /** ⟨w, x⟩ with the weight row aliased `w` and the feature row `f` —
    * shared by every classifier oracle. */
  private[graft] val perceptronDot: String =
    (0 until Classifier.nFeatures).map(j => s"w.b$j * f.x$j").mkString(" + ")

  /** The classifier's feature/label chain (mirror of
    * [[graft.operators.Classifier.labeledFeatures]]) FROM an arbitrary
    * relation `src`, CTE names suffixed `sfx` so two chains compose in
    * one query (train on `documents`, apply to the dup `corpus`). */
  private[graft] def perceptronFeatureCtes(src: String, sfx: String): String =
    s"""t$sfx AS (SELECT doc_id, n_chars, $toksSql AS toks FROM $src),
      |c$sfx AS (SELECT doc_id, n_chars,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS total_chars,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_hits,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[#…]'))) AS BIGINT) AS sym_hits
      |  FROM t$sfx),
      |m$sfx AS (SELECT doc_id, n_chars, n_words,
      |    CASE WHEN n_words > 0 THEN total_chars * 100 // n_words ELSE 0 END AS mwl,
      |    CASE WHEN n_words > 0 THEN sym_hits * 1000000 // n_words ELSE 0 END AS sym_ppm,
      |    CASE WHEN n_words > 0 THEN alpha_hits * 1000000 // n_words ELSE 0 END AS alpha_ppm
      |  FROM c$sfx),
      |f$sfx AS MATERIALIZED (SELECT doc_id,
      |    CAST(CASE WHEN (n_words BETWEEN 50 AND 100000)
      |      AND (mwl BETWEEN 300 AND 1000) AND sym_ppm < 100000
      |      AND alpha_ppm >= 800000 THEN 1 ELSE -1 END AS BIGINT) AS y,
      |    CAST(1 AS BIGINT) AS x0, n_words AS x1, mwl // 10 AS x2,
      |    sym_ppm // 10000 AS x3, alpha_ppm // 10000 AS x4,
      |    n_chars // 10 AS x5,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80
      |      AS is_train
      |  FROM m$sfx)""".stripMargin

  /** Shared mirror of [[graft.operators.Classifier]]: the feature/label
    * frame `f` (materialized — every epoch layer references it), the
    * zero vector w0, and one MATERIALIZED epoch layer per batch
    * perceptron step (w += Σ y·x over misclassified train rows). */
  private[graft] val perceptronCtes: String =
    perceptronCtesOver("documents")

  /** [[perceptronCtes]] parameterized over the training corpus — the
    * RETRAINED model's mirror re-runs the full epoch chain over the
    * drifted union corpus (the trainRel discipline). */
  private[graft] def perceptronCtesOver(src: String): String = {
    val js = 0 until Classifier.nFeatures
    def layer(k: Int): String =
      s"""w$k AS MATERIALIZED (SELECT
         |  ${js.map(j =>
            s"CAST(max(w.b$j) + coalesce(sum(CASE WHEN f.y * ($perceptronDot) <= 0 " +
              s"THEN f.y * f.x$j END), 0) AS BIGINT) AS b$j").mkString(",\n|  ")}
         |  FROM f, w${k - 1} w WHERE f.is_train)""".stripMargin
    s"""${perceptronFeatureCtes(src, "")},
      |w0 AS (SELECT ${js.map(j => s"CAST(0 AS BIGINT) AS b$j").mkString(", ")}),
      |${(1 to 8).map(layer).mkString(",\n|")}""".stripMargin
  }

  /** The quantile-bin CTEs (`e1`, `e5` — one row of e20..e80 per
    * monitored feature) over the TRAIN split of the feature frame `f`
    * — mirror of [[graft.operators.Classifier.binEdges]]: a value
    * histogram, a cumulative window over the value-sized frame, and
    * the smallest value reaching each floored rank target. Shared by
    * the bins gate and the retrain-check gate so the stored edges and
    * the monitor can never drift. */
  private[graft] lazy val classifierBinsCtes: String =
    classifierBinsCtesOver("f", "")

  /** [[classifierBinsCtes]] parameterized over the feature relation and
    * a CTE-name suffix, so TWO generations' bin derivations compose in
    * one mirror (the streaming loop's settle check re-derives the
    * RETRAINED generation's bins over the union corpus alongside the
    * base generation's). */
  private[graft] def classifierBinsCtesOver(src: String,
      sfx: String): String = {
    def feat(x: String, out: String) =
      s"""h$out$sfx AS (SELECT $x AS v, count(*)::BIGINT AS c
        |  FROM $src WHERE is_train GROUP BY 1),
        |c$out$sfx AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h$out$sfx),
        |e$out$sfx AS (SELECT '$x' AS feature,
        |  ${Seq(20, 40, 60, 80).map(q =>
             s"min(CASE WHEN cum >= greatest(1, (SELECT n * $q // 100 FROM tn$sfx)) " +
               s"THEN v END) AS e$q").mkString(",\n|  ")}
        |  FROM c$out$sfx)""".stripMargin
    s"""tn$sfx AS (SELECT count(*)::BIGINT AS n FROM $src WHERE is_train),
      |${feat("x1", "1")},
      |${feat("x5", "5")}""".stripMargin
  }

  /** Bucket index from the quantile edges row `e`: Σ [x ≥ e_q] —
    * identical to the Spark side's when-chain. */
  private[graft] def binFromEdges(x: String): String =
    Seq(20, 40, 60, 80)
      .map(q => s"(CASE WHEN $x >= e.e$q THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** One drift-check scenario over the STORED quantile edges — the PSI
    * of an incoming feature relation (`incFeat`, aliased `g`) against
    * the reference features `f`, binned by the `e1$binsSfx`/`e5$binsSfx`
    * edge rows; emits (scenario, feature, n_ref, n_cur, n_buckets,
    * psi_ppm, retrain_needed). Shared by the batch retrain-check gate
    * and the streaming decision-log mirror so the monitor's two forms
    * can never drift. */
  private[graft] def classifierScenarioSql(scn: String, incFeat: String,
      refFeat: String = "f", binsSfx: String = ""): String =
    s"""(WITH b AS (
      |  SELECT 'x1' AS feature, (${binFromEdges("f.x1")}) AS bucket,
      |    TRUE AS is_ref FROM $refFeat f, e1$binsSfx e
      |  UNION ALL SELECT 'x5', (${binFromEdges("f.x5")}), TRUE
      |    FROM $refFeat f, e5$binsSfx e
      |  UNION ALL SELECT 'x1', (${binFromEdges("g.x1")}), FALSE
      |    FROM $incFeat g, e1$binsSfx e
      |  UNION ALL SELECT 'x5', (${binFromEdges("g.x5")}), FALSE
      |    FROM $incFeat g, e5$binsSfx e),
      |counted AS (SELECT feature, bucket,
      |    count(*) FILTER (is_ref)::BIGINT AS n1,
      |    count(*) FILTER (NOT is_ref)::BIGINT AS n2
      |  FROM b GROUP BY 1, 2),
      |tot AS (SELECT feature, CAST(sum(n1) AS BIGINT) AS big_n1,
      |    CAST(sum(n2) AS BIGINT) AS big_n2 FROM counted GROUP BY 1),
      |terms AS (SELECT c.feature, t.big_n1, t.big_n2,
      |    c.n1 * t.big_n2 - c.n2 * t.big_n1 AS diff,
      |    CAST(floor(1000000.0 * ln(
      |      CAST(c.n1 * t.big_n2 AS DOUBLE) /
      |      CAST(c.n2 * t.big_n1 AS DOUBLE))) AS BIGINT) AS ln_ppm
      |  FROM counted c JOIN tot t ON t.feature = c.feature
      |  WHERE c.n1 > 0 AND c.n2 > 0)
      |SELECT '$scn' AS scenario, feature, big_n1 AS n_ref,
      |  big_n2 AS n_cur, count(*) AS n_buckets,
      |  CAST(sum(diff * ln_ppm // (big_n1 * big_n2)) AS BIGINT)
      |    AS psi_ppm,
      |  CAST(sum(diff * ln_ppm // (big_n1 * big_n2)) AS BIGINT) > 100000
      |    AS retrain_needed
      |FROM terms GROUP BY 1, 2, 3, 4)""".stripMargin

  /** The retrain-check mirror's shared prefix: the dup corpus, the base
    * features + stored bins, and the two waves' feature chains (`fd` =
    * the near-copy wave, `fsw` = the short-doc crawl wave). */
  private[graft] lazy val classifierCheckPrefixSql: String =
    s"""$corpusSql,
      |${perceptronFeatureCtes("documents", "")},
      |$classifierBinsCtes,
      |${perceptronFeatureCtes(
         "(SELECT * FROM corpus WHERE doc_id >= 100000)", "d")},
      |${perceptronFeatureCtes(
         "(SELECT * FROM documents WHERE n_chars < 250)", "sw")}""".stripMargin

  // ------- the classifier CDC maintenance loop's mirrors (r18, VERDICT
  // r17 #1) — composed from the same builders as the batch gates so the
  // streaming and batch monitor/retrain forms can never drift -------

  /** Generation 1's training corpus: base documents ∪ the first two
    * drained waves (the dup batch and the short-doc crawl wave
    * re-badged +300000). Wave 3's PSI check reads generation 1's
    * stored bins + histogram, which derive from exactly this. */
  private[graft] lazy val streamClassifierUnion1Sql: String =
    """u1 AS MATERIALIZED (
      |  SELECT doc_id, text, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id, text, n_chars FROM corpus WHERE doc_id >= 100000
      |  UNION ALL
      |  SELECT doc_id + 300000, text, n_chars FROM documents
      |  WHERE n_chars < 250)""".stripMargin

  /** The FULLY settled streaming corpus: generation 1's corpus ∪ the
    * long-doc wave (re-badged +400000) whose drift fires the SECOND
    * retrain — generation 2's training corpus. Requires `u1`
    * ([[streamClassifierUnion1Sql]]) in scope. */
  private[graft] lazy val streamClassifierUnionSql: String =
    """u AS MATERIALIZED (
      |  SELECT doc_id, text, n_chars FROM u1
      |  UNION ALL
      |  SELECT doc_id + 400000, text, n_chars FROM documents
      |  WHERE n_chars >= 400)""".stripMargin

  /** The wave-3 building blocks: generation 1's feature frame (`fu1`),
    * its re-derived train-time bins (suffix `u1`), the long wave's
    * features (`flw`), and the PSI scenario of the long wave against
    * generation 1 — shared by the decision log and the settle
    * monitor's generation counter. Requires `u1` in scope. */
  private[graft] lazy val streamClassifierWave3Ctes: String =
    s"""${perceptronFeatureCtes("u1", "u1")},
      |${classifierBinsCtesOver("fu1", "u1")},
      |${perceptronFeatureCtes(
         "(SELECT doc_id + 400000 AS doc_id, text, n_chars FROM documents" +
           " WHERE n_chars >= 400)", "lw")},
      |w3 AS MATERIALIZED ${classifierScenarioSql("long_wave", "flw",
         refFeat = "fu1", binsSfx = "u1")},
      |f3 AS (SELECT CAST(max(CASE WHEN retrain_needed THEN 1 ELSE 0 END)
      |  AS BIGINT) AS f FROM w3)""".stripMargin

  /** The decision log's mirror: per drained wave, the per-feature PSI
    * verdict against the THEN-CURRENT generation's stored bins (waves
    * 1–2 check against generation 0's, wave 3 against generation 1's —
    * the chained case), plus the generation counters the loop
    * maintains. `gen_after` is COMPUTED (the count of fired waves so
    * far), not hardcoded — if a wave's verdict flipped, Spark would
    * check the next wave against a different generation's bins while
    * this mirror still uses the computed one's, and the gate goes loud
    * (deterministic-decomposition oracle, like every stream mirror). */
  private[graft] lazy val streamClassifierCdcSql: String =
    s"""WITH $classifierCheckPrefixSql,
      |w1 AS MATERIALIZED ${classifierScenarioSql("dup_wave", "fd")},
      |w2 AS MATERIALIZED ${classifierScenarioSql("short_wave", "fsw")},
      |f1 AS (SELECT CAST(max(CASE WHEN retrain_needed THEN 1 ELSE 0 END)
      |  AS BIGINT) AS f FROM w1),
      |f2 AS (SELECT CAST(max(CASE WHEN retrain_needed THEN 1 ELSE 0 END)
      |  AS BIGINT) AS f FROM w2),
      |$streamClassifierUnion1Sql,
      |$streamClassifierWave3Ctes
      |SELECT CAST(1 AS BIGINT) AS wave, feature, n_ref, n_cur, n_buckets,
      |  psi_ppm, retrain_needed, CAST(0 AS BIGINT) AS gen_before,
      |  (SELECT f FROM f1) AS gen_after FROM w1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), feature, n_ref, n_cur, n_buckets,
      |  psi_ppm, retrain_needed, (SELECT f FROM f1),
      |  (SELECT f FROM f1) + (SELECT f FROM f2) FROM w2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), feature, n_ref, n_cur, n_buckets,
      |  psi_ppm, retrain_needed,
      |  (SELECT f FROM f1) + (SELECT f FROM f2),
      |  (SELECT f FROM f1) + (SELECT f FROM f2) + (SELECT f FROM f3)
      |FROM w3
      |ORDER BY wave, feature""".stripMargin

  /** The served model after the drain: the full epoch chain re-trained
    * over base ∪ all three waves — generation 2's corpus (the second
    * fired retrain's — the loop appends every arriving batch to the
    * settled corpus before retraining). */
  private[graft] lazy val streamClassifierPublishedSql: String =
    s"""WITH $corpusSql,
      |$streamClassifierUnion1Sql,
      |$streamClassifierUnionSql,
      |${perceptronCtesOver("u")}
      |${(1 to 8).map(k =>
         s"SELECT CAST($k AS BIGINT) AS epoch, b0, b1, b2, b3, b4, b5 FROM w$k")
         .mkString("\n|UNION ALL\n|")}
      |ORDER BY epoch""".stripMargin

  /** The deployment path through the loop: every settled-corpus doc
    * scored with the SERVED (generation 2) weights — the mirror
    * re-trains the epoch chain over the full union and applies w8 to
    * the union's own feature frame. */
  private[graft] lazy val streamClassifierScoredSql: String =
    s"""WITH $corpusSql,
      |$streamClassifierUnion1Sql,
      |$streamClassifierUnionSql,
      |${perceptronCtesOver("u")}
      |SELECT f.doc_id, CAST($perceptronDot AS BIGINT) AS margin,
      |  ($perceptronDot) > 0 AS pred
      |FROM f, w8 w ORDER BY f.doc_id""".stripMargin

  /** The loop's post-drain freshness monitor: PSI of the SETTLED corpus
    * against the CURRENT published generation's stored bins+histogram.
    * A converged loop reads exactly zero (the served model was trained
    * on that corpus — ref and incoming histograms are identical); a
    * missed republish leaves the stale generation's histogram as the
    * reference and the gate goes loud. `generation` is the computed
    * fired-wave count, same derivation as the decision log's. */
  private[graft] lazy val streamClassifierSettleSql: String = {
    val selfPsi = classifierScenarioSql("settled", "fu",
      refFeat = "fu", binsSfx = "uu")
    s"""WITH $classifierCheckPrefixSql,
      |w1 AS MATERIALIZED ${classifierScenarioSql("dup_wave", "fd")},
      |w2 AS MATERIALIZED ${classifierScenarioSql("short_wave", "fsw")},
      |f1 AS (SELECT CAST(max(CASE WHEN retrain_needed THEN 1 ELSE 0 END)
      |  AS BIGINT) AS f FROM w1),
      |f2 AS (SELECT CAST(max(CASE WHEN retrain_needed THEN 1 ELSE 0 END)
      |  AS BIGINT) AS f FROM w2),
      |$streamClassifierUnion1Sql,
      |$streamClassifierWave3Ctes,
      |$streamClassifierUnionSql,
      |${perceptronFeatureCtes("u", "u")},
      |${classifierBinsCtesOver("fu", "uu")},
      |settled AS MATERIALIZED $selfPsi
      |SELECT feature, n_ref, n_cur, n_buckets, psi_ppm, retrain_needed,
      |  (SELECT f FROM f1) + (SELECT f FROM f2) + (SELECT f FROM f3)
      |    AS generation
      |FROM settled ORDER BY feature""".stripMargin
  }

  def oracle: Map[String, String] = {
    val langCase = {
      val g = Seq("es", "fr", "de")
      s"""CASE
         |  WHEN c_en >= greatest(c_es, c_fr, c_de) AND c_en > 0 THEN 'en'
         |  WHEN c_es >= greatest(c_fr, c_de) AND c_es > 0 THEN 'es'
         |  WHEN c_fr >= c_de AND c_fr > 0 THEN 'fr'
         |  WHEN c_de > 0 THEN 'de'
         |  ELSE 'und' END""".stripMargin
    }
    // 16-bit simhash mirror: bit b set iff >half the tokens have a high
    // hex digit at md5 position b+1
    val simhashExpr = (0 until 16).map { b =>
      s"(CASE WHEN 2 * len(list_filter(toks, t -> strpos('89abcdef', substr(md5(t), ${b + 1}, 1)) > 0)) > len(toks) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    Map(
      // the SQL-retrained merge table / vocabulary / per-doc encode —
      // the DuckDB mirror of the whole tokenizer (train AND apply)
      "text_bpe_merges" ->
        s"""WITH $bpeCtes
          |SELECT step, a, b FROM bmerges ORDER BY step""".stripMargin,
      "text_bpe_vocab" ->
        s"""WITH $bpeCtes
          |SELECT tid, sym FROM bids ORDER BY tid""".stripMargin,
      "text_bpe_encode" ->
        s"""WITH $bpeDocCtes
          |SELECT doc_id, n_tokens, sum_ids, checksum FROM dstats
          |ORDER BY doc_id""".stripMargin,
      "text_bpe_compression" ->
        s"""WITH $bpeCtes,
          |allw AS (SELECT unnest($toksSql) AS word FROM documents),
          |j AS (SELECT len(word)::BIGINT AS wlen, wn
          |  FROM allw JOIN bwstats USING (word))
          |SELECT count(*)::BIGINT AS total_words,
          |  CAST(sum(wlen) AS BIGINT) AS total_chars,
          |  CAST(sum(wn) AS BIGINT) AS total_bpe_tokens,
          |  CAST(sum(wlen) AS BIGINT) * 1000 // CAST(sum(wn) AS BIGINT)
          |    AS chars_per_token_x1000,
          |  CAST(sum(wn) AS BIGINT) * 1000 // count(*)
          |    AS tokens_per_word_x1000
          |FROM j""".stripMargin,
      "text_bpe_fertility" ->
        s"""WITH $bpeCtes,
          |allw AS (SELECT lang, unnest($toksSql) AS word FROM documents),
          |j AS (SELECT lang, len(word)::BIGINT AS wlen, wn
          |  FROM allw JOIN bwstats USING (word))
          |SELECT lang, count(*)::BIGINT AS total_words,
          |  CAST(sum(wlen) AS BIGINT) AS total_chars,
          |  CAST(sum(wn) AS BIGINT) AS total_bpe_tokens,
          |  CAST(sum(wlen) AS BIGINT) * 1000 // CAST(sum(wn) AS BIGINT)
          |    AS chars_per_token_x1000,
          |  CAST(sum(wn) AS BIGINT) * 1000 // count(*)
          |    AS tokens_per_word_x1000
          |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
      "dedup_winnowing" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |sh AS (SELECT doc_id, ${OracleSql.shingles("toks")} AS sh FROM t),
          |hs AS (SELECT doc_id, list_transform(sh,
          |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs FROM sh),
          |pr AS (SELECT doc_id, unnest(CASE WHEN len(hs) >= 4
          |    THEN list_distinct(list_transform(range(1, len(hs) - 2),
          |      j -> list_min(hs[j:j+3])))
          |    ELSE list_distinct(hs) END) AS fp
          |  FROM hs),
          |df AS (SELECT fp, count(*)::BIGINT AS ndf FROM pr GROUP BY 1),
          |kept AS (SELECT pr.doc_id, pr.fp FROM pr JOIN df USING (fp)
          |  WHERE ndf <= 8)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  count(*)::BIGINT AS n_shared
          |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b
          |LIMIT 20""".stripMargin,
      "text_c4_rules" ->
        s"""WITH d AS (SELECT lang,
          |    len(regexp_extract_all(text, '[.!?]')) < 3 AS few_sent,
          |    contains(text, '{') AS braces,
          |    contains(lower(text), 'lorem ipsum') AS lorem,
          |    len($toksSql) < 50 AS short
          |  FROM documents),
          |g AS (SELECT lang, count(*)::BIGINT AS n_docs,
          |    sum(CASE WHEN few_sent THEN 1 ELSE 0 END)::BIGINT
          |      AS n_few_sentences,
          |    sum(CASE WHEN braces THEN 1 ELSE 0 END)::BIGINT AS n_braces,
          |    sum(CASE WHEN lorem THEN 1 ELSE 0 END)::BIGINT AS n_lorem,
          |    sum(CASE WHEN short THEN 1 ELSE 0 END)::BIGINT AS n_short,
          |    sum(CASE WHEN NOT few_sent AND NOT braces AND NOT lorem
          |      AND NOT short THEN 1 ELSE 0 END)::BIGINT AS n_kept
          |  FROM d GROUP BY lang)
          |SELECT lang, n_docs, n_few_sentences, n_braces, n_lorem,
          |  n_short, n_kept, n_kept * 1000000 // n_docs AS kept_ppm
          |FROM g ORDER BY lang""".stripMargin,
      "text_sentence_length" ->
        """WITH p AS (SELECT lang,
          |    unnest(string_split_regex(text, '[.!?]')) AS piece
          |  FROM documents),
          |s AS (SELECT lang,
          |    len(list_filter(string_split(piece, ' '), t -> t <> ''))
          |      AS sent_tokens
          |  FROM p)
          |SELECT lang, count(*)::BIGINT AS n_sentences,
          |  CAST(sum(sent_tokens) AS BIGINT) // count(*) AS mean_tokens,
          |  CAST(floor(quantile_cont(sent_tokens, 0.9)) AS BIGINT)
          |    AS p90_tokens,
          |  CAST(max(sent_tokens) AS BIGINT) AS max_tokens
          |FROM s WHERE sent_tokens > 0
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "text_readability_fk" -> {
        def fdiv(x: String, n: String) =
          s"(($x) - ((($x) % ($n)) + ($n)) % ($n)) // ($n)"
        s"""WITH d AS (SELECT lang,
          |    len($toksSql)::BIGINT AS w,
          |    greatest(1, len(regexp_extract_all(text, '[.!?]')))::BIGINT
          |      AS st,
          |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
          |      AS y
          |  FROM documents),
          |g AS (SELECT lang, count(*)::BIGINT AS n_docs,
          |    sum(w)::BIGINT AS words, sum(st)::BIGINT AS sentences,
          |    sum(y)::BIGINT AS syllables
          |  FROM d GROUP BY lang)
          |SELECT lang, n_docs, words, sentences, syllables,
          |  ${fdiv(
              "39 * words * words + 1180 * syllables * sentences" +
                " - 1559 * words * sentences",
              "words * sentences")} AS fk_grade_e2
          |FROM g ORDER BY lang""".stripMargin
      },
      "text_textrank_keywords" -> {
        def iter(out: String, in: String) =
          s"""$out AS MATERIALIZED (SELECT s.dst AS node,
            |    (SELECT b FROM base) +
            |    CAST(sum((850 * $in.r * s.wt) // (1000 * wu.wu)) AS BIGINT) AS r
            |  FROM sym s JOIN $in ON s.src = $in.node
            |  JOIN wu ON s.src = wu.node GROUP BY s.dst)""".stripMargin
        s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
          |uni AS (SELECT g AS w, count(*)::BIGINT AS c
          |  FROM (SELECT unnest(toks) AS g FROM t) GROUP BY 1),
          |keep AS (SELECT w FROM uni WHERE c >= 10
          |  AND NOT list_contains(${OracleSql.stopList("en")}, w)),
          |bg AS (SELECT toks[CAST(u.i AS INT)] AS w1,
          |    toks[CAST(u.i + 1 AS INT)] AS w2
          |  FROM t, LATERAL unnest(range(1, len(toks))) u(i)
          |  WHERE len(toks) >= 2),
          |fb AS (SELECT w1, w2 FROM bg WHERE w1 <> w2
          |  AND w1 IN (SELECT w FROM keep) AND w2 IN (SELECT w FROM keep)),
          |e AS (SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
          |    count(*)::BIGINT AS wt FROM fb GROUP BY 1, 2),
          |sym AS MATERIALIZED (SELECT a AS src, b AS dst, wt FROM e
          |  UNION ALL SELECT b, a, wt FROM e),
          |nn AS (SELECT count(DISTINCT src)::BIGINT AS n FROM sym),
          |wu AS MATERIALIZED (SELECT src AS node, sum(wt)::BIGINT AS wu
          |  FROM sym GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT DISTINCT src AS node,
          |    1000000000 // (SELECT n FROM nn) AS r FROM sym),
          |base AS (SELECT (150 * (1000000000 // n)) // 1000 AS b FROM nn),
          |${iter("r1", "r0")},
          |${iter("r2", "r1")}
          |SELECT node AS token, r AS rank_ppb FROM r2
          |ORDER BY rank_ppb DESC, token LIMIT 20""".stripMargin
      },
      "text_heaps_law" ->
        s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |pd AS (SELECT doc_id, len(toks)::BIGINT AS ntoks FROM d),
          |rk AS (SELECT doc_id, ntoks,
          |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rank,
          |    CAST(sum(ntoks) OVER (ORDER BY doc_id) AS BIGINT) AS cum_n
          |  FROM pd),
          |fd AS (SELECT w, min(doc_id) AS fdoc
          |  FROM (SELECT doc_id, unnest(toks) AS w FROM d) GROUP BY 1),
          |fr AS (SELECT rk.rank AS frank, count(*)::BIGINT AS vnew
          |  FROM fd JOIN rk ON fd.fdoc = rk.doc_id GROUP BY 1),
          |cv AS (SELECT rank, cum_n,
          |    CAST(sum(coalesce(vnew, 0)) OVER (ORDER BY rank) AS BIGINT)
          |      AS cum_v
          |  FROM rk LEFT JOIN fr ON rk.rank = fr.frank),
          |dd AS (SELECT max(rank) AS dd FROM rk),
          |cp AS (SELECT (k.k * dd) // 10 AS rank
          |  FROM range(1, 11) k(k) CROSS JOIN dd),
          |pts AS (SELECT
          |    CAST(floor(1000.0 * ln(cum_n::DOUBLE)) AS BIGINT) AS x,
          |    CAST(floor(1000.0 * ln(cum_v::DOUBLE)) AS BIGINT) AS y
          |  FROM cp JOIN cv USING (rank)),
          |a AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
          |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
          |    sum(x * x)::BIGINT AS sxx FROM pts)
          |SELECT n,
          |  (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS beta_ppm
          |FROM a""".stripMargin,
      "stats_spearman_quality_lm" ->
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          |tk AS (SELECT doc_id, u.token
          |  FROM t, LATERAL unnest(toks) AS u(token)),
          |cnt AS (SELECT token, count(*)::BIGINT AS c FROM tk GROUP BY 1),
          |tot AS (SELECT sum(c)::BIGINT AS n FROM cnt),
          |lp AS (SELECT doc_id, count(*)::BIGINT AS nt,
          |    sum(CAST(floor(1000000.0 * ln(c::DOUBLE / n::DOUBLE))
          |      AS BIGINT))::BIGINT AS lp_sum
          |  FROM tk JOIN cnt USING (token) CROSS JOIN tot GROUP BY 1),
          |q AS (SELECT doc_id, ${OracleSql.quality("toks")} AS q FROM t),
          |j AS (SELECT lp.doc_id, lp_sum, nt, q.q
          |  FROM lp JOIN q USING (doc_id)),
          |r AS (SELECT doc_id,
          |    row_number() OVER (ORDER BY CAST(lp_sum AS DOUBLE) / nt,
          |      doc_id) AS ra,
          |    row_number() OVER (ORDER BY q, doc_id) AS rb
          |  FROM j),
          |a AS (SELECT count(*)::BIGINT AS n_docs,
          |    sum((ra - rb) * (ra - rb))::BIGINT AS sd2 FROM r)
          |SELECT n_docs, sd2,
          |  CASE WHEN n_docs < 2 THEN NULL ELSE
          |    CAST(1000000 - (CAST(6 AS HUGEINT) * sd2 * 1000000)
          |      // (CAST(n_docs AS HUGEINT) * (n_docs * n_docs - 1))
          |      AS BIGINT) END AS rho_e6
          |FROM a""".stripMargin,
      "text_collocation_llr" -> {
        def t(k: String) =
          s"""CASE WHEN ($k) <= 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST(floor(1000000 * CAST($k AS DOUBLE) *
            |  ln(CAST($k AS DOUBLE))) AS BIGINT) END""".stripMargin
        s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
          |bg AS (SELECT toks[CAST(u.i AS INT)] AS w1,
          |    toks[CAST(u.i + 1 AS INT)] AS w2
          |  FROM t, LATERAL unnest(range(1, len(toks))) u(i)
          |  WHERE len(toks) >= 2),
          |cxy AS (SELECT w1, w2, count(*)::BIGINT AS k11
          |  FROM bg GROUP BY 1, 2),
          |cx AS (SELECT w1, sum(k11)::BIGINT AS r1 FROM cxy GROUP BY 1),
          |cy AS (SELECT w2, sum(k11)::BIGINT AS c1 FROM cxy GROUP BY 1),
          |tot AS (SELECT sum(k11)::BIGINT AS tt FROM cxy)
          |SELECT cxy.w1, cxy.w2, k11,
          |  2 * (${t("k11")} + ${t("r1 - k11")} + ${t("c1 - k11")}
          |    + ${t("tt - r1 - c1 + k11")} - ${t("r1")} - ${t("tt - r1")}
          |    - ${t("c1")} - ${t("tt - c1")} + ${t("tt")}) AS llr_e6
          |FROM cxy JOIN cx USING (w1) JOIN cy USING (w2) CROSS JOIN tot
          |WHERE k11 >= 20
          |ORDER BY llr_e6 DESC, w1, w2 LIMIT 30""".stripMargin
      },
      "text_pmi_collocations" ->
        s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
          |bg AS (SELECT toks[CAST(u.i AS INT)] AS w1,
          |    toks[CAST(u.i + 1 AS INT)] AS w2
          |  FROM t, LATERAL unnest(range(1, len(toks))) u(i)
          |  WHERE len(toks) >= 2),
          |cxy AS (SELECT w1, w2, count(*)::BIGINT AS c_xy
          |  FROM bg GROUP BY 1, 2),
          |tb AS (SELECT sum(c_xy)::BIGINT AS t_big FROM cxy),
          |uni AS (SELECT g AS w, count(*)::BIGINT AS c
          |  FROM (SELECT unnest(toks) AS g FROM t) GROUP BY 1),
          |ut AS (SELECT sum(c)::BIGINT AS u_tot FROM uni)
          |SELECT cxy.w1, cxy.w2, c_xy,
          |  CAST(CAST(c_xy AS HUGEINT) * u_tot * u_tot * 1000000
          |    // (CAST(t_big AS HUGEINT) * x.c * y.c) AS BIGINT) AS lift_ppm
          |FROM cxy JOIN uni x ON cxy.w1 = x.w JOIN uni y ON cxy.w2 = y.w
          |CROSS JOIN tb CROSS JOIN ut
          |WHERE c_xy >= 20
          |ORDER BY lift_ppm DESC, w1, w2 LIMIT 30""".stripMargin,
      "text_hapax_profile" ->
        s"""WITH tok AS (SELECT lang, t.token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)),
          |f AS (SELECT lang, token, count(*)::BIGINT AS f
          |  FROM tok GROUP BY 1, 2),
          |a AS (SELECT lang, sum(f)::BIGINT AS n_tokens,
          |    count(*)::BIGINT AS n_types,
          |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_hapax
          |  FROM f GROUP BY 1)
          |SELECT lang, n_tokens, n_types, n_hapax,
          |  n_hapax * 1000000 // n_types AS hapax_type_ppm,
          |  n_hapax * 1000000 // n_tokens AS hapax_token_ppm
          |FROM a ORDER BY lang""".stripMargin,
      "text_term_burstiness" ->
        s"""WITH tok AS (SELECT doc_id, t.token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)),
          |a AS (SELECT token, count(*)::BIGINT AS cf,
          |    count(DISTINCT doc_id)::BIGINT AS df
          |  FROM tok GROUP BY 1)
          |SELECT token, cf, df, cf * 1000 // df AS burst_x1000
          |FROM a WHERE cf >= 50
          |ORDER BY burst_x1000 DESC, cf DESC, token LIMIT 30""".stripMargin,
      "text_simpson_diversity" ->
        s"""WITH tok AS (SELECT lang, t.token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)),
          |f AS (SELECT lang, token, count(*)::BIGINT AS f
          |  FROM tok GROUP BY 1, 2),
          |a AS (SELECT lang, sum(f)::BIGINT AS n_tokens,
          |    count(*)::BIGINT AS n_types,
          |    CAST(sum(f * (f - 1)) AS BIGINT) AS coll
          |  FROM f GROUP BY 1)
          |SELECT lang, n_tokens, n_types,
          |  CAST(CAST(coll AS HUGEINT) * 1000000
          |    // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
          |    AS simpson_ppm,
          |  1000000 - CAST(CAST(coll AS HUGEINT) * 1000000
          |    // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
          |    AS diversity_ppm
          |FROM a ORDER BY lang""".stripMargin,
      "text_ngram_diversity" ->
        s"""WITH t AS (SELECT lang, $toksSql AS toks FROM documents),
          |uni AS (SELECT lang, count(*)::BIGINT AS n_unigrams,
          |    count(DISTINCT g)::BIGINT AS d_unigrams
          |  FROM (SELECT lang, unnest(toks) AS g FROM t) GROUP BY lang),
          |bg AS (SELECT lang,
          |    toks[CAST(u.i AS INT)] || ' ' || toks[CAST(u.i + 1 AS INT)] AS g
          |  FROM t, LATERAL unnest(range(1, len(toks))) u(i)
          |  WHERE len(toks) >= 2),
          |bi AS (SELECT lang, count(*)::BIGINT AS n_bigrams,
          |    count(DISTINCT g)::BIGINT AS d_bigrams FROM bg GROUP BY lang)
          |SELECT lang, n_unigrams, d_unigrams, n_bigrams, d_bigrams,
          |  d_unigrams * 1000000 // n_unigrams AS uni_ttr_ppm,
          |  d_bigrams * 1000000 // n_bigrams AS bi_ttr_ppm
          |FROM uni JOIN bi USING (lang) ORDER BY lang""".stripMargin,
      "text_token_count" ->
        s"""SELECT doc_id,
          |  len($toksSql) AS n_tokens,
          |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,
      "text_langid" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          |c AS (SELECT doc_id, lang,
          |  ${stopHitsSql("toks", "en")} AS c_en, ${stopHitsSql("toks", "es")} AS c_es,
          |  ${stopHitsSql("toks", "fr")} AS c_fr, ${stopHitsSql("toks", "de")} AS c_de
          |FROM t)
          |SELECT doc_id, lang, $langCase AS lang_pred FROM c ORDER BY doc_id""".stripMargin,
      "text_langid_eval" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          |c AS (SELECT doc_id, lang,
          |  ${stopHitsSql("toks", "en")} AS c_en, ${stopHitsSql("toks", "es")} AS c_es,
          |  ${stopHitsSql("toks", "fr")} AS c_fr, ${stopHitsSql("toks", "de")} AS c_de
          |FROM t),
          |p AS (SELECT lang, $langCase AS lang_pred FROM c),
          |conf AS (SELECT lang, lang_pred, count(*) AS n
          |  FROM p GROUP BY lang, lang_pred),
          |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_n,
          |    CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT)
          |      AS lang_hit
          |  FROM conf GROUP BY lang)
          |SELECT conf.lang, lang_pred, n, lang_n,
          |  lang_hit * 1000000 // lang_n AS lang_acc_ppm
          |FROM conf JOIN tot ON tot.lang = conf.lang
          |ORDER BY conf.lang, lang_pred""".stripMargin,
      "text_langid_kappa" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          |c AS (SELECT doc_id, lang,
          |  ${stopHitsSql("toks", "en")} AS c_en, ${stopHitsSql("toks", "es")} AS c_es,
          |  ${stopHitsSql("toks", "fr")} AS c_fr, ${stopHitsSql("toks", "de")} AS c_de
          |FROM t),
          |p AS (SELECT lang, $langCase AS lang_pred FROM c),
          |conf AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
          |  FROM p GROUP BY 1, 2),
          |r AS (SELECT lang, sum(n)::BIGINT AS rn FROM conf GROUP BY 1),
          |cc AS (SELECT lang_pred, sum(n)::BIGINT AS cn
          |  FROM conf GROUP BY 1),
          |pe AS (SELECT coalesce(sum(CAST(rn AS HUGEINT) * cn), 0) AS pe_num
          |  FROM r JOIN cc ON r.lang = cc.lang_pred),
          |po AS (SELECT sum(n)::BIGINT AS nn,
          |    coalesce(sum(CASE WHEN lang = lang_pred THEN n END), 0)::BIGINT
          |      AS po_num
          |  FROM conf)
          |SELECT nn AS n_docs, po_num, CAST(pe_num AS BIGINT) AS pe_num,
          |  po_num * 1000000 // nn AS accuracy_ppm,
          |  CAST((CAST(nn AS HUGEINT) * po_num - pe_num) * 1000000
          |    // (CAST(nn AS HUGEINT) * nn - pe_num) AS BIGINT) AS kappa_ppm
          |FROM po CROSS JOIN pe""".stripMargin,
      "text_langid_bowker" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          |c AS (SELECT doc_id, lang,
          |  ${stopHitsSql("toks", "en")} AS c_en, ${stopHitsSql("toks", "es")} AS c_es,
          |  ${stopHitsSql("toks", "fr")} AS c_fr, ${stopHitsSql("toks", "de")} AS c_de
          |FROM t),
          |p AS (SELECT lang, $langCase AS lang_pred FROM c),
          |conf AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
          |  FROM p GROUP BY 1, 2),
          |up AS (SELECT lang AS i, lang_pred AS j, n AS nij
          |  FROM conf WHERE lang < lang_pred),
          |dn AS (SELECT lang_pred AS i, lang AS j, n AS nji
          |  FROM conf WHERE lang > lang_pred),
          |m AS (SELECT coalesce(up.i, dn.i) AS i, coalesce(up.j, dn.j) AS j,
          |    coalesce(nij, 0) AS nij, coalesce(nji, 0) AS nji
          |  FROM up FULL JOIN dn ON up.i = dn.i AND up.j = dn.j),
          |terms AS (SELECT (nij - nji) * (nij - nji) * 1000000
          |    // (nij + nji) AS term FROM m),
          |tot AS (SELECT sum(n)::BIGINT AS n_docs FROM conf)
          |SELECT n_docs, count(*)::BIGINT AS n_pairs,
          |  coalesce(sum(term), 0)::BIGINT AS bowker_ppm
          |FROM terms CROSS JOIN tot GROUP BY n_docs""".stripMargin,
      "text_vocab_overlap" ->
        s"""WITH v AS (SELECT DISTINCT lang, t.token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)),
          |sizes AS (SELECT lang, count(*)::BIGINT AS nv FROM v GROUP BY 1),
          |i AS (SELECT x.lang AS lang_a, y.lang AS lang_b,
          |    count(*)::BIGINT AS n_shared
          |  FROM v x JOIN v y ON x.token = y.token AND x.lang < y.lang
          |  GROUP BY 1, 2)
          |SELECT lang_a, lang_b, sa.nv AS va, sb.nv AS vb, n_shared,
          |  n_shared * 1000000 // (sa.nv + sb.nv - n_shared) AS jaccard_ppm
          |FROM i JOIN sizes sa ON sa.lang = lang_a
          |JOIN sizes sb ON sb.lang = lang_b
          |ORDER BY lang_a, lang_b""".stripMargin,
      "text_quality" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          |SELECT doc_id, ${OracleSql.quality("toks")} AS quality
          |FROM t ORDER BY doc_id""".stripMargin,
      "text_zipf_fit" ->
        s"""WITH f AS (
          |  SELECT t.token AS token, count(*)::BIGINT AS freq
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)
          |  GROUP BY 1),
          |r AS (SELECT freq, CAST(row_number() OVER
          |    (ORDER BY freq DESC, token) AS BIGINT) AS rank FROM f),
          |xy AS (SELECT
          |    CAST(floor(1000.0 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
          |    CAST(floor(1000.0 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS y
          |  FROM r WHERE rank <= 100),
          |s AS (SELECT count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx,
          |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
          |SELECT n, sx, sy, sxy, sxx,
          |  -((sx * sy - n * sxy) * 1000000 // (n * sxx - sx * sx)) AS slope_ppm
          |FROM s""".stripMargin,
      "text_search_snippet" ->
        """WITH m AS (
          |  SELECT doc_id, lower(text) AS t,
          |    CAST(strpos(lower(text), 'spark') AS BIGINT) AS pos
          |  FROM documents)
          |SELECT doc_id, pos,
          |  substring(t, greatest(1, pos - 30), 80) AS snippet
          |FROM m WHERE pos > 0 ORDER BY doc_id LIMIT 10""".stripMargin,
      "text_feature_hash" ->
        s"""WITH tok AS (
          |  SELECT doc_id, t.token AS token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)
          |  WHERE doc_id < 20),
          |h AS (SELECT doc_id,
          |    ('0x' || substr(md5(token), 1, 4))::BIGINT % 64 AS bucket,
          |    CASE WHEN ('0x' || substr(md5(token), 5, 1))::BIGINT % 2 = 0
          |      THEN 1 ELSE -1 END AS sign
          |  FROM tok)
          |SELECT doc_id, bucket, count(*) AS n_tokens,
          |  CAST(sum(sign) AS BIGINT) AS feat
          |FROM h GROUP BY doc_id, bucket
          |ORDER BY doc_id, bucket""".stripMargin,
      "text_doc_sim" ->
        s"""WITH tf AS MATERIALIZED (
          |  SELECT doc_id, t.token AS token, count(*)::BIGINT AS tf
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)
          |  GROUP BY 1, 2),
          |dfreq AS MATERIALIZED (
          |  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
          |nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
          |w AS MATERIALIZED (
          |  SELECT tf.doc_id, tf.token,
          |    tf.tf * CAST(floor(1000000.0 *
          |      ln(CAST(nn.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)))
          |      AS BIGINT) AS wq
          |  FROM tf JOIN dfreq df ON df.token = tf.token CROSS JOIN nn
          |  WHERE df.df * 100 <= nn.n_docs * 100),
          |norms AS MATERIALIZED (
          |  SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS nsq FROM w GROUP BY 1),
          |q AS (SELECT doc_id AS q_id, token, wq AS qw FROM w WHERE doc_id < 10),
          |dots AS MATERIALIZED (
          |  SELECT q.q_id, c.doc_id AS c_id, CAST(sum(q.qw * c.wq) AS BIGINT) AS dot
          |  FROM q JOIN w c ON c.token = q.token AND c.doc_id <> q.q_id
          |  GROUP BY 1, 2),
          |scored AS (SELECT d.q_id, d.c_id,
          |    round(CAST(d.dot AS DOUBLE) /
          |      (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(cn.nsq AS DOUBLE))), 6) AS cos6
          |  FROM dots d
          |  JOIN norms qn ON qn.doc_id = d.q_id
          |  JOIN norms cn ON cn.doc_id = d.c_id)
          |SELECT q_id, c_id, cos6, rk FROM (
          |  SELECT *, CAST(row_number() OVER
          |    (PARTITION BY q_id ORDER BY cos6 DESC, c_id) AS BIGINT) AS rk
          |  FROM scored)
          |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "text_vocab_topk" ->
        s"""SELECT t.token, count(*) AS n
          |FROM documents, LATERAL unnest($toksSql) AS t(token)
          |GROUP BY t.token ORDER BY n DESC, t.token LIMIT 50""".stripMargin,
      // the Gopher-rule signals recomputed with the same floor `div`
      // integer discipline; regexes are the portable RE2 subset
      "text_gopher_rules" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |c AS (SELECT doc_id,
          |    CAST(len(toks) AS BIGINT) AS n_words,
          |    CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS total_chars,
          |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_hits,
          |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[#…]'))) AS BIGINT) AS sym_hits
          |  FROM t),
          |m AS (SELECT doc_id, n_words,
          |    CASE WHEN n_words > 0 THEN total_chars * 100 // n_words ELSE 0 END AS mean_word_len_x100,
          |    CASE WHEN n_words > 0 THEN sym_hits * 1000000 // n_words ELSE 0 END AS symbol_word_ppm,
          |    CASE WHEN n_words > 0 THEN alpha_hits * 1000000 // n_words ELSE 0 END AS alpha_word_ppm
          |  FROM c)
          |SELECT doc_id, n_words, mean_word_len_x100, symbol_word_ppm,
          |  alpha_word_ppm,
          |  (n_words BETWEEN 50 AND 100000
          |   AND mean_word_len_x100 BETWEEN 300 AND 1000
          |   AND symbol_word_ppm < 100000
          |   AND alpha_word_ppm >= 800000) AS keep
          |FROM m ORDER BY doc_id""".stripMargin,
      // the classifier oracles RE-TRAIN the perceptron in SQL: features
      // + weak label in f (materialized — every epoch layer references
      // it), then one MATERIALIZED CTE layer per epoch (inlining would
      // re-run the prefix chain per reference — the BPE lesson)
      "text_classifier_train" ->
        s"""WITH $perceptronCtes
          |${(1 to 8).map(k =>
             s"SELECT CAST($k AS BIGINT) AS epoch, b0, b1, b2, b3, b4, b5 FROM w$k")
             .mkString("\n|UNION ALL\n|")}
          |ORDER BY epoch""".stripMargin,
      "text_classifier_score" ->
        s"""WITH $perceptronCtes
          |SELECT f.doc_id, CAST($perceptronDot AS BIGINT) AS margin,
          |  ($perceptronDot) > 0 AS pred, f.y AS label
          |FROM f, w8 w WHERE NOT f.is_train ORDER BY f.doc_id""".stripMargin,
      "text_classifier_eval" ->
        s"""WITH $perceptronCtes,
          |sc AS (SELECT ($perceptronDot) > 0 AS pred, f.y AS label
          |  FROM f, w8 w WHERE NOT f.is_train),
          |conf AS (SELECT
          |  CAST(sum(CASE WHEN pred AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |  CAST(sum(CASE WHEN pred AND label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |  CAST(sum(CASE WHEN NOT pred AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |  CAST(sum(CASE WHEN NOT pred AND label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          |  FROM sc)
          |SELECT tp, fp, fn, tn,
          |  CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) ELSE 0 END
          |    AS precision_ppm,
          |  CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) ELSE 0 END
          |    AS recall_ppm,
          |  (tp + tn) * 1000000 // (tp + fp + fn + tn) AS accuracy_ppm
          |FROM conf""".stripMargin,
      "text_classifier_drift" -> {
        def binExpr(x: String, es: Seq[Long]) =
          es.map(e => s"(CASE WHEN $x >= $e THEN 1 ELSE 0 END)")
            .mkString(" + ")
        val x1 = binExpr("CAST(len(toks) AS BIGINT)", Seq(30L, 45L, 60L, 75L))
        val x5 = binExpr("n_chars // 10", Seq(18L, 24L, 30L, 36L))
        def scenario(scn: String, incSrc: String) =
          s"""(WITH tr AS (SELECT $toksSql AS toks, n_chars FROM documents),
            |inc AS (SELECT $toksSql AS toks, n_chars FROM $incSrc),
            |b AS (
            |  SELECT 'x1' AS feature, $x1 AS bucket, TRUE AS is_ref FROM tr
            |  UNION ALL SELECT 'x5', $x5, TRUE FROM tr
            |  UNION ALL SELECT 'x1', $x1, FALSE FROM inc
            |  UNION ALL SELECT 'x5', $x5, FALSE FROM inc),
            |counted AS (SELECT feature, bucket,
            |    count(*) FILTER (is_ref)::BIGINT AS n1,
            |    count(*) FILTER (NOT is_ref)::BIGINT AS n2
            |  FROM b GROUP BY 1, 2),
            |tot AS (SELECT feature, CAST(sum(n1) AS BIGINT) AS big_n1,
            |    CAST(sum(n2) AS BIGINT) AS big_n2 FROM counted GROUP BY 1),
            |terms AS (SELECT c.feature, t.big_n1, t.big_n2,
            |    c.n1 * t.big_n2 - c.n2 * t.big_n1 AS diff,
            |    CAST(floor(1000000.0 * ln(
            |      CAST(c.n1 * t.big_n2 AS DOUBLE) /
            |      CAST(c.n2 * t.big_n1 AS DOUBLE))) AS BIGINT) AS ln_ppm
            |  FROM counted c JOIN tot t ON t.feature = c.feature
            |  WHERE c.n1 > 0 AND c.n2 > 0)
            |SELECT '$scn' AS scenario, feature, big_n1 AS n_ref,
            |  big_n2 AS n_cur, count(*) AS n_buckets,
            |  CAST(sum(diff * ln_ppm // (big_n1 * big_n2)) AS BIGINT)
            |    AS psi_ppm,
            |  CAST(sum(diff * ln_ppm // (big_n1 * big_n2)) AS BIGINT) > 100000
            |    AS retrain_needed
            |FROM terms GROUP BY 1, 2, 3, 4)""".stripMargin
        s"""WITH $corpusSql
          |${scenario("dup_wave", "(SELECT * FROM corpus WHERE doc_id >= 100000)")}
          |UNION ALL
          |${scenario("short_wave", "(SELECT * FROM documents WHERE n_chars < 250)")}
          |ORDER BY scenario, feature""".stripMargin
      },
      // published-model scoring = in-process scoring (same oracle,
      // another plan — the weights now load from the versioned table)
      "text_classifier_published" ->
        s"""WITH $perceptronCtes
          |SELECT f.doc_id, CAST($perceptronDot AS BIGINT) AS margin,
          |  ($perceptronDot) > 0 AS pred, f.y AS label
          |FROM f, w8 w WHERE NOT f.is_train ORDER BY f.doc_id""".stripMargin,
      // the stored quantile bins: smallest value whose cumulative
      // TRAIN-split count reaches max(1, ⌊n·q/100⌋), q ∈ {20,40,60,80}
      "text_classifier_bins" ->
        s"""WITH ${perceptronFeatureCtes("documents", "")},
          |$classifierBinsCtes
          |SELECT * FROM e1 UNION ALL SELECT * FROM e5
          |ORDER BY feature""".stripMargin,
      "text_classifier_retrain_check" ->
        s"""WITH $classifierCheckPrefixSql
          |${classifierScenarioSql("dup_wave", "fd")}
          |UNION ALL
          |${classifierScenarioSql("short_wave", "fsw")}
          |ORDER BY scenario, feature""".stripMargin,
      // the retrained trajectory: the oracle RE-TRAINS the perceptron
      // epoch-for-epoch over the union corpus (documents + the
      // re-badged short-doc crawl wave)
      "text_classifier_retrained" -> {
        val union =
          """rdocs AS (SELECT doc_id, text, n_chars FROM documents
            |  UNION ALL SELECT doc_id + 300000, text, n_chars
            |  FROM documents WHERE n_chars < 250)""".stripMargin
        s"""WITH $union,
          |${perceptronCtesOver("rdocs")}
          |${(1 to 8).map(k =>
             s"SELECT CAST($k AS BIGINT) AS epoch, b0, b1, b2, b3, b4, b5 FROM w$k")
             .mkString("\n|UNION ALL\n|")}
          |ORDER BY epoch""".stripMargin
      },
      // the maxsim mirror: the same md5-nibble hash vectors (md5 is
      // md5 in both engines), integer dots, per-query-token max, sum
      "text_late_interaction" -> {
        def nib(x: String) =
          s"(('0x' || substr(md5($x), CAST(j AS INT), 1))::BIGINT - 8)"
        val dot = "list_sum(list_transform(range(1, 9), " +
          s"j -> ${nib("t.tok")} * ${nib("q.qtok")}))"
        s"""WITH toks AS (
          |  SELECT doc_id, unnest(list_distinct($toksSql)) AS tok
          |  FROM documents),
          |q AS (SELECT unnest(['spark', 'vector', 'window']) AS qtok),
          |cand AS (SELECT DISTINCT doc_id FROM toks
          |  WHERE tok IN ('spark', 'vector', 'window')),
          |sims AS (SELECT t.doc_id, q.qtok, max($dot) AS m
          |  FROM toks t JOIN cand USING (doc_id) CROSS JOIN q
          |  GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(m) AS BIGINT) AS maxsim FROM sims
          |GROUP BY 1 ORDER BY maxsim DESC, doc_id LIMIT 10""".stripMargin
      },
      "text_rake_keyphrases" ->
        s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |t AS (SELECT doc_id, unnest(toks) AS token,
          |    unnest(range(1, len(toks) + 1)) AS pos FROM d),
          |ns AS MATERIALIZED (SELECT doc_id, pos, token,
          |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
          |      AS island
          |  FROM t WHERE NOT list_contains(${OracleSql.stopList("en")}, token)),
          |ph AS MATERIALIZED (SELECT doc_id, island,
          |    string_agg(token, ' ' ORDER BY pos) AS phrase,
          |    CAST(count(*) AS BIGINT) AS plen
          |  FROM ns GROUP BY 1, 2),
          |ws AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS freq,
          |    CAST(sum(plen) AS BIGINT) AS degree
          |  FROM ns JOIN ph USING (doc_id, island) GROUP BY token),
          |wsc AS (SELECT token, degree * 1000000 // freq AS w_score FROM ws),
          |psc AS (SELECT n.doc_id, n.island,
          |    CAST(sum(w.w_score) AS BIGINT) AS score
          |  FROM ns n JOIN wsc w USING (token) GROUP BY 1, 2)
          |SELECT ph.phrase, count(*) AS n_occur,
          |  CAST(min(p.score) AS BIGINT) AS score
          |FROM ph JOIN psc p USING (doc_id, island)
          |GROUP BY ph.phrase
          |ORDER BY score DESC, phrase LIMIT 20""".stripMargin,
      "stats_mutual_information" ->
        """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ls
          |  FROM documents GROUP BY 1, 2),
          |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
          |  FROM documents GROUP BY 1),
          |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
          |  FROM documents GROUP BY 1),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
          |SELECT lang, source, n_ls,
          |  CAST(floor(1000000.0 * ln((n_ls * n)::DOUBLE / (n_l * n_s)::DOUBLE))
          |    AS BIGINT) AS pmi_micro,
          |  n_ls * CAST(floor(1000000.0 * ln((n_ls * n)::DOUBLE / (n_l * n_s)::DOUBLE))
          |    AS BIGINT) AS mi_contrib_micro
          |FROM cells JOIN nl USING (lang) JOIN ns USING (source) CROSS JOIN tot
          |ORDER BY lang, source""".stripMargin,
      // per-token log-probs quantize to floor(1e6·ln(c/N)) — the BM25
      // idf discipline, so the per-doc integer sum mirrors exactly
      "text_unigram_logprob" ->
        s"""WITH tk AS (SELECT doc_id, t.token AS token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)),
          |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
          |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
          |sc AS (SELECT doc_id,
          |    CAST(floor(1000000.0 * ln(c::DOUBLE / n::DOUBLE)) AS BIGINT) AS lp
          |  FROM tk JOIN cnt USING (token) CROSS JOIN tot)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |  round((sum(lp)::BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0), 6)
          |    AS avg_logprob
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // bigrams as 2-shingle strings (tokens never contain spaces, so
      // "w1 w2" decomposes uniquely), FEATURE-HASHED through the
      // md5-prefix bucket at B = 4096 (the DSIR discipline — VERDICT
      // r18 #3): c2 counts bigram-bucket mass, c1 left-token-bucket
      // mass, lp = floor(1e6·ln(c2[h(s)]/c1[h(w1)])) per occurrence
      "text_bigram_logprob" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |bg AS (SELECT doc_id,
          |    ('0x' || substr(md5(toks[CAST(u.i AS INT)] || ' ' ||
          |        toks[CAST(u.i + 1 AS INT)]), 1, 4))::BIGINT % 4096 AS b2,
          |    ('0x' || substr(md5(toks[CAST(u.i AS INT)]), 1, 4))::BIGINT
          |      % 4096 AS b1
          |  FROM t, LATERAL unnest(range(1, len(toks))) u(i)
          |  WHERE len(toks) >= 2),
          |c2 AS (SELECT b2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
          |c1 AS (SELECT b1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
          |sc AS (SELECT doc_id,
          |    CAST(floor(1000000.0 * ln(c2.c2::DOUBLE / c1.c1::DOUBLE)) AS BIGINT) AS lp
          |  FROM bg JOIN c2 USING (b2) JOIN c1 USING (b1))
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |  round((sum(lp)::BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0), 6)
          |    AS avg_logprob
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "text_distinctive_terms" ->
        s"""WITH tok AS (SELECT doc_id, t.token
          |  FROM documents, LATERAL unnest($toksSql) AS t(token)),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
          |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
          |ranked AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, row_number() OVER
          |  (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfreq.df ASC, tf.token) AS rk
          |  FROM tf JOIN dfreq USING (token))
          |SELECT doc_id, token, tf, df, rk FROM ranked WHERE rk <= 3
          |ORDER BY doc_id, rk""".stripMargin,
      "text_repetition" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM t)
          |SELECT doc_id,
          |  CASE WHEN len(shingles) = 0 THEN 0.0
          |    ELSE floor((1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
          |      / CAST(len(shingles) AS DOUBLE)) * 1000000) / 1000000 END AS rep_score
          |FROM sh ORDER BY doc_id""".stripMargin,
      "text_fingerprint" ->
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          |sh AS (SELECT doc_id, text, ${shinglesSql("toks")} AS shingles FROM t)
          |SELECT doc_id, md5(text) AS content_md5,
          |  coalesce(list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min'), '') AS minhash0
          |FROM sh ORDER BY doc_id""".stripMargin,
      "dedup_exact" ->
        s"""WITH $corpusSql
          |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM corpus GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
      "dedup_minhash" ->
        s"""WITH $minhashPairCtes
          |SELECT id_a, id_b, jaccard FROM dup_pairs
          |ORDER BY id_a, id_b""".stripMargin,
      "dedup_threshold_sweep" ->
        s"""WITH $minhashPairCtes,
          |th AS (SELECT unnest([500, 600, 700, 800, 900]::BIGINT[])
          |  AS threshold_x1000)
          |SELECT th.threshold_x1000 AS threshold_x1000,
          |  count(dp.id_a)::BIGINT AS n_pairs,
          |  count(DISTINCT dp.id_b)::BIGINT AS n_docs_dropped
          |FROM th LEFT JOIN dup_pairs dp
          |  ON dp.jaccard >= th.threshold_x1000 / 1000.0
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "dedup_incremental" -> incrementalIndexedSql,
      // band monitoring: bucket-size distribution per band over the
      // SERVING corpus (originals < 100000 — the rows bandIndexFor
      // persisted), aggregated from the shared minhash band CTEs
      "dedup_band_stats" ->
        s"""WITH $minhashPairCtes,
          |bsz AS (SELECT band, bkey, count(*) AS n FROM bands
          |  WHERE doc_id < 100000 GROUP BY 1, 2)
          |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
          |  CAST(sum(n) AS BIGINT) AS n_rows,
          |  CAST(max(n) AS BIGINT) AS max_bucket
          |FROM bsz GROUP BY band ORDER BY band""".stripMargin,
      // re-shard verdict: the same bucket distribution reduced across
      // ALL (band, bkey) buckets to one row, mean-first floored signals
      // and thresholds identical to Dedup.bandReshardCheck
      "dedup_band_reshard_check" ->
        s"""WITH $minhashPairCtes,
          |bsz AS (SELECT band, bkey, count(*) AS n FROM bands
          |  WHERE doc_id < 100000 GROUP BY 1, 2),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
          |  CAST(sum(n) AS BIGINT) AS n_rows,
          |  CAST(max(n) AS BIGINT) AS max_bucket FROM bsz),
          |e AS (SELECT *,
          |  max_bucket * 1000 // (n_rows // n_buckets) AS max_over_mean_x1000,
          |  max_bucket * 1000 // n_rows AS top_frac_x1000 FROM tot)
          |SELECT n_buckets, n_rows, max_bucket, max_over_mean_x1000,
          |  top_frac_x1000,
          |  (max_over_mean_x1000 >= 2000 OR top_frac_x1000 >= 200) AS reshard
          |FROM e""".stripMargin,
      // connected components of the pair graph via a recursive label
      // walk: every vertex starts as its own label; labels propagate
      // along (symmetric) edges until the closure is complete (UNION =
      // set semantics, terminates); min reachable label = the cluster id.
      "dedup_clusters" ->
        s"""WITH RECURSIVE $minhashPairCtes,
          |edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
          |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
          |walk(id, label) AS (
          |  SELECT DISTINCT src, src FROM edges
          |  UNION
          |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
          |SELECT id AS doc_id, min(label) AS cluster_id,
          |  (id = min(label)) AS is_survivor
          |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,
      "dedup_cluster_size_hist" ->
        s"""WITH RECURSIVE $minhashPairCtes,
          |edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
          |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
          |walk(id, label) AS (
          |  SELECT DISTINCT src, src FROM edges
          |  UNION
          |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
          |cl AS (SELECT id, min(label) AS label FROM walk GROUP BY id),
          |sz AS (SELECT label, count(*)::BIGINT AS cluster_size
          |  FROM cl GROUP BY 1)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
          |  cluster_size * count(*)::BIGINT AS n_docs,
          |  (cluster_size - 1) * count(*)::BIGINT AS n_removable
          |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,
      // the quality-argmax survivor over the same cluster walk: the
      // ppm quantization makes the score an exact integer in both
      // engines, the (q_ppm DESC, doc_id) order is total
      "dedup_survivors_quality" ->
        s"""WITH RECURSIVE $minhashPairCtes,
          |edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
          |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
          |walk(id, label) AS (
          |  SELECT DISTINCT src, src FROM edges
          |  UNION
          |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
          |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
          |  FROM walk GROUP BY id),
          |q AS (SELECT doc_id,
          |    CAST(floor(${OracleSql.quality("toks")} * 1000000) AS BIGINT)
          |      AS q_ppm
          |  FROM t),
          |j AS (SELECT cl.cluster_id, cl.doc_id, q.q_ppm
          |  FROM cl JOIN q USING (doc_id))
          |SELECT cluster_id, doc_id AS survivor_id, q_ppm, n_members FROM (
          |  SELECT *, CAST(count(*) OVER (PARTITION BY cluster_id)
          |      AS BIGINT) AS n_members,
          |    row_number() OVER (PARTITION BY cluster_id
          |      ORDER BY q_ppm DESC, doc_id) AS rk
          |  FROM j) r
          |WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
      // the incremental merge is result-defined EQUAL to the full
      // recompute (star edges preserve standing connectivity; banded
      // pair membership is pairwise, so the full pair set decomposes
      // exactly) — one oracle, two plans
      "dedup_clusters_incremental" ->
        s"""WITH RECURSIVE $minhashPairCtes,
          |edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
          |  UNION ALL SELECT id_b, id_a FROM dup_pairs),
          |walk(id, label) AS (
          |  SELECT DISTINCT src, src FROM edges
          |  UNION
          |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
          |SELECT id AS doc_id, min(label) AS cluster_id,
          |  (id = min(label)) AS is_survivor
          |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,
      "dedup_shingle_df_hist" ->
        s"""WITH sh AS (SELECT doc_id, unnest(hs) AS h
          |  FROM (SELECT doc_id, ${OracleSql.hashedShingles(toksSql)} AS hs
          |    FROM documents)),
          |df AS (SELECT h, count(*)::BIGINT AS df FROM sh GROUP BY 1)
          |SELECT df, count(*)::BIGINT AS n_shingles
          |FROM df GROUP BY 1 ORDER BY df""".stripMargin,
      "dedup_crossdoc_ngrams" ->
        s"""WITH g AS (SELECT doc_id, t.g
          |  FROM (SELECT doc_id, ${OracleSql.hashedShingles(toksSql)} AS hs
          |    FROM documents), LATERAL unnest(hs) AS t(g)),
          |dfreq AS (SELECT g, count(*) AS df FROM g GROUP BY g),
          |agg AS (SELECT doc_id, count(*) AS n_ngrams,
          |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
          |  FROM g JOIN dfreq USING (g) GROUP BY doc_id)
          |SELECT doc_id, n_ngrams, n_shared,
          |  floor(n_shared * 1000000.0 / n_ngrams) / 1000000 AS shared_frac
          |FROM agg ORDER BY doc_id""".stripMargin,
      // dataset-card mirror: the same toks/quality formulas, integer
      // division for the ppm/char averages
      "text_corpus_report" ->
        s"""WITH t AS (SELECT source, lang, n_chars,
          |    len($toksSql) AS nt, ${OracleSql.quality(toksSql)} AS q
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |  count(DISTINCT lang) AS n_langs,
          |  CAST(sum(nt) AS BIGINT) AS total_tokens,
          |  CAST(sum(CAST(floor(q * 1000000) AS BIGINT)) // count(*)
          |    AS BIGINT) AS avg_quality_ppm,
          |  CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars,
          |  CAST(min(nt) AS BIGINT) AS min_tokens,
          |  CAST(max(nt) AS BIGINT) AS max_tokens
          |FROM t GROUP BY source ORDER BY source""".stripMargin,
      // span removal mirror: positional 8-gram over the shared token
      // formula; cross-doc grams via min/max doc per gram (the engine
      // groups on the 64-bit gram hash — same duplicate set, gated
      // here through the final clean_text bytes); covered positions
      // expand per duplicated start, kept tokens re-join in order
      "dedup_span_removal" -> spanRemovalSql("TRUE"),
      // the incremental probe is DEFINED to equal the full recompute
      // restricted to the batch (odd) docs — duplicate-gram membership
      // over corpus ∪ batch is per-document, so index-existence OR
      // batch-internal sharing ⇔ min<>max over the union; one builder,
      // two plans (the dedup_incremental / text_search_indexed pattern)
      "dedup_span_incremental" -> spanRemovalSql("d.doc_id % 2 = 1"),
      // pointer serving is result-invisible: one oracle, third plan
      "dedup_span_published" -> spanRemovalSql("d.doc_id % 2 = 1"),
      // grow-append-compact is result-invisible too: fourth plan
      "dedup_span_compacted" -> spanRemovalSql("d.doc_id % 2 = 1"),
      // the grown index's rows = one per (gram, wave): |w0| + |w2| rows,
      // |w0 ∪ w2| distinct — the monitor's aggregates from construction
      "dedup_span_compaction_check" ->
        s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents
          |  WHERE doc_id % 2 = 0),
          |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
          |  FROM d, LATERAL unnest(CASE WHEN len(toks) >= 8
          |    THEN range(1, len(toks) - 6) ELSE [] END) AS t(i)),
          |c AS (SELECT
          |  (SELECT count(DISTINCT gram) FROM g WHERE doc_id % 4 = 0) +
          |  (SELECT count(DISTINCT gram) FROM g WHERE doc_id % 4 = 2)
          |    AS n_rows,
          |  (SELECT count(DISTINCT gram) FROM g) AS n_grams)
          |SELECT n_rows, n_grams, n_rows - n_grams AS dup_rows,
          |  (n_rows - n_grams) * 1000 // n_rows AS dup_frac_x1000,
          |  ((n_rows - n_grams) * 1000 // n_rows >= 5
          |    OR n_rows - n_grams >= 100000000) AS compact
          |FROM c""".stripMargin,
      "text_edit_distance" ->
        """WITH d AS (SELECT doc_id, lang, substr(text, 1, 32) AS p FROM documents),
          |a AS (SELECT lang, min_by(p, doc_id) AS anchor_p FROM d GROUP BY lang)
          |SELECT doc_id, d.lang, levenshtein(p, anchor_p) AS edit_dist
          |FROM d JOIN a USING (lang) ORDER BY doc_id""".stripMargin,
      "text_search_index" ->
        s"""SELECT t.token AS term, doc_id, count(*) AS tf
          |FROM documents, LATERAL unnest($toksSql) t(token)
          |GROUP BY 1, 2 ORDER BY term, doc_id""".stripMargin,
      "text_search_and" -> searchAndSql,
      // probing the persisted bucketed index is defined to be
      // result-identical to the in-memory search — one oracle, two plans
      // (the sibling pattern of dedup_incremental_indexed / sim_ann_ivf_indexed)
      "text_search_indexed" -> searchAndSql,
      // BM25 mirror: identical formula shape and evaluation order as
      // SearchOps.searchBm25 — idf floored to a BIGINT once per term,
      // tf part one double division of exact BIGINT polynomials
      // (22/10/3/9 = k1 1.2, b 0.75 cleared of decimals), addends
      // floored to BIGINT before the per-doc sum
      "text_search_bm25" -> searchBm25Sql,
      // Dirichlet QLD: dense candidate×term grid (absent terms keep
      // their smoothed collection mass), integer-rational addends
      "text_search_qld" -> searchQldSql(10),
      "text_search_rm3" -> searchRm3Sql,
      "text_search_rm3_terms" ->
        s"""WITH $rm3Ctes
          |SELECT term, w, CAST(rk AS BIGINT) AS rk FROM exp
          |ORDER BY rk""".stripMargin,
      "text_search_bm25_filtered" ->
        searchBm25SqlOver("HAVING count(*) = 3", docFilter = "d.lang = 'en'"),
      // compaction verdict mirror: the delete epoch's serving norms =
      // all docs + the %11 poison batch; tombstoned = that batch.
      // Floored integer fraction and thresholds identical to
      // Generations.compactionCheck.
      "text_search_compaction_check" ->
        """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          |p AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents
          |  WHERE doc_id % 11 = 0)
          |SELECT n_docs + t AS n_rows, t AS n_tombstoned,
          |  t * 1000 // (n_docs + t) AS tombstone_frac_x1000,
          |  (t * 1000 // (n_docs + t) >= 50 OR t >= 1000000) AS compact
          |FROM c, p""".stripMargin,
      // band form: serving corpus = the originals + the %3 poison
      // twins admitted by the delete epoch; tombstoned = the twins
      "dedup_band_compaction_check" ->
        """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          |p AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents
          |  WHERE doc_id % 3 = 0)
          |SELECT n_docs + t AS n_rows, t AS n_tombstoned,
          |  t * 1000 // (n_docs + t) AS tombstone_frac_x1000,
          |  (t * 1000 // (n_docs + t) >= 50 OR t >= 1000000) AS compact
          |FROM c, p""".stripMargin,
      // disjunctive form: same chain, no conjunctive HAVING gate
      "text_search_bm25_any" -> searchBm25AnySql,
      // posting-list skew summary: same df derivation as the index
      // build, mean-first floored signal like the IVF retrain check
      "text_search_stats" ->
        s"""WITH idx AS (SELECT t.token AS term, doc_id, count(*) AS tf
          |  FROM documents, LATERAL unnest($toksSql) t(token) GROUP BY 1, 2),
          |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY 1),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
          |  CAST(sum(df) AS BIGINT) AS n_postings,
          |  CAST(max(df) AS BIGINT) AS max_df FROM d)
          |SELECT n_terms, n_postings, max_df,
          |  max_df * 1000 // (n_postings // n_terms) AS max_over_mean_x1000
          |FROM t""".stripMargin,
      // re-shard verdict: the stats distribution thresholded to a
      // decision row — signals and thresholds identical to
      // SearchOps.searchReshardCheck (mean-first BIGINT floor-div)
      "text_search_reshard_check" ->
        s"""WITH idx AS (SELECT t.token AS term, doc_id, count(*) AS tf
          |  FROM documents, LATERAL unnest($toksSql) t(token) GROUP BY 1, 2),
          |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY 1),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
          |  CAST(sum(df) AS BIGINT) AS n_postings,
          |  CAST(max(df) AS BIGINT) AS max_df FROM d),
          |e AS (SELECT *,
          |  max_df * 1000 // (n_postings // n_terms) AS max_over_mean_x1000,
          |  max_df * 1000 // n_postings AS top_frac_x1000 FROM t)
          |SELECT n_terms, n_postings, max_df, max_over_mean_x1000,
          |  top_frac_x1000,
          |  (max_over_mean_x1000 >= 2000 OR top_frac_x1000 >= 200) AS reshard
          |FROM e""".stripMargin,
      "text_search_phrase" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |m AS (SELECT doc_id, CASE WHEN len(toks) >= 2
          |    THEN len(list_filter(range(1, len(toks)),
          |      p -> toks[p] = 'table' AND toks[p + 1] = 'table'))
          |    ELSE 0 END AS n_matches FROM t)
          |SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches FROM m
          |WHERE n_matches > 0 ORDER BY doc_id""".stripMargin,
      // same synth construction + same replacement order (email, ip,
      // phone) — the regex constants are shared verbatim (Java and RE2
      // agree on this lookaround-free subset)
      "text_pii_redact" ->
        s"""WITH synth AS (SELECT doc_id, text
          |  || CASE WHEN doc_id % 3 = 0
          |    THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex-corp.io' ELSE '' END
          |  || CASE WHEN doc_id % 4 = 0
          |    THEN ' call +1 415-555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
          |    ELSE '' END
          |  || CASE WHEN doc_id % 5 = 0
          |    THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END AS s
          |  FROM documents)
          |SELECT doc_id,
          |  len(regexp_extract_all(s, '${TextOps.piiEmail}')) AS n_emails,
          |  len(regexp_extract_all(s, '${TextOps.piiPhone}')) AS n_phones,
          |  len(regexp_extract_all(s, '${TextOps.piiIpv4}')) AS n_ips,
          |  md5(regexp_replace(regexp_replace(regexp_replace(s,
          |    '${TextOps.piiEmail}', '<EMAIL>', 'g'),
          |    '${TextOps.piiIpv4}', '<IP>', 'g'),
          |    '${TextOps.piiPhone}', '<PHONE>', 'g')) AS redacted_md5
          |FROM synth ORDER BY doc_id""".stripMargin,
      "dedup_simhash" ->
        s"""WITH $corpusSql,
          |t AS (SELECT doc_id, $toksSql AS toks FROM corpus)
          |SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash FROM t ORDER BY doc_id""".stripMargin,
      // the asymmetric mirror: intersection over the SMALLER set, no
      // size-ratio prune (small-in-large is the target)
      "dedup_containment_bucket" -> {
        val interSql = "CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)"
        val contSql = s"round($interSql / least(sa.n_sh, sb.n_sh), 6)"
        s"""WITH $corpusSql,
          |t AS (SELECT source, doc_id, $toksSql AS toks FROM corpus),
          |sh AS (SELECT source, doc_id, ds, len(ds) AS n_sh FROM
          |  (SELECT source, doc_id,
          |    list_distinct(list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS ds
          |   FROM (SELECT source, doc_id, ${shinglesSql("toks")} AS shingles FROM t))
          |  WHERE len(ds) > 0)
          |SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, $contSql AS containment
          |FROM sh sa JOIN sh sb ON sa.source = sb.source AND sa.doc_id < sb.doc_id
          |WHERE $contSql >= 0.8
          |ORDER BY id_a, id_b""".stripMargin
      },
      // Spark regexp_replace is global by default; DuckDB needs 'g'
      "dedup_exact_normalized" ->
        s"""WITH $corpusSql
          |SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
          |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash,
          |  min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM corpus GROUP BY 1 ORDER BY content_hash""".stripMargin,
      "dedup_jaccard_bucket" -> {
        val interSql = "CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)"
        val jacDSql = s"round($interSql / (sa.n_sh + sb.n_sh - $interSql), 6)"
        s"""WITH $corpusSql,
          |t AS (SELECT source, doc_id, $toksSql AS toks FROM corpus),
          |sh AS (SELECT source, doc_id, ds, len(ds) AS n_sh FROM
          |  (SELECT source, doc_id,
          |    list_distinct(list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS ds
          |   FROM (SELECT source, doc_id, ${shinglesSql("toks")} AS shingles FROM t))
          |  WHERE len(ds) > 0)
          |SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, $jacDSql AS jaccard
          |FROM sh sa JOIN sh sb ON sa.source = sb.source AND sa.doc_id < sb.doc_id
          |  AND CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= greatest(sa.n_sh, sb.n_sh) * 0.5
          |WHERE $jacDSql >= 0.5
          |ORDER BY id_a, id_b""".stripMargin
      }) ++ (searchEntries ++ bandEntries).map {
      case (name, _, sql) => name -> sql }
  }
}
