package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, PipelineOps, TextOps}

/** Dataset-curation queries over `documents` (training-data pipeline
  * surface): stratified sampling, splits, decontamination, mixing,
  * context packing, and the composed end-to-end curation chain. */
object PipelineQueries {

  /** DuckDB mirror of PipelineOps.hashBucket100. */
  private def bucketSql(id: String): String =
    s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 4))::BIGINT % 100"

  // shared DuckDB mirror fragments — single definitions in [[OracleSql]]
  private val toksSql = OracleSql.toks
  private def shinglesSql(toks: String): String = OracleSql.shingles(toks)
  private def qualitySql(toks: String): String = OracleSql.quality(toks)
  private def hashedShinglesSql(toks: String): String =
    OracleSql.hashedShingles(toks)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // dataset card: the per-(lang, source) manifest a curated corpus
    // ships with — doc counts, char/token volume, and the exact-dup
    // rate (md5 NDV) in ppm. One grouped pass over the corpus; the
    // token count is the narrow per-row tokenizer, never collected
    "pipeline_dataset_card" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), col("source"), col("n_chars"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          md5(col("text")).as("h"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("h")).as("distinct_texts"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("total_chars"), col("total_tokens"), col("distinct_texts"),
          expr("(n_docs - distinct_texts) * 1000000 div n_docs")
            .as("dup_ppm"))
        .orderBy(col("lang"), col("source"))
    }),

    // deterministic per-epoch shuffle (r17): epoch e's permutation =
    // the sort order of md5("e:doc_id") — reproducible (resumable
    // loaders re-read the identical order) and epoch-fresh (no two
    // epochs share an order); the op emits the KEY per row (no global
    // window, no shuffle — the writer range-partitions by it at scale)
    "pipeline_epoch_shuffle" -> ((s, dir) =>
      PipelineOps.epochShuffleKeys(Tables.documents(s, dir), "doc_id",
          epochs = 2)
        .orderBy(col("epoch"), col("shuffle_key"), col("doc_id"))),

    "pipeline_stratified_sample" -> ((s, dir) => {
      PipelineOps.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
          ratesPercent = Map("en" -> 20, "de" -> 50), defaultPercent = 80)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "pipeline_train_split" -> ((s, dir) => {
      PipelineOps.trainValTestSplit(Tables.documents(s, dir), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    }),

    // SPLIT BALANCE (r20): chi² of independence between the hash split
    // and the language mix — "is the 80/10/10 split accidentally
    // stratified AGAINST a language?" (split_leakage catches shared
    // CONTENT across splits; this catches skewed COMPOSITION). Same
    // densified-grid discipline as stats_chi2_independence: absent
    // (split, lang) cells contribute their full E term, dof from the
    // marginals, DECIMAL(38,0)/HUGEINT products. A healthy hash split
    // has chi2 ≈ dof·1e6; chi2 ≫ dof·1e6 means the split key leaks
    // language (e.g. ids assigned per-source) and per-lang eval is
    // biased. One grouped count over splits×langs cells.
    "pipeline_split_balance" -> ((s, dir) => {
      val d = PipelineOps.trainValTestSplit(Tables.documents(s, dir),
        "doc_id").select(col("split"), col("lang"))
      val o = d.groupBy(col("split"), col("lang")).agg(count(lit(1)).as("o"))
      val r = o.groupBy(col("split")).agg(sum(col("o")).as("r"))
      val c = o.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
      val n = o.agg(sum(col("o")).as("nn"))
      r.crossJoin(broadcast(c))
        .join(broadcast(o), Seq("split", "lang"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(n))
        .select(col("nn"),
          expr("""CAST(
            (CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * ct)
            * (CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * ct)
            * 1000000
            div (CAST(nn AS DECIMAL(38,0)) * r * ct) AS BIGINT)""")
            .as("term"),
          col("split"), col("lang"))
        .agg(max(col("nn")).as("n_docs"),
          countDistinct(col("split")).as("n_splits"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("term")).as("chi2_ppm"))
        .select(col("n_docs"),
          ((col("n_splits") - 1) * (col("n_langs") - 1)).as("dof"),
          col("chi2_ppm"))
    }),

    "pipeline_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      PipelineOps.decontaminate(
          train = docs.filter(col("doc_id") >= 10),
          benchmark = docs.filter(col("doc_id") < 10),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // the composed curation chain a reference user would actually run:
    // language filter → quality gate → exact-dedup survivors →
    // benchmark decontamination → deterministic split → per-split stats.
    // One flagship plan proving the operators COMPOSE (each stage is the
    // already-gated operator, same code path); at scale the chain is
    // narrow until the dedup shuffle and the split stays shuffle-free.
    "pipeline_end_to_end" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // stage materialization: the filter+quality stage feeds four plan
      // branches (dedup agg, semi-join probe, decontaminate train, anti
      // join) that share NO exchange — without a persist the scan and the
      // quality scoring execute once per branch. At pipeline scale you
      // checkpoint between curation stages for exactly this reason. The
      // cache lives for the session but is tiny (a projection of the
      // filtered doc subset, ~MBs at sf0.1).
      val filtered = docs
        .filter(col("lang").isin("en", "de"))
        .filter(TextOps.qualityScore(col("text")) >= 0.30)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val survivors = filtered.join(
        Dedup.exactGroups(filtered, "doc_id", "text")
          .select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val contaminated = PipelineOps.decontaminate(
        train = survivors, benchmark = docs.filter(col("doc_id") < 10),
        "doc_id", "text")
      val clean = survivors.join(
        contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
      PipelineOps.trainValTestSplit(clean, "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"))
        .orderBy(col("split"))
    }),

    // the INGESTION capstone — what actually runs per arriving batch at
    // 100 TB (pipeline_end_to_end is the full-corpus epoch pass): the
    // injected dup docs (ids >= 100000) arrive as the batch; per doc we
    // decide keep/drop from (a) cross near-dup vs the standing corpus
    // through the epoch band index (probe-only — the corpus never
    // reshuffles, VERDICT-proven plan shape), (b) benchmark
    // contamination (bench shingles broadcast), (c) quality gate. Every
    // stage is the already-gated operator on its already-gated code
    // path; all joins after the probe are batch-sized. The dup flag is
    // defined by the same dup_pairs chain as dedup_incremental (shared
    // oracle CTEs), so the two can never drift.
    "pipeline_ingest_batch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      PipelineOps.flagIngestBatch(s,
          batch = TextQueries.dupCorpus(docs).filter(col("doc_id") >= 100000),
          bandIndexTable = TextQueries.bandIndexFor(s, dir),
          benchmark = docs.filter(col("doc_id") < 10),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "pipeline_pack_sequences" -> ((s, dir) => {
      PipelineOps.packSequences(Tables.documents(s, dir), "doc_id", "text",
          "lang", ctxTokens = 512L)
        .orderBy(col("lang"), col("pack_id"))
    }),

    // size-balanced output shards (the export step): shard id = global
    // running char offset div 8192, computed via the two-level prefix
    // sum (range subtotals broadcast + range-partitioned window) — the
    // manifest per shard gates doc count, size, and id span
    "pipeline_shard_manifest" -> ((s, dir) => {
      PipelineOps.shardManifest(Tables.documents(s, dir), "doc_id",
          col("n_chars"), shardChars = 8192L)
        .orderBy(col("shard_id"))
    }),

    // END-TO-END EXPORT capstone (r16): the trained quality classifier
    // (trained on `documents`) filters the incoming dup corpus, exact
    // dedup keeps the min-id copy per surviving text, and the
    // survivors pack into size-balanced output shards — train → filter
    // → dedup → export composed in one plan; the manifest gates it all
    "pipeline_export_capstone" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = graft.operators.Classifier.trajectoryFor(s, docs, dir)
        .epochs.last
      val corpus = TextQueries.dupCorpus(docs)
      val kept = graft.operators.Classifier
        .predict(graft.operators.Classifier.labeledFeatures(corpus), w)
        .filter(col("pred")).select(col("doc_id"))
      val surv = corpus.join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("n_chars"))
      val wmin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text"))
      val ded = surv
        .withColumn("keep_id", min(col("doc_id")).over(wmin))
        .filter(col("doc_id") === col("keep_id"))
      PipelineOps.shardManifest(ded, "doc_id", col("n_chars"),
          shardChars = 8192L)
        .orderBy(col("shard_id"))
    }),

    // QUALITY-RETENTION SWEEP — the "how much corpus does each quality
    // bar cost?" dial read before fixing a minQuality threshold: per
    // candidate cutoff, surviving docs, surviving token mass, and its
    // ppm share of the corpus. ONE scan computes per-doc
    // (quality, tokens); the sweep is a broadcast join of 6 literal
    // cutoffs (the dedup_threshold_sweep discipline), densified so an
    // everything-drops bar still reports its zero row.
    "pipeline_quality_sweep" -> ((s, dir) => {
      val sparkS = s; import sparkS.implicits._
      val d = Tables.documents(s, dir)
        .select(TextOps.qualityScore(col("text")).as("q"),
          TextOps.tokenCount(col("text")).cast("long").as("tok"))
      val tot = d.agg(sum(col("tok")).as("tt"))
      val th = Seq(20L, 30L, 40L, 50L, 60L, 80L).toDF("q_x100")
      broadcast(th)
        .join(d, col("q") >= col("q_x100").cast("double") / lit(100.0),
          "left")
        .groupBy(col("q_x100"))
        .agg(count(col("tok")).as("n_docs"),
          coalesce(sum(col("tok")), lit(0L)).as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("q_x100"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 div tt").as("kept_ppm"))
        .orderBy(col("q_x100"))
    }),

    // WATER-FILLING MIX PLANNER — solve the mixture the quota entries
    // only apply: given per-source token supplies (caps) and a total
    // budget B (half the corpus here), find the unique water level λ
    // with Σ min(capᵢ, λ) = B — small sources contribute everything,
    // large ones are truncated at λ (the max-min-fair allocation
    // data-mix planning reduces to). Closed form, no iteration: sort
    // caps ascending (the caps frame is #sources rows —
    // metadata-sized, so the global window is safe), prefix-sum, and
    // λ = (B − prefix_{j−1}) div (n − j + 1) at the FIRST rank j
    // whose cap exceeds its own candidate level. All-integer: for
    // every rank at or before the boundary the numerator is provably
    // ≥ 0 (each earlier cap fit under its level), so truncating div ≡
    // floor div on the row that gets picked. The one data-sized pass
    // is the token rollup.
    "pipeline_mix_waterfill" -> ((s, dir) => {
      val caps = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
          .as("cap_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cap_tokens"), col("source"))
      val ranked = caps
        .withColumn("rk", row_number().over(w))
        .withColumn("pfx", sum(col("cap_tokens")).over(w))
      val tot = caps.agg(sum(col("cap_tokens")).as("total"),
        count(lit(1)).as("ns"))
      val lam = ranked.crossJoin(broadcast(tot))
        .withColumn("lam_rk", expr(
          "(total div 2 - (pfx - cap_tokens)) div (ns - rk + 1)"))
        .filter(col("cap_tokens") > col("lam_rk"))
        .agg(min(struct(col("rk"), col("lam_rk"))).as("m"))
        .select(col("m.lam_rk").as("water_level"))
      ranked.crossJoin(broadcast(lam))
        .select(col("source"), col("cap_tokens"),
          least(col("cap_tokens"), col("water_level")).as("alloc_tokens"),
          (col("cap_tokens") > col("water_level")).as("truncated"),
          col("water_level"))
        .orderBy(col("source"))
    }),

    "pipeline_mix_quota" -> ((s, dir) => {
      PipelineOps.mixByQuota(Tables.documents(s, dir), "doc_id", "lang",
          quotas = Map("en" -> 40, "zh" -> 10), defaultQuota = 25)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_selected"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    }),

    // cluster-balanced sampling: k-means semantic partitions + the same
    // deterministic per-stratum quota machinery as pipeline_mix_quota —
    // equal representation from every semantic cluster
    "pipeline_cluster_balance" -> ((s, dir) => {
      // quantizer hoisted from the shared IVF epoch (same K/iters —
      // identical centroids, see VectorOps hoisted-forms note)
      val assigned = graft.operators.VectorOps.kmeansAssignWith(
        s.table(
          s"${SimilarityQueries.base(s, dir, SimilarityQueries.ivf)}_cents"),
        Tables.embeddings(s, dir))
      PipelineOps.mixByQuota(assigned.withColumn("cluster", col("cluster_id").cast("string")),
          "vec_id", "cluster", quotas = Map.empty, defaultQuota = 8)
        .select(col("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // best-quality-first token budget per language — the "N tokens per
    // language" curation cut
    "pipeline_token_budget" -> ((s, dir) => {
      PipelineOps.tokenBudgetSelect(Tables.documents(s, dir), "doc_id", "lang",
          TextOps.qualityScore(col("text")), TextOps.tokenCount(col("text")),
          budgetTokens = 3000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
    }),

    // temperature-flattened language mixing (the mT5 sampling cut,
    // τ=2): head languages downsample toward the tail via the
    // deterministic ppm hash cut; per-stratum summary gates both the
    // rate table and the per-doc selection (min/max id pin membership)
    // weighted sampling without replacement (Efraimidis–Spirakis):
    // length-weighted draw — top-500 by the quantized ln(u)/w key
    "pipeline_weighted_sample" -> ((s, dir) => {
      PipelineOps.weightedSample(Tables.documents(s, dir), "doc_id",
          col("n_chars"), n = 500)
        .orderBy(col("key12").desc, col("doc_id"))
    }),

    "pipeline_temperature_mix" -> ((s, dir) => {
      PipelineOps.temperatureMix(Tables.documents(s, dir), "doc_id", "lang")
        .groupBy(col("lang"), col("n_stratum"), col("accept_ppm"))
        .agg(count(lit(1)).as("n_selected"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // SPLIT NOVELTY (r20): per held-out split, the share of its
    // (per-doc-distinct) 3-token shingle hashes NEVER seen in train —
    // the memorization-pressure number: novelty ≈ 0 means the eval
    // split only re-measures training text (decontaminate flags the
    // per-doc offenders; this prices the SPLIT). Same 60-bit md5
    // shingle hashing as the decontamination path; the train set is a
    // distinct hash key — at corpus scale a hash join on 8-byte keys,
    // the decontaminate shape exactly.
    "pipeline_split_novelty" -> ((s, dir) => {
      val toks = graft.operators.TextOps.tokens(col("text"))
      val sh = PipelineOps.trainValTestSplit(Tables.documents(s, dir),
          "doc_id")
        .select(col("split"), explode(array_distinct(
          graft.operators.TextOps.hashedShingles(
            graft.operators.TextOps.shingles(toks)))).as("h"))
      val train = sh.filter(col("split") === "train")
        .select(col("h")).distinct().withColumn("hit", lit(1L))
      sh.filter(col("split") =!= "train")
        .join(train, Seq("h"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_shingles"),
          coalesce(sum(col("hit")), lit(0L)).as("n_seen"))
        .select(col("split"), col("n_shingles"), col("n_seen"),
          expr("(n_shingles - n_seen) * 1000000 div n_shingles")
            .as("novelty_ppm"))
        .orderBy(col("split"))
    }),

    // TEMPERATURE SWEEP (r20): the τ knob curve the single-τ mix entry
    // can't show — per-language acceptance and selected counts at
    // τ ∈ {0.25, 0.5, 1.0} side by side (τ → 0 flattens the mix toward
    // uniform, τ = 1 keeps the natural proportions). Exponents are
    // spelled as sqrt compositions (sqrt(sqrt(r)), sqrt(r), r), all
    // CORRECTLY-ROUNDED IEEE ops on both engines — a libm pow() would
    // risk a last-ulp floor() boundary flip. Same deterministic
    // hashBucketPpm acceptance as temperatureMix; the τ grid is a
    // 3-row broadcast, the corpus is scanned once.
    "pipeline_temperature_sweep" -> ((s, dir) => {
      val counts = Tables.documents(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_stratum"))
      val base = counts
        .crossJoin(broadcast(counts.agg(min(col("n_stratum")).as("n_min"))))
        .select(col("lang"), col("n_stratum"),
          (col("n_min").cast("double") / col("n_stratum").cast("double"))
            .as("r"))
      val rates = Seq(25L -> "sqrt(sqrt(r))", 50L -> "sqrt(r)", 100L -> "r")
        .map { case (t, ex) =>
          base.select(lit(t).as("tau_x100"), col("lang"), col("n_stratum"),
            floor(expr(ex) * lit(1000000.0)).cast("long").as("accept_ppm"))
        }.reduce(_ unionAll _)
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(broadcast(rates), Seq("lang"))
        .filter(PipelineOps.hashBucketPpm(col("doc_id")) < col("accept_ppm"))
        .groupBy(col("tau_x100"), col("lang"), col("n_stratum"),
          col("accept_ppm"))
        .agg(count(lit(1)).as("n_selected"))
        .orderBy(col("tau_x100"), col("lang"))
    }),

    // context packing re-based on SUBWORD counts — the packing a real
    // pretraining pipeline runs (context windows are BPE-token-sized,
    // not word-sized); same deterministic hash-order greedy fill
    "pipeline_pack_sequences_bpe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counted = graft.operators.Bpe.countDocsWithMeta(docs,
        graft.operators.Bpe.modelFor(s, docs, dir)).toDF()
      PipelineOps.packSequencesByCount(counted, "doc_id", "lang",
          col("n_tokens"), ctxTokens = 1024L)
        .orderBy(col("lang"), col("pack_id"))
    }),

    // the token budget re-based on SUBWORD counts (VERDICT r14 #3):
    // same best-quality-first contract as pipeline_token_budget, but
    // n_tokens comes from the corpus-trained BPE ([[graft.operators
    // .Bpe]]) — what a real "N training tokens per language" cut
    // actually budgets. Quality is computed as a Column before the
    // narrow encode stage, so the per-doc pass is one scan; the only
    // wide edge is the per-language budget window itself.
    "pipeline_token_budget_bpe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counted = graft.operators.Bpe.countDocsWithMeta(docs,
        graft.operators.Bpe.modelFor(s, docs, dir)).toDF()
      PipelineOps.tokenBudgetSelect(counted, "doc_id", "lang",
          col("_q"), col("n_tokens"), budgetTokens = 8000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
    }),

    // per-source quality QUANTILE gate — "keep each source's best
    // quarter": the relative cut that preserves the source mix where an
    // absolute threshold would starve clean sources and flood noisy ones
    "pipeline_quality_quantile" -> ((s, dir) => {
      PipelineOps.qualityQuantileFilter(Tables.documents(s, dir),
          "doc_id", "source", "text", keepFrac = 0.25)
        .orderBy(col("doc_id"))
    }),

    // DSIR importance weights (Xie et al. 2023): two hashed-n-gram
    // unigram LMs — target = the 'en' slice, raw = the rest of the
    // pool — and each pool doc scores Σ c_b·λ[b] with λ the quantized
    // log importance ratio per feature bucket. Both LM tables are
    // ≤ 4096 rows (feature hashing — the fixed-width model that fits
    // at 100 TB); λ broadcasts onto the pool's (doc, bucket) counts
    "pipeline_dsir_weights" -> ((s, dir) => {
      val docs = Tables.spread(Tables.documents(s, dir))
      PipelineOps.dsirWeights(
          target = docs.filter(col("lang") === "en"),
          pool = docs.filter(col("lang") =!= "en"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // the resampling step: the 50 most target-like pool docs by
    // (logw desc, id) — TakeOrderedAndProject over the weight table,
    // rank stamped on the selected 50-row leaf only
    "pipeline_dsir_select" -> ((s, dir) => {
      val docs = Tables.spread(Tables.documents(s, dir))
      PipelineOps.dsirSelect(PipelineOps.dsirWeights(
          target = docs.filter(col("lang") === "en"),
          pool = docs.filter(col("lang") =!= "en"),
          "doc_id", "text"), "doc_id", n = 50)
        .select(col("doc_id"), col("logw"), col("rk"))
        .orderBy(col("rk"))
    }),

    // CURRICULUM ordering: per-language exact quality terciles
    // (phase 0 = cleanest third first — the curriculum-learning
    // schedule) + a deterministic md5 interleave key, so the training
    // loader reads (phase, order_key) with no global sort
    "pipeline_curriculum" -> ((s, dir) => {
      PipelineOps.curriculumOrder(Tables.documents(s, dir), "doc_id",
          "lang", "text")
        .orderBy(col("doc_id"))
    }),

    // DOMAIN DISTANCE for mixture design: Jensen-Shannon divergence
    // between every language pair's TOKEN distribution — the number a
    // data-mixing run needs before picking sampling temperatures ("how
    // far apart are these domains really?"). Distributions live on a
    // 4096-bucket FEATURE HASH of the vocabulary (the DSIR discipline:
    // the model side is ≤ B rows per language at any corpus size,
    // never a distinct-token table), densified over the full bucket
    // grid so absent buckets contribute their exact 0 term on both
    // engines. Each KL addend quantizes floor(5e8·p·ln(p/m)) (JSD =
    // ½KL(p‖m)+½KL(q‖m) ≤ ln 2 ⇒ sums stay ≪ BIGINT); langs²·B
    // bounded output fold.
    "pipeline_domain_distance" -> ((s, dir) => {
      val B = 4096
      val cnt = Tables.spread(Tables.documents(s, dir))
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        .select(col("lang"),
          (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long") % B)
            .as("bucket"))
        .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("c"))
      val langs = cnt.select(col("lang")).distinct()
      val grid = langs.crossJoin(
        s.range(1).select(explode(sequence(lit(0), lit(B - 1)))
          .as("bucket")))
      val tot = cnt.groupBy(col("lang")).agg(sum(col("c")).as("t"))
      val full = grid.join(cnt, Seq("lang", "bucket"), "left")
        .select(col("lang"), col("bucket"),
          coalesce(col("c"), lit(0L)).as("c"))
        .join(broadcast(tot), Seq("lang"))
      def kl(cp: String, tp: String, cq: String, tq: String) =
        s"""CASE WHEN $cp = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(500000000 * (CAST($cp AS DOUBLE) / $tp) *
          |  ln((CAST($cp AS DOUBLE) / $tp) /
          |    ((CAST($cp AS DOUBLE) / $tp + CAST($cq AS DOUBLE) / $tq)
          |      / 2))) AS BIGINT) END""".stripMargin
      full.as("a").join(full.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.lang") < col("b.lang"))
        .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
          (expr(kl("a.c", "a.t", "b.c", "b.t")) +
            expr(kl("b.c", "b.t", "a.c", "a.t"))).as("term"))
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("term")).as("jsd_e9"))
        .orderBy(col("lang_a"), col("lang_b"))
    }),

    // DATASET DIFF: the per-language changelog between two dataset
    // versions — added / removed / changed / unchanged doc counts from
    // ONE id-keyed full-outer join comparing content hashes (the
    // "what changed since the last snapshot?" audit every versioned
    // corpus ships; the CDC diff idea applied at dataset granularity).
    // v2 is the deterministic fixture mutation (the shared dup corpus
    // minus id%7 removals, with id%11 text edits) so the gate
    // exercises all four statuses.
    "pipeline_dataset_diff" -> ((s, dir) => {
      val v1 = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      val v2 = TextQueries.dupCorpus(Tables.documents(s, dir))
        .filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("lang"),
          md5(when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
            .as("h"))
      v1.as("a").join(v2.as("b"), Seq("doc_id"), "full_outer")
        .select(coalesce(col("a.lang"), col("b.lang")).as("lang"),
          when(col("a.h").isNull, "added")
            .when(col("b.h").isNull, "removed")
            .when(col("a.h") =!= col("b.h"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("lang"))
        .agg(sum(when(col("status") === "added", 1L).otherwise(0L))
            .as("n_added"),
          sum(when(col("status") === "removed", 1L).otherwise(0L))
            .as("n_removed"),
          sum(when(col("status") === "changed", 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(col("status") === "unchanged", 1L).otherwise(0L))
            .as("n_unchanged"))
        .orderBy(col("lang"))
    }),

    // EPOCH DECORRELATION audit: Spearman ρ between epoch 0's and
    // epoch 1's shuffle orders — the quantitative proof of
    // epochShuffleKeys' design claim ("no two epochs share an
    // ordering"): |ρ| ≈ 0 means the permutations are independent;
    // ρ → 1e6 would mean the loader re-reads the same order every
    // epoch (the bug this audit exists to catch). Exact integer
    // ρ = 1 − 6Σd²/(n(n²−1)) over the two md5 rank orders (tie-free:
    // md5 keys are distinct); DECIMAL/HUGEINT products.
    "pipeline_epoch_decorrelation" -> ((s, dir) => {
      val keys = PipelineOps.epochShuffleKeys(
        Tables.documents(s, dir), "doc_id", epochs = 2)
      // global md5 rank in the scalable TWO-LEVEL form (r21 — the
      // shardManifest range-grid discipline): bucket = the key's first
      // 2 hex chars (256 uniform buckets, order-aligned with the full
      // lexicographic key order since hex strings compare prefix-
      // first), per-bucket counts cumsum'd on the 256-row grid and
      // broadcast back, row_number adds the within-bucket rank. Equal
      // to row_number over the unpartitioned corpus-sized window the
      // r20 form used — md5 keys are distinct, so the order is total.
      def rk(ep: Int, as: String) = {
        val k = keys.filter(col("epoch") === ep)
          .withColumn("bkt", substring(col("shuffle_key"), 1, 2))
        val wOff = Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = k.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
          .withColumn("boff", coalesce(sum(col("bn")).over(wOff), lit(0L)))
          .select(col("bkt"), col("boff"))
        k.join(broadcast(off), Seq("bkt"))
          .withColumn(as, (col("boff") + row_number().over(
            Window.partitionBy(col("bkt")).orderBy(col("shuffle_key"))))
            .cast("long"))
          .select(col("doc_id"), col(as))
      }
      rk(0, "ra").join(rk(1, "rb"), Seq("doc_id"))
        .select(((col("ra") - col("rb")) * (col("ra") - col("rb")))
          .as("d2"))
        .agg(count(lit(1)).as("n_docs"), sum(col("d2")).as("sd2"))
        .select(col("n_docs"), col("sd2"),
          expr("""CASE WHEN n_docs < 2 THEN NULL ELSE
            |CAST(1000000 - (CAST(6 AS DECIMAL(38,0)) * sd2 * 1000000)
            |div (CAST(n_docs AS DECIMAL(38,0)) *
            |  (n_docs * n_docs - 1)) AS BIGINT) END""".stripMargin)
            .as("rho_e6"))
    }),

    // SPLIT LEAKAGE audit: 3-shingle contamination between the
    // deterministic train and val splits — the eval-integrity check
    // every training pipeline must run (a val doc sharing shingles
    // with train is a leaked eval example; the hash split prevents
    // DUPLICATE-ID leakage but not near-duplicate TEXT leakage, which
    // is exactly what this catches). Train's distinct shingle ids
    // semi-join val's exploded shingles (both data-sized, hash-keyed —
    // the decontaminate shape applied to the split boundary); output
    // is the one-row verdict: val docs, contaminated docs, ppm, and
    // the distinct shared-shingle count.
    "pipeline_split_leakage" -> ((s, dir) => {
      val split = PipelineOps.trainValTestSplit(
        Tables.documents(s, dir), "doc_id")
      def shingles(of: DataFrame) = of.select(col("doc_id"),
          explode(TextOps.hashedShingles(
            TextOps.shingles(TextOps.tokens(col("text"))))).as("sh"))
        .distinct()
      val train = shingles(split.filter(col("split") === "train"))
        .select(col("sh")).distinct()
      val valSh = shingles(split.filter(col("split") === "val"))
      val shared = valSh.join(train, Seq("sh"), "left_semi")
      val nVal = split.filter(col("split") === "val")
        .agg(count(lit(1)).as("n_val_docs"))
      shared.agg(
          countDistinct(col("doc_id")).as("n_contaminated_docs"),
          countDistinct(col("sh")).as("n_shared_shingles"))
        .crossJoin(broadcast(nVal))
        .select(col("n_val_docs"), col("n_contaminated_docs"),
          col("n_shared_shingles"),
          expr("n_contaminated_docs * 1000000 div n_val_docs")
            .as("contaminated_ppm"))
    }),

    // CURATION DRIFT: Jensen-Shannon divergence between the RAW
    // corpus's token distribution and the temperature-mixed sample's —
    // the one-number answer to "did curation shift what the model will
    // actually read?" (mix_entropy verifies the LANGUAGE mix moved;
    // this verifies how much the TOKEN distribution moved with it).
    // Same 4096-bucket feature-hash grid and floor(5e8·p·ln(p/m))
    // addends as pipeline_domain_distance; two wordcount passes + a
    // grid-keyed join, one-row output.
    "pipeline_curation_drift" -> ((s, dir) => {
      val B = 4096
      val docs = Tables.documents(s, dir)
      val grid = s.range(1)
        .select(explode(sequence(lit(0), lit(B - 1))).as("bucket"))
      def full(of: DataFrame, cAs: String, tAs: String): DataFrame = {
        val cn = of
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .select((conv(substring(md5(col("w")), 1, 6), 16, 10)
            .cast("long") % B).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
        grid.join(cn, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("c"), lit(0L)).as(cAs))
          .crossJoin(broadcast(cn.agg(sum(col("c")).as(tAs))))
      }
      def kl(cp: String, tp: String, cq: String, tq: String) =
        s"""CASE WHEN $cp = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(500000000 * (CAST($cp AS DOUBLE) / $tp) *
          |  ln((CAST($cp AS DOUBLE) / $tp) /
          |    ((CAST($cp AS DOUBLE) / $tp + CAST($cq AS DOUBLE) / $tq)
          |      / 2))) AS BIGINT) END""".stripMargin
      full(docs, "ca", "ta")
        .join(full(PipelineOps.temperatureMix(docs, "doc_id", "lang"),
          "cb", "tb"), Seq("bucket"))
        .select(col("ta"), col("tb"),
          (expr(kl("ca", "ta", "cb", "tb")) +
            expr(kl("cb", "tb", "ca", "ta"))).as("term"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("ta")).as("n_raw_tokens"),
          max(col("tb")).as("n_mixed_tokens"),
          sum(col("term")).as("jsd_e9"))
    }),

    // MIX-ENTROPY audit: Shannon entropy of the language mix BEFORE vs
    // AFTER temperature sampling — the one-number verification that
    // the flattening worked (H rises toward ln(k) as head languages
    // downsample). Each per-stratum term quantizes to
    // floor(1e6·p·(−ln p)) from exact integer counts, so the audit
    // hash-gates; near-metadata cost (two |langs|-row aggs)
    "pipeline_mix_entropy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def entropy(of: DataFrame, label: String): DataFrame = {
        val c = of.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val tot = c.agg(sum(col("n")).as("nt"))
        c.crossJoin(broadcast(tot))
          .select(lit(label).as("variant"), col("n"), col("nt"),
            floor(lit(1000000.0) *
              (col("n").cast("double") / col("nt").cast("double")) *
              -log(col("n").cast("double") / col("nt").cast("double")))
              .cast("long").as("h_term"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n_langs"), max(col("nt")).as("n_docs"),
            sum(col("h_term")).as("entropy_ppm"))
      }
      entropy(docs, "raw")
        .unionAll(entropy(
          PipelineOps.temperatureMix(docs, "doc_id", "lang"), "mixed"))
        .orderBy(col("variant"))
    }),

    // the paper's STOCHASTIC resample (Gumbel-top-k, τ = 4): top-50 of
    // logw/τ + seeded md5 Gumbel ≡ sampling without replacement
    // ∝ w^(1/τ) in ONE pass — the Gumbel-max trick, the only sampler
    // that works on a 100 TB pool (no sequential draws)
    "pipeline_dsir_resample" -> ((s, dir) => {
      val docs = Tables.spread(Tables.documents(s, dir))
      PipelineOps.dsirResample(PipelineOps.dsirWeights(
          target = docs.filter(col("lang") === "en"),
          pool = docs.filter(col("lang") =!= "en"),
          "doc_id", "text"), "doc_id", n = 50, tau = 4, seed = "dsir9")
        .select(col("doc_id"), col("logw"), col("key"), col("rk"))
        .orderBy(col("rk"))
    }))

  /** Shared DuckDB mirror of [[PipelineOps.dsirWeights]] parameterized
    * over the POOL relation (target is always the 'en' slice of
    * `documents`), ending in `${p}rc (bucket, cr)`, `${p}lam
    * (bucket, lam)` and `${p}dsirw (doc_id, n_feats, logw)` — the `p`
    * prefix lets the streaming scored mirror embed one chain per wave
    * state. Bigrams mirror TextOps.shingles(toks, 2); the bucket hash
    * is the md5-prefix [[bucketSql]] discipline at B = 4096; each
    * smoothed log quantizes to floor(1e6·ln(·)) before the integer
    * fold. */
  private[graft] def dsirCtesOver(poolSql: String, p: String = ""): String = {
    def fx(src: String): String =
      s"""SELECT doc_id, unnest(toks ||
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS feat
        |  FROM $src""".stripMargin
    s"""${p}tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
      |${p}pool AS ($poolSql),
      |${p}tt0 AS (SELECT doc_id, $toksSql AS toks FROM ${p}tgt),
      |${p}pt0 AS (SELECT doc_id, $toksSql AS toks FROM ${p}pool),
      |${p}tfx AS (${fx(s"${p}tt0")}),
      |${p}pfx AS (${fx(s"${p}pt0")}),
      |${p}tdc AS (SELECT doc_id,
      |    ('0x' || substr(md5(feat), 1, 4))::BIGINT % 4096 AS bucket,
      |    count(*) AS c FROM ${p}tfx GROUP BY ALL),
      |${p}pdc AS (SELECT doc_id,
      |    ('0x' || substr(md5(feat), 1, 4))::BIGINT % 4096 AS bucket,
      |    count(*) AS c FROM ${p}pfx GROUP BY ALL),
      |${p}tc AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS ct
      |  FROM ${p}tdc GROUP BY bucket),
      |${p}rc AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr
      |  FROM ${p}pdc GROUP BY bucket),
      |${p}tots AS (SELECT
      |    (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM ${p}tc) AS tt,
      |    (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM ${p}rc) AS tr),
      |${p}lam AS (SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
      |    CAST(floor(1000000.0 * ln((coalesce(tc.ct, 0) + 1)::DOUBLE / (tt + 4096)::DOUBLE)) AS BIGINT)
      |    - CAST(floor(1000000.0 * ln((coalesce(rc.cr, 0) + 1)::DOUBLE / (tr + 4096)::DOUBLE)) AS BIGINT) AS lam
      |  FROM ${p}tc tc FULL JOIN ${p}rc rc ON tc.bucket = rc.bucket, ${p}tots),
      |${p}dsirw AS (SELECT pdc.doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
      |    CAST(sum(c * lam) AS BIGINT) AS logw
      |  FROM ${p}pdc pdc JOIN ${p}lam USING (bucket)
      |  GROUP BY pdc.doc_id)""".stripMargin
  }

  private val dsirCtes: String =
    dsirCtesOver("SELECT doc_id, text FROM documents WHERE lang <> 'en'")

  def oracle: Map[String, String] = Map(
    "pipeline_dataset_card" ->
      s"""WITH d AS (SELECT lang, source, n_chars,
        |  CAST(len($toksSql) AS BIGINT) AS n_tokens, md5(text) AS h
        |  FROM documents),
        |g AS (SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    count(DISTINCT h) AS distinct_texts
        |  FROM d GROUP BY lang, source)
        |SELECT lang, source, n_docs, total_chars, total_tokens,
        |  distinct_texts,
        |  (n_docs - distinct_texts) * 1000000 // n_docs AS dup_ppm
        |FROM g ORDER BY lang, source""".stripMargin,
    // each row's shuffle key is a pure md5 of "epoch:doc_id" — the
    // full 2-epoch key table gates (an epoch collision or a
    // non-reproducible key breaks the hash)
    "pipeline_epoch_shuffle" ->
      """SELECT t.epoch, doc_id,
        |  md5(CAST(t.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
        |    AS shuffle_key
        |FROM documents, range(0, 2) t(epoch)
        |ORDER BY epoch, shuffle_key, doc_id""".stripMargin,
    "pipeline_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${bucketSql("doc_id")} <
        |  (CASE WHEN lang = 'de' THEN 50 WHEN lang = 'en' THEN 20 ELSE 80 END)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_train_split" ->
      s"""SELECT CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
        |  WHEN ${bucketSql("doc_id")} < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    "pipeline_split_balance" ->
      s"""WITH d AS (SELECT CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
        |    WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
        |    ELSE 'test' END AS split, lang FROM documents),
        |o AS (SELECT split, lang, count(*)::BIGINT AS o
        |  FROM d GROUP BY 1, 2),
        |r AS (SELECT split, sum(o)::BIGINT AS r FROM o GROUP BY 1),
        |c AS (SELECT lang, sum(o)::BIGINT AS ct FROM o GROUP BY 1),
        |n AS (SELECT sum(o)::BIGINT AS nn FROM o),
        |grid AS (SELECT r.split, c.lang, r.r, c.ct,
        |    COALESCE(o.o, 0)::BIGINT AS o
        |  FROM r CROSS JOIN c
        |  LEFT JOIN o ON o.split = r.split AND o.lang = c.lang),
        |t AS (SELECT grid.split, grid.lang, nn,
        |    CAST((CAST(grid.o AS HUGEINT) * nn
        |        - CAST(grid.r AS HUGEINT) * grid.ct)
        |      * (CAST(grid.o AS HUGEINT) * nn
        |        - CAST(grid.r AS HUGEINT) * grid.ct)
        |      * 1000000
        |      // (CAST(nn AS HUGEINT) * grid.r * grid.ct) AS BIGINT) AS term
        |  FROM grid CROSS JOIN n)
        |SELECT max(nn) AS n_docs,
        |  (count(DISTINCT split) - 1) * (count(DISTINCT lang) - 1) AS dof,
        |  sum(term)::BIGINT AS chi2_ppm
        |FROM t""".stripMargin,
    "pipeline_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(${hashedShinglesSql("toks")}) AS shingle_h FROM t),
        |bench AS (SELECT DISTINCT shingle_h FROM sh WHERE doc_id < 10)
        |SELECT s.doc_id, count(*) AS n_overlapping_shingles
        |FROM sh s JOIN bench b ON s.shingle_h = b.shingle_h
        |WHERE s.doc_id >= 10
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "pipeline_end_to_end" ->
      s"""WITH t0 AS (SELECT doc_id, text, lang, $toksSql AS toks FROM documents),
        |f AS (SELECT doc_id, text, toks FROM t0
        |  WHERE lang IN ('en', 'de') AND ${qualitySql("toks")} >= 0.30),
        |k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
        |surv AS (SELECT f.doc_id, f.text, f.toks FROM f JOIN k USING (doc_id)),
        |bsh AS (SELECT DISTINCT unnest(${hashedShinglesSql("toks")}) AS sh
        |  FROM t0 WHERE doc_id < 10),
        |csh AS (SELECT doc_id, unnest(${hashedShinglesSql("toks")}) AS sh FROM surv),
        |cont AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b ON c.sh = b.sh),
        |clean AS (SELECT * FROM surv
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
        |    WHEN ${bucketSql("doc_id")} < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS total_tokens
        |FROM clean GROUP BY 1 ORDER BY split""".stripMargin,
    // dup flag = the SAME dup_pairs chain as dedup_incremental restricted
    // to cross pairs; contamination/quality mirror pipeline_decontaminate
    // and text_quality over the batch slice of the shared dup corpus
    "pipeline_ingest_batch" ->
      s"""WITH ${TextQueries.minhashPairCtes},
        |cross_dups AS (SELECT DISTINCT id_b AS doc_id FROM dup_pairs
        |  WHERE id_a < 100000 AND id_b >= 100000),
        |bt AS (SELECT doc_id, $toksSql AS toks FROM corpus WHERE doc_id >= 100000),
        |bench AS (SELECT DISTINCT unnest(${hashedShinglesSql("toks")}) AS sh FROM
        |  (SELECT $toksSql AS toks FROM documents WHERE doc_id < 10)),
        |bsh AS (SELECT doc_id, unnest(${hashedShinglesSql("toks")}) AS sh FROM bt),
        |cont AS (SELECT DISTINCT b.doc_id FROM bsh b JOIN bench e ON b.sh = e.sh),
        |q AS (SELECT doc_id, ${qualitySql("toks")} AS quality,
        |  CAST(len(toks) AS BIGINT) AS n_tokens FROM bt)
        |SELECT q.doc_id, q.quality, q.n_tokens,
        |  (cd.doc_id IS NOT NULL) AS is_dup,
        |  (ct.doc_id IS NOT NULL) AS is_contaminated,
        |  ((cd.doc_id IS NULL) AND (ct.doc_id IS NULL) AND q.quality >= 0.30) AS kept
        |FROM q LEFT JOIN cross_dups cd ON q.doc_id = cd.doc_id
        |LEFT JOIN cont ct ON q.doc_id = ct.doc_id
        |ORDER BY q.doc_id""".stripMargin,
    "pipeline_export_capstone" ->
      s"""WITH ${TextQueries.corpusSql},
        |${TextQueries.perceptronCtes},
        |${TextQueries.perceptronFeatureCtes("corpus", "2")},
        |pred AS (SELECT f.doc_id FROM f2 f, w8 w
        |  WHERE ${TextQueries.perceptronDot} > 0),
        |surv AS (SELECT c.doc_id, c.text, c.n_chars
        |  FROM corpus c JOIN pred USING (doc_id)),
        |ded AS (SELECT doc_id, n_chars FROM (
        |    SELECT doc_id, n_chars,
        |      min(doc_id) OVER (PARTITION BY text) AS keep_id FROM surv)
        |  WHERE doc_id = keep_id),
        |cum AS (SELECT doc_id, n_chars,
        |  coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM ded)
        |SELECT CAST(start_off AS BIGINT) // 8192 AS shard_id,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM cum GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "pipeline_shard_manifest" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |  coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM documents)
        |SELECT CAST(start_off AS BIGINT) // 8192 AS shard_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "pipeline_pack_sequences" ->
      s"""WITH t AS (SELECT lang, doc_id, len($toksSql) AS n_tokens FROM documents),
        |laid AS (SELECT lang, doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER
        |    (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT lang, start_tok // 512 AS pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(start_tok) AS pack_start_tok
        |FROM laid GROUP BY lang, start_tok // 512
        |ORDER BY lang, pack_id""".stripMargin,
    "pipeline_quality_sweep" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        |d AS (SELECT ${OracleSql.quality("toks")} AS q,
        |    CAST(len(toks) AS BIGINT) AS tok FROM t),
        |tt AS (SELECT CAST(sum(tok) AS BIGINT) AS tt FROM d),
        |th AS (SELECT unnest([20, 30, 40, 50, 60, 80]::BIGINT[])
        |  AS q_x100)
        |SELECT th.q_x100 AS q_x100, count(d.tok)::BIGINT AS n_docs,
        |  CAST(coalesce(sum(d.tok), 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(d.tok), 0) AS BIGINT) * 1000000
        |    // (SELECT tt FROM tt) AS kept_ppm
        |FROM th LEFT JOIN d ON d.q >= th.q_x100::DOUBLE / 100.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipeline_mix_waterfill" ->
      s"""WITH caps AS (SELECT source,
        |    CAST(sum(len($toksSql)) AS BIGINT) AS cap_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cap_tokens) AS BIGINT) AS total,
        |    count(*)::BIGINT AS ns FROM caps),
        |r AS (SELECT source, cap_tokens,
        |    row_number() OVER (ORDER BY cap_tokens, source) AS rk,
        |    CAST(sum(cap_tokens) OVER (ORDER BY cap_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pfx
        |  FROM caps),
        |lamc AS (SELECT rk, cap_tokens,
        |    (total // 2 - (pfx - cap_tokens)) // (ns - rk + 1) AS lam_rk
        |  FROM r CROSS JOIN t),
        |lam AS (SELECT lam_rk AS water_level FROM lamc
        |  WHERE cap_tokens > lam_rk ORDER BY rk LIMIT 1)
        |SELECT source, cap_tokens,
        |  least(cap_tokens, water_level) AS alloc_tokens,
        |  cap_tokens > water_level AS truncated, water_level
        |FROM r CROSS JOIN lam ORDER BY source""".stripMargin,
    "pipeline_mix_quota" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, row_number() OVER
        |    (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, count(*) AS n_selected, min(doc_id) AS min_id
        |FROM ranked
        |WHERE rk <= (CASE WHEN lang = 'en' THEN 40 WHEN lang = 'zh' THEN 10 ELSE 25 END)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the shared cluster CTE chain + the pipeline_mix_quota ranking
    "pipeline_cluster_balance" ->
      s"""WITH ${SimilarityQueries.clusterAssignCtes},
        |ranked AS (SELECT vec_id, cid, row_number() OVER
        |    (PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM clusters)
        |SELECT vec_id, cid AS cluster_id FROM ranked WHERE rk <= 8
        |ORDER BY vec_id""".stripMargin,
    // a doc is kept while the budget before it is unexhausted (cum − own
    // < B) — the at-most-one-doc overshoot contract of tokenBudgetSelect
    "pipeline_token_budget" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
        |q AS (SELECT doc_id, lang, len(toks) AS n_tokens,
        |  ${qualitySql("toks")} AS _q FROM t),
        |cum AS (SELECT doc_id, lang, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY _q DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM cum
        |WHERE cum_tokens - n_tokens < 3000
        |ORDER BY lang, cum_tokens, doc_id""".stripMargin,
    // the τ=2 flattening mirror: sqrt is IEEE-correctly-rounded on
    // both engines, so the floored ppm rates are bit-equal; the same
    // md5-ppm cut selects
    "pipeline_weighted_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |  CAST(floor((1000000000000.0 *
        |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |        % 1000000 + 1) / 1000000.0)) / n_chars) AS BIGINT) AS key12
        |FROM documents ORDER BY key12 DESC, doc_id LIMIT 500""".stripMargin,
    "pipeline_split_novelty" ->
      s"""WITH d AS (SELECT doc_id, text,
        |    CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
        |      WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |t AS (SELECT split, doc_id, $toksSql AS toks FROM d),
        |sh AS (SELECT split, unnest(${hashedShinglesSql("toks")}) AS h
        |  FROM t),
        |train AS (SELECT DISTINCT h FROM sh WHERE split = 'train'),
        |x AS (SELECT sh.split, sh.h,
        |    CASE WHEN train.h IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM sh LEFT JOIN train ON sh.h = train.h
        |  WHERE sh.split <> 'train')
        |SELECT split, count(*)::BIGINT AS n_shingles,
        |  CAST(sum(hit) AS BIGINT) AS n_seen,
        |  CAST((count(*) - CAST(sum(hit) AS BIGINT)) * 1000000
        |    // count(*) AS BIGINT) AS novelty_ppm
        |FROM x GROUP BY 1 ORDER BY split""".stripMargin,
    "pipeline_temperature_sweep" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n_stratum
        |  FROM documents GROUP BY lang),
        |mn AS (SELECT min(n_stratum) AS n_min FROM c),
        |b AS (SELECT lang, n_stratum,
        |    n_min::DOUBLE / n_stratum::DOUBLE AS r FROM c, mn),
        |rates AS (
        |  SELECT 25::BIGINT AS tau_x100, lang, n_stratum,
        |    CAST(floor(sqrt(sqrt(r)) * 1000000.0) AS BIGINT) AS accept_ppm
        |  FROM b
        |  UNION ALL
        |  SELECT 50, lang, n_stratum,
        |    CAST(floor(sqrt(r) * 1000000.0) AS BIGINT) FROM b
        |  UNION ALL
        |  SELECT 100, lang, n_stratum,
        |    CAST(floor(r * 1000000.0) AS BIGINT) FROM b),
        |sel AS (SELECT tau_x100, d.lang AS lang, n_stratum, accept_ppm
        |  FROM documents d JOIN rates ON rates.lang = d.lang
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 1000000 < accept_ppm)
        |SELECT tau_x100, lang, n_stratum, accept_ppm,
        |  count(*)::BIGINT AS n_selected
        |FROM sel GROUP BY 1, 2, 3, 4 ORDER BY tau_x100, lang""".stripMargin,
    "pipeline_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n_stratum
        |  FROM documents GROUP BY lang),
        |mn AS (SELECT min(n_stratum) AS n_min FROM c),
        |r AS (SELECT lang, n_stratum,
        |    CAST(floor(sqrt(n_min::DOUBLE / n_stratum::DOUBLE) * 1000000.0)
        |      AS BIGINT) AS accept_ppm
        |  FROM c, mn),
        |sel AS (SELECT d.lang AS lang, n_stratum, accept_ppm, doc_id
        |  FROM documents d JOIN r ON r.lang = d.lang
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 1000000 < accept_ppm)
        |SELECT lang, n_stratum, accept_ppm, count(*) AS n_selected,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM sel GROUP BY 1, 2, 3 ORDER BY lang""".stripMargin,
    // the BPE-packing mirror: subword counts from the SQL-retrained
    // tokenizer, same hash-order greedy fill as pipeline_pack_sequences
    "pipeline_pack_sequences_bpe" ->
      s"""WITH ${TextQueries.bpeDocCtes},
        |t AS (SELECT lang, d.doc_id AS doc_id,
        |    CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN dstats ds ON ds.doc_id = d.doc_id),
        |laid AS (SELECT lang, doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER
        |    (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT lang, start_tok // 1024 AS pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(start_tok) AS pack_start_tok
        |FROM laid GROUP BY lang, start_tok // 1024
        |ORDER BY lang, pack_id""".stripMargin,
    // the BPE-budget mirror: per-doc subword counts from the shared
    // SQL-retrained tokenizer chain, then the same budget window (LEFT
    // JOIN + coalesce keeps zero-token docs on both engines)
    "pipeline_token_budget_bpe" ->
      s"""WITH ${TextQueries.bpeDocCtes},
        |tq AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
        |q AS (SELECT tq.doc_id AS doc_id, lang,
        |    CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
        |    ${qualitySql("toks")} AS _q
        |  FROM tq LEFT JOIN dstats ds ON ds.doc_id = tq.doc_id),
        |cum AS (SELECT doc_id, lang, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY _q DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM cum
        |WHERE cum_tokens - n_tokens < 8000
        |ORDER BY lang, cum_tokens, doc_id""".stripMargin,
    // rank-to-ceil(quarter) per source, (quality desc, doc_id) total
    // order — the deterministic quantile cut of qualityQuantileFilter
    "pipeline_quality_quantile" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
        |q AS (SELECT doc_id, source, ${qualitySql("toks")} AS quality FROM t),
        |r AS (SELECT doc_id, source, quality,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n_stratum FROM q)
        |SELECT doc_id, source, quality, rk FROM r
        |WHERE rk <= ceil(n_stratum * 0.25)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_dataset_diff" ->
      """WITH v1 AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
        |dup AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'xdup ' || text, lang
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 200000, text, lang
        |    FROM documents WHERE doc_id % 5 = 0),
        |v2 AS (SELECT doc_id, lang,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |      ELSE text END) AS h
        |  FROM dup WHERE doc_id % 7 <> 0),
        |j AS (SELECT coalesce(v1.lang, v2.lang) AS lang,
        |    CASE WHEN v1.h IS NULL THEN 'added'
        |      WHEN v2.h IS NULL THEN 'removed'
        |      WHEN v1.h <> v2.h THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |  FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT lang,
        |  sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_added,
        |  sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_removed,
        |  sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_changed,
        |  sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_unchanged
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipeline_epoch_decorrelation" ->
      """WITH k AS (SELECT doc_id,
        |    md5('0:' || CAST(doc_id AS VARCHAR)) AS k0,
        |    md5('1:' || CAST(doc_id AS VARCHAR)) AS k1
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY k0) AS ra,
        |    row_number() OVER (ORDER BY k1) AS rb FROM k),
        |a AS (SELECT count(*)::BIGINT AS n_docs,
        |    sum((ra - rb) * (ra - rb))::BIGINT AS sd2 FROM r)
        |SELECT n_docs, sd2,
        |  CASE WHEN n_docs < 2 THEN NULL ELSE
        |    CAST(1000000 - (CAST(6 AS HUGEINT) * sd2 * 1000000)
        |      // (CAST(n_docs AS HUGEINT) * (n_docs * n_docs - 1))
        |      AS BIGINT) END AS rho_e6
        |FROM a""".stripMargin,
    "pipeline_split_leakage" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 100 AS b
        |  FROM documents),
        |sh AS (SELECT doc_id, b,
        |    unnest(${OracleSql.hashedShingles("toks")}) AS sh FROM d),
        |train AS (SELECT DISTINCT sh FROM sh WHERE b < 80),
        |v AS (SELECT DISTINCT doc_id, sh FROM sh
        |  WHERE b >= 80 AND b < 90),
        |shared AS (SELECT v.doc_id, v.sh FROM v JOIN train USING (sh)),
        |nv AS (SELECT count(*)::BIGINT AS n_val_docs FROM d
        |  WHERE b >= 80 AND b < 90)
        |SELECT n_val_docs,
        |  (SELECT count(DISTINCT doc_id) FROM shared)::BIGINT
        |    AS n_contaminated_docs,
        |  (SELECT count(DISTINCT sh) FROM shared)::BIGINT
        |    AS n_shared_shingles,
        |  (SELECT count(DISTINCT doc_id) FROM shared) * 1000000
        |    // n_val_docs AS contaminated_ppm
        |FROM nv""".stripMargin,
    "pipeline_curation_drift" -> {
      def kl(cp: String, tp: String, cq: String, tq: String) =
        s"""CASE WHEN $cp = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(500000000 * (CAST($cp AS DOUBLE) / $tp) *
          |  ln((CAST($cp AS DOUBLE) / $tp) /
          |    ((CAST($cp AS DOUBLE) / $tp + CAST($cq AS DOUBLE) / $tq)
          |      / 2))) AS BIGINT) END""".stripMargin
      s"""WITH src AS (SELECT doc_id, lang, $toksSql AS toks
        |  FROM documents),
        |c0 AS (SELECT lang, count(*)::BIGINT AS n_stratum
        |  FROM documents GROUP BY lang),
        |mn AS (SELECT min(n_stratum) AS n_min FROM c0),
        |r AS (SELECT lang,
        |    CAST(floor(sqrt(n_min::DOUBLE / n_stratum::DOUBLE)
        |      * 1000000.0) AS BIGINT) AS accept_ppm FROM c0, mn),
        |rawc AS (SELECT ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096
        |      AS bucket, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(toks) AS w FROM src) GROUP BY 1),
        |rt AS (SELECT sum(c)::BIGINT AS t FROM rawc),
        |msrc AS (SELECT s.toks FROM src s JOIN r ON r.lang = s.lang
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 1000000 < accept_ppm),
        |mixc AS (SELECT ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096
        |      AS bucket, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(toks) AS w FROM msrc) GROUP BY 1),
        |mt AS (SELECT sum(c)::BIGINT AS t FROM mixc),
        |g AS (SELECT t.b AS bucket FROM range(0, 4096) t(b)),
        |fa AS (SELECT g.bucket, coalesce(rawc.c, 0)::BIGINT AS ca,
        |    rt.t AS ta
        |  FROM g LEFT JOIN rawc ON g.bucket = rawc.bucket CROSS JOIN rt),
        |fb AS (SELECT g.bucket, coalesce(mixc.c, 0)::BIGINT AS cb,
        |    mt.t AS tb
        |  FROM g LEFT JOIN mixc ON g.bucket = mixc.bucket CROSS JOIN mt)
        |SELECT count(*)::BIGINT AS n_buckets, max(ta) AS n_raw_tokens,
        |  max(tb) AS n_mixed_tokens,
        |  sum(${kl("ca", "ta", "cb", "tb")} +
        |      ${kl("cb", "tb", "ca", "ta")})::BIGINT AS jsd_e9
        |FROM fa JOIN fb ON fa.bucket = fb.bucket""".stripMargin
    },
    "pipeline_domain_distance" -> {
      def kl(cp: String, tp: String, cq: String, tq: String) =
        s"""CASE WHEN $cp = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(500000000 * (CAST($cp AS DOUBLE) / $tp) *
          |  ln((CAST($cp AS DOUBLE) / $tp) /
          |    ((CAST($cp AS DOUBLE) / $tp + CAST($cq AS DOUBLE) / $tq)
          |      / 2))) AS BIGINT) END""".stripMargin
      s"""WITH cnt AS (SELECT lang,
        |    ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 AS bucket,
        |    count(*)::BIGINT AS c
        |  FROM (SELECT lang, unnest($toksSql) AS w FROM documents)
        |  GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang FROM cnt),
        |grid AS (SELECT lang, t.b AS bucket FROM langs, range(0, 4096) t(b)),
        |tot AS (SELECT lang, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
        |fl AS (SELECT g.lang, g.bucket, coalesce(cnt.c, 0)::BIGINT AS c,
        |    tot.t
        |  FROM grid g LEFT JOIN cnt ON g.lang = cnt.lang
        |    AND g.bucket = cnt.bucket
        |  JOIN tot ON g.lang = tot.lang)
        |SELECT a.lang AS lang_a, b.lang AS lang_b,
        |  count(*)::BIGINT AS n_buckets,
        |  sum(${kl("a.c", "a.t", "b.c", "b.t")} +
        |      ${kl("b.c", "b.t", "a.c", "a.t")})::BIGINT AS jsd_e9
        |FROM fl a JOIN fl b ON a.bucket = b.bucket AND a.lang < b.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "pipeline_mix_entropy" ->
      """WITH raw AS (SELECT lang, count(*)::BIGINT AS n FROM documents
        |  GROUP BY lang),
        |rt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM raw),
        |c AS (SELECT lang, count(*)::BIGINT AS n_stratum FROM documents
        |  GROUP BY lang),
        |mn AS (SELECT min(n_stratum) AS n_min FROM c),
        |r AS (SELECT lang, CAST(floor(sqrt(n_min::DOUBLE / n_stratum::DOUBLE)
        |    * 1000000.0) AS BIGINT) AS accept_ppm FROM c, mn),
        |mixed AS (SELECT d.lang, count(*)::BIGINT AS n
        |  FROM documents d JOIN r ON r.lang = d.lang
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 1000000 < accept_ppm
        |  GROUP BY d.lang),
        |mt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM mixed),
        |terms AS (
        |  SELECT 'raw' AS variant, n, nt,
        |    CAST(floor(1000000.0 * (n::DOUBLE / nt::DOUBLE)
        |      * -ln(n::DOUBLE / nt::DOUBLE)) AS BIGINT) AS h_term
        |  FROM raw, rt
        |  UNION ALL
        |  SELECT 'mixed', n, nt,
        |    CAST(floor(1000000.0 * (n::DOUBLE / nt::DOUBLE)
        |      * -ln(n::DOUBLE / nt::DOUBLE)) AS BIGINT)
        |  FROM mixed, mt)
        |SELECT variant, count(*) AS n_langs, max(nt) AS n_docs,
        |  CAST(sum(h_term) AS BIGINT) AS entropy_ppm
        |FROM terms GROUP BY variant ORDER BY variant""".stripMargin,
    "pipeline_dsir_weights" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_feats, logw FROM dsirw ORDER BY doc_id""".stripMargin,
    "pipeline_dsir_select" ->
      s"""WITH $dsirCtes,
        |ranked AS (SELECT doc_id, logw,
        |    row_number() OVER (ORDER BY logw DESC, doc_id) AS rk
        |  FROM dsirw)
        |SELECT doc_id, logw, CAST(rk AS BIGINT) AS rk FROM ranked
        |WHERE rk <= 50 ORDER BY rk""".stripMargin,
    "pipeline_curriculum" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
        |q AS (SELECT doc_id, lang, ${qualitySql("toks")} AS quality FROM t),
        |r AS (SELECT doc_id, lang, quality,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n FROM q)
        |SELECT doc_id, lang, quality,
        |  CAST((rk - 1) * 3 // n AS BIGINT) AS phase,
        |  md5(CAST((rk - 1) * 3 // n AS VARCHAR) || ':' ||
        |    CAST(doc_id AS VARCHAR)) AS order_key
        |FROM r ORDER BY doc_id""".stripMargin,
    "pipeline_dsir_resample" ->
      s"""WITH $dsirCtes,
        |keyed AS (SELECT doc_id, logw,
        |    CAST(floor(logw / 4.0) AS BIGINT)
        |    + CAST(floor(1000000.0 * -ln(-ln(
        |      (('0x' || substr(md5('dsir9:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |        % 1000000 + 0.5) / 1000000.0))) AS BIGINT) AS key
        |  FROM dsirw),
        |ranked AS (SELECT doc_id, logw, key,
        |    row_number() OVER (ORDER BY key DESC, doc_id) AS rk
        |  FROM keyed)
        |SELECT doc_id, logw, key, CAST(rk AS BIGINT) AS rk FROM ranked
        |WHERE rk <= 50 ORDER BY rk""".stripMargin)
}
