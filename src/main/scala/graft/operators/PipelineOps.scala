package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dataset-curation operators for training-data pipelines: deterministic
  * sampling, splits, benchmark decontamination, and mixing. All hashing
  * is md5-based (engine-portable, reproducible run-to-run and
  * cluster-size-independent — the properties a 100 TB curation job needs;
  * rand()-based sampling has neither).
  */
object PipelineOps {

  /** Uniform [0,100) hash bucket of an id — the primitive under sampling
    * and splits. md5 of the decimal string, first 4 hex digits mod 100. */
  def hashBucket100(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** The ppm-resolution form (first 6 hex digits mod 1e6) — fine enough
    * for fractional acceptance rates like temperature flattening. */
  def hashBucketPpm(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long") % 1000000

  /** Deterministic PER-EPOCH shuffle keys — the data-ordering
    * reproducibility primitive a training run consumes: epoch e's
    * permutation is the sort order of md5("e:id") — a fresh
    * pseudo-random but REPRODUCIBLE permutation per epoch, so
    * re-running epoch 3 after a crash re-reads the identical order
    * (what resumable loaders require), and no two epochs share an
    * order (what convergence requires). Emits the KEY, not a global
    * position: the op is a pure per-row hash — no corpus-wide window,
    * no shuffle — and at 100 TB the writer range-partitions by
    * (epoch, shuffle_key) so the permutation materializes in the shard
    * layout instead of a single sort. */
  def epochShuffleKeys(df: DataFrame, idCol: String, epochs: Int): DataFrame = {
    require(epochs >= 1 && epochs <= 1024,
      s"epochShuffleKeys: epochs must be in [1, 1024], got $epochs")
    df.select(col(idCol))
      .withColumn("epoch", explode(expr(
        s"sequence(CAST(0 AS BIGINT), CAST(${epochs - 1} AS BIGINT))")))
      .withColumn("shuffle_key",
        md5(concat_ws(":", col("epoch"), col(idCol))))
      .select(col("epoch"), col(idCol), col("shuffle_key"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each record draws a deterministic uniform u from its id's md5 ppm
    * bucket and competes on key = ln(u)/w — the top-n by key IS an
    * exact weighted sample without replacement. Comparing ln(u)/w
    * instead of u^(1/w) keeps the math in `ln` (correctly rounded on
    * both engines — the BM25/PMI precedent; `pow` is not), quantized
    * to floor(1e12·ln(u)/w) with an id tie-break so ranking is exact
    * cross-engine. Selection is orderBy+limit → TakeOrderedAndProject,
    * the distributed top-k (no global window, no single-partition
    * sort); reproducible and cluster-size-independent at 100 TB. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      n: Int): DataFrame = {
    // one expression for both the reported w and the ranking key
    // (ADVICE r15): a fractional weight would otherwise be cast for
    // display but divide the key un-cast — reported w and the actual
    // sampling key must never disagree
    val wl = weight.cast("long")
    df.select(col(idCol), wl.as("w"),
        floor((lit(1.0e12) *
            log((hashBucketPpm(col(idCol)) + 1) / lit(1000000.0))) / wl)
          .cast("long").as("key12"))
      .orderBy(col("key12").desc, col(idCol)).limit(n)
  }

  /** Temperature-flattened language mixing (the mT5/multilingual
    * sampling cut, τ = 2): each stratum's acceptance rate is
    * √(n_min/n_stratum) — head languages downsample toward the tail so
    * the training mix flattens from the raw p to p^(1/τ). τ = 2 keeps
    * the rate math `sqrt`, which is IEEE-correctly-rounded on BOTH
    * engines (an arbitrary-τ `pow` would not be exactly mirrorable);
    * acceptance is the deterministic [[hashBucketPpm]] cut — narrow,
    * reproducible, cluster-size-independent. The rate table is one
    * stratum-sized aggregate crossed with a broadcast one-row min. */
  def temperatureMix(df: DataFrame, idCol: String,
      stratumCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_stratum"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_stratum")).as("n_min"))))
      .select(col(stratumCol), col("n_stratum"),
        floor(sqrt(col("n_min").cast("double") / col("n_stratum").cast("double"))
          * lit(1000000.0)).cast("long").as("accept_ppm"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(hashBucketPpm(col(idCol)) < col("accept_ppm"))
  }

  /** Stratified sampling: per-stratum keep-rates (percent), applied via
    * the deterministic hash bucket. Narrow (no shuffle); exactly
    * reproducible. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      ratesPercent: Map[String, Int], defaultPercent: Int): DataFrame = {
    val rate = ratesPercent.foldLeft(lit(defaultPercent)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket100(col(idCol)) < rate)
  }

  /** Deterministic train/val/test split by hash bucket: [0,80) train,
    * [80,90) val, [90,100) test. A row's split never changes as the
    * dataset grows — the property rand() splits lack. */
  def trainValTestSplit(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("split",
      when(hashBucket100(col(idCol)) < 80, "train")
        .when(hashBucket100(col(idCol)) < 90, "val")
        .otherwise("test"))

  /** Benchmark decontamination: training docs sharing any `k`-token
    * shingle with the benchmark set are flagged with their overlap count.
    * Shape: explode both sides to (shingle_hash, doc) and equi-join on
    * the hash — a hash join that scales; the benchmark side is distinct
    * and broadcast (benchmarks are small by definition). Shingles are
    * hashed to 60-bit ints BEFORE the distinct/broadcast/probe (VERDICT
    * r2 #5): an 8-byte fixed-width key makes the broadcast an order of
    * magnitude smaller than raw shingle strings and the probe a long
    * compare. The hash is engine-portable md5 ([[TextOps.hashedShingles]])
    * so the DuckDB oracle mirrors it exactly. */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    // explicit count: shingling is CPU-bound on few bytes; AQE's
    // byte-based coalescing would serialize it
    def exploded(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.shingleSet(
          TextOps.shingles(TextOps.tokens(col(textCol)), k))).as("shingle_h"))
    val benchShingles = exploded(benchmark).select(col("shingle_h")).distinct()
    exploded(train)
      .join(broadcast(benchShingles), Seq("shingle_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlapping_shingles"))
  }

  /** Per-batch ingestion curation — the decision frame behind the
    * `pipeline_ingest_batch` capstone AND each [[graft.streaming
    * .IngestStream]] micro-batch (one function, so the streaming and
    * batch forms can never drift): for every doc in `batch`, emit
    * (doc_id, quality, n_tokens, is_dup, is_contaminated, kept) where
    * is_dup = has a near-dup in the standing corpus (probed through the
    * epoch band index — only the batch shuffles), is_contaminated =
    * shares a k-shingle with the broadcast benchmark set, and kept is
    * the conjunction with the quality gate. All joins after the probe
    * are batch-sized; at 100 TB this is the per-arriving-batch cost. */
  def flagIngestBatch(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, bandIndexTable: String, benchmark: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.5, minQuality: Double = 0.30): DataFrame = {
    // the batch feeds THREE branches (band probe, decontaminate, quality
    // projection) that share no exchange — materialize it once instead of
    // re-scanning+re-shingling per branch. RDD-level persist + leaf
    // rebuild (the ivfTopK pattern): reference-tracked, so the
    // ContextCleaner frees the blocks once the caller drops the decision
    // frame, and lineage stays replayable on block loss.
    val raw = batch.select(col(idCol), col(textCol))
    val rdd = raw.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = spark.createDataFrame(rdd, raw.schema)
    val dupNew = Dedup.probeBandIndex(spark, bandIndexTable,
        b, idCol, textCol, threshold)
      .select(col("new_id").as(idCol)).distinct()
      .withColumn("is_dup", lit(true))
    val cont = decontaminate(train = b, benchmark = benchmark, idCol, textCol)
      .select(col(idCol))
      .withColumn("is_contaminated", lit(true))
    b.select(col(idCol),
        TextOps.qualityScore(col(textCol)).as("quality"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(dupNew, Seq(idCol), "left")
      .join(cont, Seq(idCol), "left")
      .select(col(idCol), col("quality"), col("n_tokens"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
      .withColumn("kept",
        !col("is_dup") && !col("is_contaminated") && col("quality") >= minQuality)
  }

  /** Context-window sequence packing: docs are laid out contiguously per
    * stratum in deterministic hash order, and each doc is assigned to the
    * pack (training sequence of `ctxTokens` tokens) its starting offset
    * falls into — the streaming-concat packing used to build fixed-length
    * LLM training batches (docs may straddle a boundary; the tokenizer
    * truncates/continues downstream). One shuffle (window on the
    * stratum); integer-exact math, reproducible at any cluster size. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, ctxTokens: Long): DataFrame =
    packSequencesByCount(df, idCol, stratumCol,
      TextOps.tokenCount(col(textCol)), ctxTokens)

  /** [[packSequences]] over an arbitrary token-count column — the form
    * the BPE-based packing uses (subword counts come from the trained
    * tokenizer, not a per-row expression). */
  def packSequencesByCount(df: DataFrame, idCol: String,
      stratumCol: String, tokensCol: Column, ctxTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val ctx = lit(ctxTokens)
    val withOffset = df
      .withColumn("n_tokens", tokensCol.cast("long"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // integer division via the exact x - pmod(x, w) form
      .withColumn("pack_id",
        ((col("start_tok") - pmod(col("start_tok"), ctx)) / ctx).cast("long"))
    withOffset.groupBy(col(stratumCol), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        min(col("start_tok")).as("pack_start_tok"))
  }

  /** Size-balanced output-shard assignment + manifest — the "write the
    * curated corpus as ~`shardChars`-sized shards" step every 100 TB
    * export ends with (fixed-size shards keep downstream loader
    * parallelism uniform). Shard id = global running byte offset div
    * shard size, so shards tile the id order exactly.
    *
    * The global prefix sum is the scalable TWO-LEVEL form, never a
    * global-order window over the corpus: per-range subtotals (range =
    * `id div rangeSize`, so the offsets frame is N/rangeSize rows —
    * metadata-sized) are cumsum'd on the driver-adjacent tiny frame and
    * broadcast back, then a RANGE-partitioned window adds the
    * within-range running sum. No single partition ever sees more than
    * `rangeSize` rows of the corpus. */
  def shardManifest(df: DataFrame, idCol: String, sizeCol: Column,
      shardChars: Long, rangeSize: Long = 100L): DataFrame = {
    require(shardChars >= 1 && rangeSize >= 1,
      s"shardManifest: shardChars=$shardChars, rangeSize=$rangeSize must be >= 1")
    val base = df.select(col(idCol).as("id"), sizeCol.cast("long").as("sz"))
      .withColumn("rng", expr(s"id div $rangeSize"))
    // bounded-by-construction tiny window (N/rangeSize rows)
    val wOff = Window.orderBy(col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = base.groupBy(col("rng")).agg(sum(col("sz")).as("rng_sz"))
      .withColumn("rng_off", coalesce(sum(col("rng_sz")).over(wOff), lit(0L)))
      .select(col("rng"), col("rng_off"))
    val wIn = Window.partitionBy(col("rng")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(off), Seq("rng"))
      .withColumn("start_off",
        col("rng_off") + coalesce(sum(col("sz")).over(wIn), lit(0L)))
      .withColumn("shard_id", expr(s"start_off div $shardChars"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("total_chars"),
        min(col("id")).as("first_id"), max(col("id")).as("last_id"))
  }

  /** Quota mixing: take the first `quota(stratum)` docs per stratum in
    * deterministic hash order — proportional dataset mixing with
    * reproducible selection. One shuffle (window on the stratum). */
  def mixByQuota(df: DataFrame, idCol: String, stratumCol: String,
      quotas: Map[String, Int], defaultQuota: Int): DataFrame = {
    val quota = quotas.foldLeft(lit(defaultQuota)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .drop("rk")
  }

  /** Per-stratum QUANTILE gate — "keep the best `keepFrac` of every
    * source/domain" — the relative form of the absolute quality
    * threshold [[flagIngestBatch]] applies: an absolute cutoff starves
    * clean sources and floods noisy ones, a per-stratum quantile keeps
    * the mix while still dropping each source's worst tail. Exact and
    * deterministic: rank by (quality desc, id) per stratum, keep ranks
    * up to `ceil(stratum_size * keepFrac)` — ties cannot flap the cut
    * because the id breaks them totally.
    *
    * Scale: one shuffle on the stratum key (the rank and the stratum
    * count share it); the same top-k-per-group shape as
    * [[tokenBudgetSelect]], and the same caveat — a single stratum
    * sorts within its partitions, so a corpus that is 90% one domain
    * wants either sub-stratification or the approximate path (an
    * `approx_percentile` threshold per stratum, broadcast back), which
    * trades exactness for a corpus-sized scan with no big sort. */
  def qualityQuantileFilter(df: DataFrame, idCol: String, stratumCol: String,
      textCol: String, keepFrac: Double = 0.25): DataFrame = {
    val byStratum = Window.partitionBy(col(stratumCol))
    val scored = df.select(col(idCol), col(stratumCol),
      TextOps.qualityScore(col(textCol)).as("quality"))
    scored
      .withColumn("rk", row_number().over(
        byStratum.orderBy(col("quality").desc, col(idCol))))
      .withColumn("n_stratum", count(lit(1)).over(byStratum))
      .filter(col("rk") <= ceil(col("n_stratum") * keepFrac))
      .select(col(idCol), col(stratumCol), col("quality"),
        col("rk").cast("long").as("rk"))
  }

  /** Token-budget selection: per stratum, keep the highest-`quality`
    * docs until the stratum's cumulative token count reaches
    * `budgetTokens` — the "best N tokens per language" curation cut.
    * Quality must be a deterministic, engine-portable expression
    * ([[TextOps.qualityScore]] is; its floor quantization also makes the
    * (quality desc, id) order total and engine-stable). A doc is kept
    * while the budget is not yet exhausted INCLUDING itself, so the cut
    * may overshoot by at most one doc — the contract that needs no
    * look-behind. One shuffle (window per stratum; stratum count is
    * bounded, each stratum's running sum is a linear scan). */
  def tokenBudgetSelect(df: DataFrame, idCol: String, stratumCol: String,
      qualityCol: Column, tokensCol: Column, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("_q").desc, col(idCol))
    df.withColumn("_q", qualityCol)
      .withColumn("n_tokens", tokensCol.cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .drop("_q")
  }

  /** CURRICULUM ordering: phase docs per stratum into `phases` exact
    * quality tiers (phase 0 = cleanest third under the default 3 —
    * train on the crisp signal first, the curriculum-learning
    * schedule) and stamp a deterministic md5 shuffle key so the loader
    * reads (phase, order_key) without any global sort — the
    * [[epochShuffleKeys]] contract composed with the
    * [[qualityQuantileFilter]] stratum ranking. Phase boundaries are
    * exact integer thirds ((rk−1)·phases div n), so ties cannot flap
    * the cut (rank is total via the id tie-break). One per-stratum
    * sort window — same scale caveat as qualityQuantileFilter. */
  def curriculumOrder(df: DataFrame, idCol: String, stratumCol: String,
      textCol: String, phases: Int = 3): DataFrame = {
    val byStratum = Window.partitionBy(col(stratumCol))
    val scored = df.select(col(idCol), col(stratumCol),
      TextOps.qualityScore(col(textCol)).as("quality"))
    scored
      .withColumn("rk", row_number().over(
        byStratum.orderBy(col("quality").desc, col(idCol))))
      .withColumn("n_stratum", count(lit(1)).over(byStratum))
      .select(col(idCol), col(stratumCol), col("quality"),
        expr(s"(rk - 1) * $phases div n_stratum").as("phase"),
        md5(concat_ws(":",
          expr(s"(rk - 1) * $phases div n_stratum"), col(idCol)))
          .as("order_key"))
  }

  /** Hashed-n-gram feature buckets for [[dsirWeights]]: unigrams +
    * bigrams of the whitespace tokens, each hashed to one of
    * [[dsirBuckets]] buckets via the engine-portable md5-prefix
    * (first 4 hex digits mod B — [[hashBucket100]]'s discipline).
    * Feature hashing is what makes the n-gram LM fit at 100 TB: the
    * model is a FIXED-width count vector regardless of vocabulary, so
    * both bag-of-bucket tables below stay ≤ B rows. */
  val dsirBuckets = 4096

  private[graft] def dsirDocCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    df.select(col(idCol),
        explode(concat(toks, TextOps.shingles(toks, 2))).as("feat"))
      .select(col(idCol),
        (conv(substring(md5(col("feat")), 1, 4), 16, 10).cast("long")
          % dsirBuckets).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Bucket-level feature mass of a corpus slice — the ≤ B-row
    * hashed-n-gram LM table itself (`as` names the count column: "ct"
    * for the target side, "cr" for the raw side). This IS the model
    * the streaming loop maintains: counts are distributive, so an
    * arriving wave merges by plain addition — no retrain. */
  private[graft] def dsirBucketCounts(df: DataFrame, idCol: String,
      textCol: String, as: String): DataFrame =
    dsirDocCounts(df, idCol, textCol)
      .groupBy(col("bucket")).agg(sum(col("c")).as(as))

  /** λ[b] = quantized log importance ratio per bucket from the two
    * count tables (smoothed add-1 over totals derived in-plan). Both
    * inputs are ≤ B rows; the result broadcasts onto doc counts. */
  private[graft] def dsirLambda(ct: DataFrame, cr: DataFrame): DataFrame = {
    val b = dsirBuckets
    val tots = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
      .crossJoin(cr.agg(coalesce(sum(col("cr")), lit(0L)).as("tr")))
    def qlog(num: Column, den: Column): Column =
      floor(lit(1000000.0) *
        log(num.cast("double") / den.cast("double"))).cast("long")
    ct.join(cr, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(tots))
      .select(col("bucket"),
        (qlog(coalesce(col("ct"), lit(0L)) + 1, col("tt") + b) -
          qlog(coalesce(col("cr"), lit(0L)) + 1, col("tr") + b)).as("lam"))
  }

  /** Per-doc fold Σ c_b·λ[b] over (id, bucket, c) doc counts. */
  private[graft] def dsirScore(docCounts: DataFrame, lam: DataFrame,
      idCol: String): DataFrame =
    docCounts.join(broadcast(lam), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("lam")).as("logw"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): fit two hashed-n-gram unigram models
    * — one on the small TARGET corpus (the distribution you want more
    * of), one on the large RAW pool — and score every pool document by
    * its log importance ratio
    *
    *   log w(x) = Σ_b c_b(x) · (log p_target[b] − log p_raw[b])
    *
    * with add-1 smoothing p[b] = (count[b]+1)/(total+B). The top-w
    * pool documents are the ones most target-like; selecting them is
    * the resampling step ([[dsirSelect]] is the deterministic top-k
    * variant; the paper's Gumbel-noise resampling drops in by adding a
    * seeded md5 Gumbel to `logw` — same plan shape).
    *
    * Determinism: each smoothed log quantizes to floor(1e6·ln(·))
    * (the BM25-idf discipline), so λ[b] is an exact BIGINT and the
    * per-doc fold Σ c_b·λ[b] is an order-independent integer sum —
    * hash-exact against the DuckDB mirror.
    *
    * 100 TB shape: one feature explode per side feeding bucket-keyed
    * counts (map-side combine, result ≤ B = 4096 rows each); the λ
    * table is a broadcast onto the pool's (doc, bucket) counts; the
    * per-doc fold is one doc-keyed agg. Nothing collects; the model
    * never leaves the cluster. */
  def dsirWeights(target: DataFrame, pool: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pf = dsirDocCounts(pool, idCol, textCol)
    val lam = dsirLambda(
      dsirBucketCounts(target, idCol, textCol, "ct"),
      pf.groupBy(col("bucket")).agg(sum(col("c")).as("cr")))
    dsirScore(pf, lam, idCol)
  }

  /** The resampling step over [[dsirWeights]]: keep the `n` most
    * target-like pool documents — deterministic top-n by
    * (logw desc, id), i.e. orderBy+limit → TakeOrderedAndProject, the
    * distributed top-k (no global window over the pool). The rank is
    * stamped on the already-selected n-row frame, so the only
    * unpartitioned window runs over a parameter-bounded leaf. */
  def dsirSelect(weights: DataFrame, idCol: String, n: Int): DataFrame = {
    val top = weights.orderBy(col("logw").desc, col(idCol)).limit(n)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("logw").desc, col(idCol))).cast("long"))
  }

  /** The paper's STOCHASTIC resampling step (Gumbel-top-k): sampling n
    * docs without replacement ∝ w^(1/τ) is exactly taking the top-n of
    * logw/τ + Gumbel noise (the Gumbel-max trick — one pass, no
    * sequential draws, which is why it's THE way to sample a 100 TB
    * pool). The Gumbel draw is the seeded md5 ppm uniform through the
    * inverse CDF −ln(−ln(u)), quantized to an exact ppm BIGINT — the
    * same determinism contract as [[weightedSample]]'s A-ES key (and
    * the same production swap: seed → CSPRNG). τ > 1 flattens toward
    * uniform, τ → 0 recovers the deterministic [[dsirSelect]]. */
  def dsirResample(weights: DataFrame, idCol: String, n: Int,
      tau: Int, seed: String): DataFrame = {
    val u = (conv(substring(md5(concat_ws(":", lit(seed),
        col(idCol).cast("string"))), 1, 6), 16, 10).cast("long") % 1000000
      + lit(0.5)) / lit(1000000.0)
    val g = floor(lit(1000000.0) * -log(-log(u))).cast("long")
    // EXPLICIT floor division on both engines: logw is negative
    // (log-ratios of a pool doc vs a foreign target), and the two
    // integer-div conventions both truncate toward zero — writing
    // floor(x/τ) in double (exact for |logw| < 2^52) keeps the key
    // definition unambiguous and mirror-identical by construction
    val keyed = weights.withColumn("key",
      floor(col("logw").cast("double") / lit(tau.toDouble)).cast("long") + g)
    val top = keyed.orderBy(col("key").desc, col(idCol)).limit(n)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("key").desc, col(idCol))).cast("long"))
  }
}
