package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity-search operators over embedding columns
  * (`array<float>`, SURVEY §2.3): brute-force cosine top-k as the exact
  * baseline and a sign-bucket (random-hyperplane-style) ANN variant as
  * the scale path.
  *
  * All dot products are sequential folds over `zip_with`, computed in
  * double — codegen'd, no UDFs, and bit-compatible with the oracle's
  * list_dot_product. 100 TB design: the query set is broadcast (it is
  * small by definition); the corpus is never collected; ANN buckets
  * bound the candidate set so per-query work is corpus/2^bits.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ as a sequential double fold (order-stable ⇒ deterministic).
    * Routed through the native codegen'd [[graft.functions.DotProductFloat]]
    * — call [[graft.functions.GraftFunctions.register]] on the session (or
    * build it withExtensions(new GraftExtensions)) before planning. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotF(a, b)

  /** The same fold via built-in higher-order functions — kept as the
    * no-registration fallback and as the cross-check for the native
    * expression (identical results bit-for-bit). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Symmetric int8 scalar quantization: per-vector scale 127/max|x|,
    * components rounded half-away-from-zero (Spark round = BigDecimal
    * HALF_UP, DuckDB/C round — identical). An all-zero vector quantizes
    * to zeros. The 100 TB point: the quantized corpus is 4× smaller than
    * float32 — 4× less scan, broadcast, and cache — and every score
    * becomes EXACT integer arithmetic (order-independent by
    * construction, so cross-engine parity is trivial rather than
    * delicate).
    *
    * Hot-path callers: use the column-staged form ([[withQuantized]],
    * what the operators use) — this one-expression convenience embeds
    * the max|x| reduction inside the transform lambda, which interpreted
    * HOFs re-evaluate per ELEMENT (O(d²) per vector, measured 1.5× on
    * the IVF-SQ8 build). */
  def quantizeInt8(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0))
    transform(v, x => round(x.cast("double") * scale).cast("int"))
  }

  /** [[quantizeInt8]] staged through a dedicated scale COLUMN: the
    * one-expression form embeds the max|x| reduction inside the
    * transform lambda, and higher-order functions are interpreted with
    * no common-subexpression elimination — the scale gets recomputed per
    * ELEMENT, O(d²) per vector. Binding it as an attribute first makes
    * the lambda reference a per-row value, O(d). Same arithmetic, same
    * bits. Adds `outCol` to `df`. */
  private def withQuantized(df: DataFrame, vCol: String, outCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vCol), x => abs(x)))
    df.withColumn("_q_scale", when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0)))
      .withColumn(outCol,
        transform(col(vCol), x => round(x.cast("double") * col("_q_scale")).cast("int")))
      .drop("_q_scale")
  }

  // r21 NOTE — attempted and REVERTED (OPTIMIZATION_r21.md): wrapping
  // the build-path corpus references (trainCentroids' Lloyd passes,
  // pqTrainCodebooks, pqEncode, the write paths' assignLists/quantize
  // stages) in Tables.spread was measured min-of-3 on throwaway builds
  // and came out SLOWER at local[32] (trainCentroids 0.98 -> 1.89 s,
  // writeIvfPqResidualIndex 6.63 -> 8.95 s, writeSearchIndex
  // 1.09 -> 1.39 s): these builds are STAGE-bound, not compute-bound
  // (a full Lloyd pass here is ~10-50 M flops), so the extra exchange
  // + 32 tiny tasks per corpus reference cost more than the
  // parallelized arithmetic saved. At real scale the conditional
  // spread is the identity, so reverting costs nothing there either.
  // Don't re-try blind — the r20 audio-seed-spread lesson at build
  // scale.

  /** Exact integer dot of two int8 vectors, accumulated in long (max
    * |term| 127² = 16129 — no overflow below ~5.7e14 dimensions). Routed
    * through the native codegen'd [[graft.functions.DotProductIntExact]]
    * — callers must register (quantizedTopK does). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotI(a, b)

  /** The same fold via built-in higher-order functions — the
    * no-registration fallback and the cross-check for the native
    * expression (identical results: both are exact integer sums). */
  def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)

  /** Cosine over int8-quantized vectors: exact integer dots, one double
    * division at the end. NaN only if a side quantized to all zeros
    * (callers quantize non-degenerate embeddings). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b) / (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Exact top-k neighbors for each query vector: broadcast the (small)
    * query set against the corpus, rank by rounded cosine with id
    * tiebreak. One shuffle (the window on query_id). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.as("c").join(
        broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("c.embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Matryoshka-representation serving (Kusupati et al. 2022, MRL):
    * MRL-trained embeddings carry a usable low-dimensional PREFIX, so
    * the coarse pass ranks candidates by cosine over the first
    * `prefixDims` components only and the exact full-dimension cosine
    * re-ranks each query's `shortlist` — dimension truncation as the
    * quantizer, orthogonal to the codebook (PQ/SQ8) and sign-bit
    * (binary) families.
    *
    * 100 TB shape: the coarse scan touches prefixDims/d of the vector
    * bytes (store the prefix as its OWN column and the parquet scan
    * reads 4× less at d/4); the shortlist is parameter-bounded
    * (queries×shortlist rows), so the exact re-rank never rescans the
    * corpus — the same shortlist→exact composition every other
    * approximate family gates. Both ranking keys are round(·,6)
    * cosines with neighbor_id tie-breaks — deterministic cross-engine. */
  def mrlTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      prefixDims: Int, shortlist: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      slice(col("embedding"), 1, prefixDims).as("qp"),
      col("embedding").as("qv")))
    val coarse = corpus.as("c").join(q, col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine(col("qp"), slice(col("c.embedding"), 1, prefixDims)), 6)
          .as("coarse_sim"),
        col("qv"), col("c.embedding").as("nv"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_sim").desc, col("neighbor_id"))
    val short = coarse.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= shortlist)
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    short.select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= k)
  }

  /** HARD-NEGATIVE mining for retrieval training: per query, corpus
    * vectors from the probed IVF cells (semantically close enough to
    * confuse a retriever — the blocked candidate set, never all-pairs)
    * whose exact cosine lands in [loCos, hiCos) — similar, NOT a
    * positive (a ≥ hiCos candidate is a near-match; mining it as a
    * negative poisons the contrastive loss). Top-k hardest (cos desc)
    * per query. Same probe plan as [[ivfTopK]] — broadcast probes,
    * lists never shuffle — with the band filter between scoring and
    * ranking; a query whose cells hold no in-band candidate yields
    * fewer than k rows (under-fill is honest, padding is not). */
  def ivfHardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int, nProbe: Int, trainIters: Int,
      loCos: Double, hiCos: Double): DataFrame = {
    val trained = trainCentroids(corpus, numCentroids, trainIters)
    val centRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = broadcast(
      corpus.sparkSession.createDataFrame(centRdd, trained.schema))
    val lists = assignLists(corpus, cents)
    val probes = probeLists(queries, cents, nProbe)
    val scored = lists.join(broadcast(probes),
        lists("list_id") === probes("list_id") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= loCos && col("cos_sim") < hiCos)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** SIMPLIFIED (centroid-based) silhouette per cluster — the
    * clustering-quality audit run before trusting a partition for
    * balanced sampling or IVF serving: per point, a = cosine distance
    * to its OWN (nearest) centroid, b = distance to the SECOND-nearest,
    * s = (b−a)/max(a,b) ∈ [0,1] under nearest-centroid assignment
    * (higher = crisper separation; the full silhouette's O(n²)
    * pairwise distances are exactly what doesn't scale, which is why
    * production stacks audit the centroid form). Per-point s quantizes
    * to ppm BEFORE the per-cluster mean, so the fold is an
    * order-independent integer sum (never average raw doubles across a
    * shuffle). Plan shape: one N×K broadcast score pass (the
    * [[kmeansAssign]] shape) folded to two rows per point by the
    * per-vec top-2 window. */
  def clusterSilhouette(corpus: DataFrame, numCentroids: Int,
      trainIters: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val trained = trainCentroids(corpus, numCentroids, trainIters)
    val centRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = broadcast(
      corpus.sparkSession.createDataFrame(centRdd, trained.schema))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cid"))
    val top = corpus.crossJoin(cents)
      .select(col("vec_id"), col("cid"),
        round(cosine(col("embedding"), col("cv")), 6).as("cs"))
      .withColumn("cr", row_number().over(w)).filter(col("cr") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("cr") === 1, col("cid"))).as("cluster_id"),
        max(when(col("cr") === 1, col("cs"))).as("cs1"),
        max(when(col("cr") === 2, col("cs"))).as("cs2"))
    val dmax = greatest(lit(1.0) - col("cs1"), lit(1.0) - col("cs2"))
    top.select(col("cluster_id"),
        when(dmax === 0.0, lit(0L))
          .otherwise(floor(lit(1000000.0) * (col("cs1") - col("cs2")) / dmax)
            .cast("long")).as("s_ppm"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("s_ppm")).as("sum_s_ppm"))
      .select(col("cluster_id"), col("n"), col("sum_s_ppm"),
        expr("sum_s_ppm div n").as("mean_s_ppm"))
  }

  /** Persist the MRL serving layout (r19 — the lifecycle form):
    *
    *  - `_cents (cid, cv)`: a Lloyd-trained coarse quantizer over the
    *    PREFIX vectors (prefixDims-dim), broadcast at probe time;
    *  - `_prefix (vec_id, prefix, list_id)`: the truncated-dim coarse
    *    vectors as their OWN narrow table, `partitionBy(list_id)` —
    *    the flat probe ([[probeMrlIndex]]) scans prefixDims/d of the
    *    vector BYTES (layout-invisible: list_id is just partitioning),
    *    and the composed probe ([[probeMrlIndexIvf]]) additionally
    *    prunes to nProbe/K of the ROWS via dynamic partition pruning
    *    (VERDICT r18 #1/#4 — the coarse pass prunes rows AND bytes);
    *  - `_nodes (vec_id, embedding)`: the full-precision side only the
    *    parameter-bounded shortlist ever joins.
    *
    * The prefix of a vector is a pure `slice()` — dimension truncation
    * has no trained codebook — so appends are FROZEN-DERIVATION by
    * construction (no Lloyd pass, cells assigned by the frozen
    * `_cents`), which is what makes the whole mutation lifecycle below
    * oracle-able against the untouched [[mrlTopK]] mirror. */
  def writeMrlIndex(corpus: DataFrame, table: String, path: String,
      prefixDims: Int, numCentroids: Int = 16, trainIters: Int = 2): Unit =
    writeGeneration(corpus, table, path, Seq("_cents" -> ((_, _, c) =>
      trainCentroids(c.select(col("vec_id"),
        slice(col("embedding"), 1, prefixDims).as("embedding")),
        numCentroids, trainIters))), mrlPrefixes)

  /** The MRL encoder: `_prefix` rows are `slice()`s at the width of the
    * frozen `_cents` — trained over prefixes, and copied verbatim by
    * every compaction, so an emptied generation still knows it (a
    * 1-row driver read) — listed by those centroids; `_nodes` keeps
    * the full vectors. Probing after an append must equal probing the
    * union corpus (the oracle-ability contract every append in the
    * family shares); the indexed corpus is never read. */
  private[graft] val mrlPrefixes: Encoder = (s, t, rows) => {
    val d = s.table(s"${t}_cents").select(size(col("cv"))).head().getInt(0)
    Seq("_prefix" -> listed(s, t,
        rows.withColumn("embedding", slice(col("embedding"), 1, d)))
        .select(col("vec_id"), col("embedding").as("prefix"), col("list_id")),
      "_nodes" -> rows.select(col("vec_id"), col("embedding")))
  }

  /** Probe a [[writeMrlIndex]] epoch — identical output to [[mrlTopK]]
    * with the same parameters (parity spec-pinned), but the coarse
    * ranking scans ONLY the narrow `_prefix` table; the exact re-rank
    * is a hash join of the parameter-bounded shortlist
    * (queries×shortlist rows, the broadcast side) against `_nodes`,
    * so the full-vector bytes are touched once in a single probe pass
    * rather than carried through the corpus-wide ranking — the same
    * serve shape as the PQ/graph exact re-ranks. Serves through
    * [[Generations.publishPointer]] indirection when given one, and
    * anti-joins the tombstone sidecar BEFORE the coarse rank (a dead
    * vector must not eat a shortlist slot — the exactness condition
    * that lets every mutated generation share the untouched
    * oracle). */
  def probeMrlIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, k: Int, prefixDims: Int,
      shortlist: Int): DataFrame = {
    val t = Generations.resolveServing(spark, table)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      slice(col("embedding"), 1, prefixDims).as("qp"),
      col("embedding").as("qv")))
    val coarse = IndexFamily.live(spark, t, spark.table(s"${t}_prefix"), "vec_id")
      .as("c")
      .join(q, col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine(col("qp"), col("c.prefix")), 6).as("coarse_sim"),
        col("qv"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_sim").desc, col("neighbor_id"))
    val short = coarse.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= shortlist)
    val nodes = spark.table(s"${t}_nodes")
      .select(col("vec_id"), col("embedding").as("nv"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    short.join(nodes, short("neighbor_id") === nodes("vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= k)
  }

  /** The ROW-pruned MRL probe (VERDICT r18 #4): the prefix composes
    * with the epoch's coarse quantizer, so the coarse pass reads only
    * the nProbe probed cells' partitions of the already-narrow
    * `_prefix` table — nProbe/K of the rows × prefixDims/d of the
    * bytes, the compounded cut real Matryoshka serving runs. Within
    * the probed cells the prefix cosine ranks the per-query shortlist
    * exactly like [[probeMrlIndex]]; the exact full-dim re-rank joins
    * `_nodes` on the parameter-bounded shortlist. Approximate on TWO
    * axes (cell boundary + prefix truncation), so it carries its own
    * oracle and recall audit instead of the flat family's. */
  def probeMrlIndexIvf(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, k: Int, prefixDims: Int,
      shortlist: Int, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("cid"))
    val probes = queries.select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, prefixDims).as("qp"),
        col("embedding").as("qv"))
      .crossJoin(cents)
      .withColumn("_csim", round(cosine(col("qp"), col("cv")), 6))
      .withColumn("_cr", row_number().over(probeW))
      .filter(col("_cr") <= nProbe)
      .select(col("cid").as("list_id"), col("query_id"), col("qp"),
        col("qv"))
    mrlIvfProbeTail(spark, t, probes, k, shortlist)
  }

  /** Adaptive-nProbe composed probe (VERDICT r19 #1): a fixed cell
    * count under-probes exactly the queries that need widening — one
    * sitting near a Voronoi boundary spreads its true neighbors over
    * many cells, and a skewed cell-size distribution makes "2 cells"
    * mean anything from 2% to 40% of the corpus. Here each query walks
    * DOWN its coarse-similarity cell ranking and keeps probing until
    * the cells already accepted cover `massTargetPpm` of the live
    * corpus rows (a cell is probed iff the mass BEFORE it is still
    * under target, so coverage ≥ target is guaranteed and every query
    * probes ≥ 1 cell). The mass table is one count per cell (≤ K ≈ √N
    * rows, broadcast) that the IVF family already materializes for its
    * skew monitors; the decision is integer-exact
    * (`cum_before·1e6 < target·N` — no float division), so both
    * engines admit identical cell sets. Probed rows still reach the
    * prefix scan as a broadcast on the partition column — the DPP
    * row-pruning cut of [[probeMrlIndexIvf]] is unchanged (pinned in
    * Round20Spec). At 100 TB the target is the recall/cost dial: the
    * probe reads target·N prefix ROWS × prefixDims/d of the bytes, and
    * raising K (√N derivation) keeps per-cell mass — and therefore the
    * adaptive step size — flat as the corpus grows. */
  def probeMrlIndexIvfAdaptive(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, k: Int, prefixDims: Int,
      shortlist: Int, massTargetPpm: Long): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    val live = IndexFamily.live(spark, t, spark.table(s"${t}_prefix"), "vec_id")
    val mass = live.groupBy(col("list_id")).agg(count(lit(1)).as("m"))
    val tot = broadcast(mass.agg(sum(col("m")).as("n_total")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("cid"))
    val cumW = Window.partitionBy(col("query_id")).orderBy(col("_cr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val probes = queries.select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, prefixDims).as("qp"),
        col("embedding").as("qv"))
      .crossJoin(cents)
      .withColumn("_csim", round(cosine(col("qp"), col("cv")), 6))
      .withColumn("_cr", row_number().over(probeW))
      .join(broadcast(mass.withColumnRenamed("list_id", "cid")),
        Seq("cid"), "left")
      .na.fill(0L, Seq("m"))
      .withColumn("_cum_before", coalesce(sum(col("m")).over(cumW), lit(0L)))
      .crossJoin(tot)
      .filter(col("_cum_before") * lit(1000000L) <
        lit(massTargetPpm) * col("n_total"))
      .select(col("cid").as("list_id"), col("query_id"), col("qp"),
        col("qv"))
    mrlIvfProbeTail(spark, t, probes, k, shortlist)
  }

  /** Shared tail of the composed MRL probes: the coarse prefix-cosine
    * ranking runs only inside the probed cells' partitions (`probes`
    * is broadcast on the partition column ⇒ dynamic partition
    * pruning), the parameter-bounded shortlist is the broadcast side
    * of the exact full-dim re-rank against `_nodes`. */
  private def mrlIvfProbeTail(spark: org.apache.spark.sql.SparkSession,
      t: String, probes: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val coarse = IndexFamily.live(spark, t, spark.table(s"${t}_prefix"), "vec_id")
      .join(broadcast(probes),
        Seq("list_id")).filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qp"), col("prefix")), 6).as("coarse_sim"),
        col("qv"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_sim").desc, col("neighbor_id"))
    val short = coarse.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= shortlist)
    val nodes = spark.table(s"${t}_nodes")
      .select(col("vec_id"), col("embedding").as("nv"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    short.join(nodes, short("neighbor_id") === nodes("vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Maximal-Marginal-Relevance diversified serving: greedy re-rank of
    * a relevance shortlist so each pick trades relevance against
    * similarity to what is already picked —
    * `mmr = ½·rel − ½·max_{s∈selected} sim(c, s)` (λ = 0.5), the
    * standard diversification pass a retrieval stack runs AFTER ANN.
    *
    * Scale shape: the expensive part is the shortlist (any serving
    * family produces it — brute force here for an exact oracle); the
    * greedy loop touches only |queries|·shortlist rows. Both the
    * shortlist and its in-shortlist pairwise-sim table are
    * parameter-bounded (≤ q·s and ≤ q·s² rows), so they pin as eager
    * local leaves (the TextOps c2 pattern — no corpus re-scan per
    * greedy step, nothing cached in the block manager). All
    * comparisons happen on round(·,6)-quantized scores with
    * neighbor_id tie-breaks — deterministic across engines. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame,
      shortlist: Int, k: Int): DataFrame = {
    // the in-shortlist pairwise-sim table below pins |queries|·s² rows
    // as a driver-local leaf — quadratic in the shortlist PARAMETER.
    // Refuse loudly instead of OOMing silently (VERDICT r18): at the
    // bound, 10 queries · 512² ≈ 2.6M small rows — already generous
    // for a greedy diversification pass (production MMR shortlists are
    // tens to hundreds)
    require(shortlist <= 512,
      s"mmrTopK: shortlist = $shortlist > 512 — the greedy pass pins " +
        "queries*shortlist^2 pairwise-sim rows on the driver; " +
        "diversify a smaller shortlist or pre-cut with an ANN stage")
    val spark = corpus.sparkSession
    def leaf(df: DataFrame): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
    val sl = leaf(bruteForceTopK(queries, corpus, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim").as("rel")))
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    val withVec = sl.join(vecs, sl("neighbor_id") === vecs("vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("embedding"))
    val pair = leaf(withVec.as("x").join(withVec.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.neighbor_id") =!= col("y.neighbor_id"))
      .select(col("x.query_id").as("query_id"),
        col("x.neighbor_id").as("a_id"), col("y.neighbor_id").as("b_id"),
        round(cosine(col("x.embedding"), col("y.embedding")), 6).as("sim")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    var selected = sl.withColumn("rk", row_number().over(w1))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        lit(1L).as("sel_rk"))
    for (step <- 2 to k) {
      val remaining = sl.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val ms = pair.join(
          selected.select(col("query_id"), col("neighbor_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id")).agg(max(col("sim")).as("max_sim"))
      val scored = remaining.join(ms,
          remaining("query_id") === ms("query_id") &&
            remaining("neighbor_id") === ms("a_id"))
        .select(remaining("query_id"), col("neighbor_id"), col("rel"),
          round(lit(0.5) * col("rel") - lit(0.5) * col("max_sim"), 6).as("mmr"))
      val ws = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr").desc, col("neighbor_id"))
      // re-leaf each step: `selected` is referenced 3× per step (anti
      // filter, max-sim join, union), so a lazy union chain re-executes
      // its whole history 3×/step — 3^k small jobs by step k. The
      // per-step leaf is ≤ |queries|·step rows.
      selected = leaf(selected.unionByName(
        scored.withColumn("rk", row_number().over(ws)).filter(col("rk") === 1)
          .select(col("query_id"), col("neighbor_id"), col("rel"),
            lit(step.toLong).as("sel_rk"))))
    }
    selected
  }

  /** [[bruteForceTopK]] over int8-quantized vectors — the
    * memory/bandwidth trade of large-scale vector search: quantization
    * happens in the scan projection (the float arrays never leave the
    * scan), ranking error vs exact cosine is what
    * `sim_quantized_recall` audits. Same ranking contract as the exact
    * path: (rounded score desc, neighbor_id). */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val qc = withQuantized(corpus, "embedding", "qe").select(col("vec_id"), col("qe"))
    val qq = withQuantized(queries, "embedding", "qv")
      .select(col("vec_id").as("query_id"), col("qv"))
    val scored = qc.as("c").join(broadcast(qq), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosineQ(col("qv"), col("c.qe")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  // ---------------------------------------------------------------- PQ

  /** Slice each row's vector into `m` contiguous subvectors of `dsub`
    * components: (idCol, s, sv). The slice positions are plan-time
    * literals, so the projection stays a narrow codegen'd map. */
  private def subVectors(df: DataFrame, idCol: String, vCol: String,
      m: Int, dsub: Int): DataFrame =
    df.select(col(idCol), posexplode(array(
        (0 until m).map(s => slice(col(vCol), s * dsub + 1, dsub)): _*))
      .as(Seq("s", "sv")))

  /** Squared L2 distance expanded through three deterministic
    * sequential-fold dots (‖a‖² − 2a·b + ‖b‖²) — PQ codebooks quantize
    * the subvector ITSELF (reconstruction), so the training metric is
    * L2, not the cosine the coarse IVF quantizer uses. */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Product-quantization codebook training (Jégou et al., TPAMI 2011):
    * the vector space is split into `m` independent subspaces of
    * `dim/m` components and each gets its own `ksub`-centroid Lloyd
    * codebook — so a vector compresses to `m` small codes (m bytes at
    * ksub ≤ 256) instead of `dim` floats, a 32× payload cut at the
    * default (64 floats → 8 codes), against SQ8's 4×.
    *
    * Determinism contract (the DuckDB-mirror discipline of
    * [[trainCentroids]]): seeds are the `vec_id < ksub` subvectors,
    * assignment is argmin of `round(l2², 6)` with lowest-cid
    * tie-break, and the update mean runs over `floor(x·1e6)` longs —
    * order-independent integer sums, so the codebook bits cannot
    * depend on partitioning/AQE. All m·iters assignments ride ONE
    * sliced frame: per iteration one broadcast join (m·ksub codebook
    * rows — KB-sized) + one shuffle of N·m narrow rows. Returns
    * (s, cid, cv). */
  def pqTrainCodebooks(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      iterations: Int = 2, dim: Int = 64,
      trainLimit: Long = Long.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val dsub = dim / m
    // codebooks train on the deterministic `vec_id < trainLimit` sample
    // — at corpus scale training on everything is the anti-pattern (a
    // k-means over 100 TB to place 64·m cell centers); the sample
    // trains, the WHOLE corpus encodes. The filter is mirrored verbatim
    // in the oracle, so sampled training stays hash-gated.
    val sv = subVectors(corpus.filter(col("vec_id") < trainLimit),
      "vec_id", "embedding", m, dsub)
    var cents = sv.filter(col("vec_id") < ksub)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("cv"))
    var it = 0
    while (it < iterations) {
      val asg = sv.join(broadcast(cents), Seq("s"))
        .withColumn("_d", round(l2sq(col("sv"), col("cv")), 6))
        .groupBy(col("vec_id"), col("s"))
        .agg(min_by(struct(col("cid"), col("sv")),
          struct(col("_d"), col("cid"))).as("best"))
        .select(col("s"), col("best.cid").as("cid"), col("best.sv").as("sv"))
      cents = asg
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .select(col("s"), col("cid"), col("pos"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("q"))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .groupBy(col("s"), col("cid"))
        .agg(sort_array(collect_list(struct(col("pos"),
          (col("sq").cast("double") / (col("n").cast("double") * lit(1e6)))
            .cast("float").as("m")))).as("pm"))
        .select(col("s"), col("cid"), transform(col("pm"), p => p("m")).as("cv"))
      it += 1
    }
    cents
  }

  /** Per-subspace QUANTIZATION-DISTORTION audit of a standing PQ
    * epoch: mean squared L2 reconstruction error between each corpus
    * subvector and its assigned sub-centroid — the index-health number
    * a PQ deployment watches alongside recall (rising distortion in a
    * subspace says its codebook no longer fits the data; the
    * retrain_check monitors list SKEW, this monitors fit). Each
    * per-row error is floor(·1e6)-quantized BEFORE the mean so the
    * aggregation is an order-independent integer sum (the sim_dim_stats
    * discipline: never sum raw doubles across a shuffle). One corpus
    * scan joined to the KB-sized broadcast codebooks; output is m
    * rows. */
  def pqDistortion(spark: org.apache.spark.sql.SparkSession,
      table: String, corpus: DataFrame, m: Int = 8,
      dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = spark.table(s"${table}_codebooks")
    subVectors(corpus, "vec_id", "embedding", m, dim / m)
      .join(spark.table(s"${table}_codes"), Seq("vec_id", "s"))
      .join(broadcast(cents), Seq("s", "cid"))
      .select(col("s").cast("long").as("s"),
        floor(l2sq(col("sv"), col("cv")) * lit(1000000.0)).cast("long")
          .as("q"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_e6"))
      .select(col("s"), col("n"), col("sum_e6"),
        expr("sum_e6 div n").as("mse_e6"))
      .orderBy(col("s"))
  }

  /** PQ-encode a corpus against trained codebooks: per (vector,
    * subspace) the nearest sub-centroid under the training metric
    * (argmin round(l2²,6), lowest-cid ties — identical rule, so encode
    * can never drift from training). Kept EXPLODED as (vec_id, s, cid)
    * — m narrow rows per vector — because every consumer (ADC scoring,
    * the oracle mirror) joins on (s, cid); the m codes are the
    * vector's entire retained payload. */
  def pqEncode(corpus: DataFrame, cents: DataFrame, m: Int = 8,
      dim: Int = 64): DataFrame =
    subVectors(corpus, "vec_id", "embedding", m, dim / m)
      .join(broadcast(cents), Seq("s"))
      .withColumn("_d", round(l2sq(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("cid"), struct(col("_d"), col("cid"))).as("cid"))

  /** PQ ANN top-k via asymmetric distance computation (ADC): the query
    * stays EXACT while each corpus vector is scored through its
    * reconstruction —
    *
    *   dot(q, x) ≈ Σₛ dot(qₛ, c[s, code_s(x)])   (m table lookups)
    *   ‖x‖²     ≈ Σₛ ‖c[s, code_s(x)]‖²
    *
    * so scoring reads ONLY the m codes per corpus vector, never the
    * float array — at 100 TB the scan is the cost, and PQ cuts it 32×
    * (vs SQ8's 4×) at the recall price `sim_ann_pq_recall` audits. The
    * per-(query, subspace, cid) partial dots form a LUT of Q·m·ksub
    * rows (KB-sized — broadcast); scoring is a broadcast join of the
    * exploded codes against it, folded per (query, vector) by an
    * integer SUM over `floor(pd·1e9)` longs — order-independent, so
    * the score bits are partition-invariant and the DuckDB mirror is
    * exact (a raw double Σ over subspaces would make the 6th decimal
    * depend on reduction order). Map-side partial aggregation means
    * the shuffle carries Q·N folded rows, not Q·N·m. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16, trainIters: Int = 2, dim: Int = 64,
      trainLimit: Long = 16384L): DataFrame = {
    val scored = pqAdcScored(queries, corpus, m, ksub, trainIters, dim,
      trainLimit)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[pqTopK]] with the Lloyd training HOISTED into a standing
    * epoch's `_codebooks` leaf (VERDICT r19 #2): encode + ADC scoring
    * still run over the raw corpus in-query — this stays the
    * "unpersisted corpus" form, distinct from [[probePqIndex]] which
    * reads the persisted 32×-compressed codes — but the sub-codebook
    * training (the dominant warm cost: m·ksub·iters Lloyd passes over
    * the training slice) is paid ONCE per (session, dir) epoch and
    * shared with every other PQ entry. Output is bit-identical to
    * [[pqTopK]] with the epoch's build parameters because the epoch
    * trains with the identical deterministic procedure over the same
    * corpus — so the untouched oracle keeps gating it. */
  def pqTopKHoisted(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = spark.table(s"${table}_codebooks")
    val scored = pqAdcFold(pqEncode(corpus, cents, m, dim),
      pqLut(queries, cents, m, dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** PQ-ADC shortlist + exact re-rank — the production composition: the
    * compressed scan RANKS (cheap, code-width IO over the whole corpus)
    * and the float read is deferred to the per-query `shortlist`
    * survivors (Q·shortlist rows — an id-equi-join probe, not a scan),
    * which are re-scored with EXACT cosine and cut to `k`. Recall is
    * then bounded by "true neighbor in the ADC top-`shortlist`" — far
    * looser than top-k — while ranking precision is exact; at 100 TB
    * the float fetch is Q·shortlist point reads against a corpus the
    * ADC pass never materialized. */
  def pqTopKRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 32, m: Int = 8, ksub: Int = 16,
      trainIters: Int = 2, dim: Int = 64,
      trainLimit: Long = 16384L): DataFrame =
    pqRerankExact(
      pqAdcScored(queries, corpus, m, ksub, trainIters, dim, trainLimit),
      queries, corpus, k, shortlist)

  /** The shared rerank tail: cut the ADC scores to the per-query
    * `shortlist`, fetch ONLY those float vectors (broadcast id probe —
    * no corpus scan), re-score exactly, keep `k`. */
  private def pqRerankExact(scored: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val cand = scored
      .withColumn("_ar", row_number().over(wa)).filter(col("_ar") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
    val exact = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
    exact.withColumn("rk", row_number().over(wa).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Query-side ADC lookup table: for every (query, subspace,
    * sub-centroid), the partial dot and the sub-centroid's squared norm
    * as `floor(·1e9)` longs (so the downstream Σ over subspaces is an
    * order-independent integer sum), plus the query's exact norm.
    * Q·m·ksub rows — KB-sized, always broadcast. */
  private def pqLut(queries: DataFrame, cents: DataFrame, m: Int,
      dim: Int): DataFrame = {
    val qsub = subVectors(queries, "vec_id", "embedding", m, dim / m)
      .withColumnRenamed("vec_id", "query_id")
    val qn = queries.select(col("vec_id").as("query_id"),
      norm(col("embedding")).as("qnorm"))
    qsub.join(broadcast(cents), Seq("s"))
      .select(col("query_id"), col("s"), col("cid"),
        floor(dot(col("sv"), col("cv")) * lit(1e9)).cast("long").as("qd"),
        floor(dot(col("cv"), col("cv")) * lit(1e9)).cast("long").as("n2"))
      .join(broadcast(qn), Seq("query_id"))
  }

  /** Fold exploded codes against a broadcast LUT into ADC cosine
    * scores: (query_id, neighbor_id, cos_sim). Map-side partial
    * aggregation shuffles Q·N folded rows, never Q·N·m. */
  private def pqAdcFold(codes: DataFrame, lut: DataFrame): DataFrame =
    codes.join(broadcast(lut), Seq("s", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).as("adot"), sum(col("n2")).as("rn2"),
        max(col("qnorm")).as("qnorm"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round((col("adot").cast("double") / lit(1e9)) /
          (col("qnorm") * sqrt(col("rn2").cast("double") / lit(1e9))), 6)
          .as("cos_sim"))

  /** The shared ADC scoring frame behind [[pqTopK]] and
    * [[pqTopKRerank]]: (query_id, neighbor_id, cos_sim) for every
    * (query, corpus vector) pair, scored through codes only. */
  private def pqAdcScored(queries: DataFrame, corpus: DataFrame, m: Int,
      ksub: Int, trainIters: Int, dim: Int, trainLimit: Long): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val trained = pqTrainCodebooks(corpus, m, ksub, trainIters, dim,
      trainLimit)
    // referenced twice (encode + LUT) — the same replayable RDD-persist
    // pattern as ivfTopK (see the lineage/lifecycle notes there)
    val centRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = corpus.sparkSession.createDataFrame(centRdd, trained.schema)
    pqAdcFold(pqEncode(corpus, cents, m, dim),
      pqLut(queries, cents, m, dim))
  }

  /** Materialize a PQ index to the catalog: `<table>_codebooks` (the
    * m·ksub sub-centroids — KB-sized, broadcast at probe time) and
    * `<table>_codes` (the corpus as m narrow (vec_id, s, cid) rows per
    * vector — the 32× payload the ADC probe scans INSTEAD of the float
    * corpus). The expensive half of [[pqTopK]] — training and the
    * one-time whole-corpus encode — happens here once per epoch; a
    * probe then costs LUT build (KB) + the code scan + the fold.
    * Family contract mirrors [[writeIvfIndex]]: immutable generation,
    * frozen-codebook appends ([[pqCodes]]), seq-versioned tombstone
    * deletes (shared sidecar discipline — [[IndexFamily.delete]]
    * writes the `(vec_id, seq)` rows this probe anti-joins). */
  def writePqIndex(corpus: DataFrame, table: String, path: String,
      m: Int = 8, ksub: Int = 64, trainIters: Int = 2, dim: Int = 64,
      trainLimit: Long = 16384L): Unit =
    writeGeneration(corpus, table, path,
      Seq(codebooks(m, ksub, trainIters, dim, trainLimit)), pqCodes(m, dim))

  /** The PQ codebooks trainer ([[pqTrainCodebooks]] over the corpus). */
  private[graft] def codebooks(m: Int, ksub: Int, iters: Int, dim: Int,
      trainLimit: Long): (String, Trainer) =
    ("_codebooks", (_, _, c) => pqTrainCodebooks(c, m, ksub, iters, dim,
      trainLimit))

  /** The PQ encoder: each row's codes under the frozen `_codebooks` —
    * batch-sized broadcast work on an append, the indexed corpus never
    * read. Probing after an append must equal encoding the UNION corpus
    * against the original codebooks (PqSpec pins it): codebook drift is
    * an epoch decision, not an append side effect. */
  private[graft] def pqCodes(m: Int, dim: Int): Encoder = (s, t, rows) =>
    Seq("_codes" -> pqEncode(rows, s.table(s"${t}_codebooks"), m, dim))

  /** Probe a [[writePqIndex]] table — identical output to [[pqTopK]]
    * with the same build parameters (shared encode/LUT/fold code), but
    * training and encoding are amortized into the epoch write: the
    * probe reads codes only. Serves through a
    * [[Generations.publishPointer]] view when given one; tombstoned
    * ids are anti-joined out (broadcast — mutation-sized). */
  def probePqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, k: Int, m: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = spark.table(s"${t}_codebooks")
    val scored = pqAdcFold(
      IndexFamily.live(spark, t, spark.table(s"${t}_codes"), "vec_id"),
      pqLut(queries, cents, m, dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[probePqIndex]] with the exact re-rank tail — the served form of
    * [[pqTopKRerank]]: codes rank, `corpus` supplies the float vectors
    * for the per-query shortlist survivors only. */
  def probePqIndexRerank(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 32, m: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = spark.table(s"${t}_codebooks")
    val scored = pqAdcFold(
      IndexFamily.live(spark, t, spark.table(s"${t}_codes"), "vec_id"),
      pqLut(queries, cents, m, dim))
    pqRerankExact(scored, queries, corpus, k, shortlist)
  }

  /** Pack `n` sign bits of a float vector (dims `from+1 … from+n`,
    * little-endian) into one long — the BINARY-quantization encode
    * (Weaviate/Qdrant "BQ", 64× compression vs float32): bit i set iff
    * the component is strictly positive. Two 32-bit halves per
    * 64-dim vector keep every value unsigned-safe in BIGINT on both
    * engines. A 64-term codegen'd expression tree, no UDF. */
  def packSignBits(v: Column, from: Int, n: Int): Column = {
    val packed = (0 until n).map(i =>
      when(element_at(v, from + i + 1) > 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    // fail LOUDLY on mis-sized embeddings (ADVICE r14): element_at past
    // the end yields null and when(null > 0f) silently packs a 0 bit —
    // wrong hamming rankings with no error. One size() compare per row.
    when(size(v) >= from + n, packed).otherwise(raise_error(concat(
      lit("packSignBits: embedding has "), size(v).cast("string"),
      lit(s" dims, need ${from + n}"))).cast("long"))
  }

  /** Binary-quantized ANN top-k: corpus and queries collapse to sign
    * masks and rank by HAMMING distance (`bit_count(xor)` — integer,
    * codegen'd, mirrorable) ascending with neighbor-id tie-break. The
    * coarsest member of the compression spectrum (SQ8 4× → PQ 32× →
    * binary 64×): the scan reads 8 bytes per vector, and the distance
    * is two xors + two popcounts — the cheapest candidate generator
    * production vector stores ship; [[signBucket]] is its prefix-bucket
    * pruning path and `sim_ann_binary_recall` audits what the 1-bit
    * quantization costs. */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      packSignBits(col("embedding"), 0, 32).as("qhi"),
      packSignBits(col("embedding"), 32, 32).as("qlo"))
    val c = corpus.select(col("vec_id"),
      packSignBits(col("embedding"), 0, 32).as("hi"),
      packSignBits(col("embedding"), 32, 32).as("lo"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("qhi").bitwiseXOR(col("hi"))) +
          bit_count(col("qlo").bitwiseXOR(col("lo")))).cast("long").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Binary shortlist + EXACT re-rank — the production "BQ + rescore"
    * serving shape (the binary twin of [[pqTopKRerank]]): hamming over
    * sign masks generates the per-query `shortlist` candidates (8-byte
    * scan), floats are fetched ONLY for the survivors (id-equi-join
    * point reads) and re-scored with exact cosine. Recall is then
    * bounded by "truth in the hamming top-`shortlist`" instead of
    * top-k — `sim_ann_binary_rerank_recall` audits the refund. */
  def binaryTopKRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 32): DataFrame = {
    val cand = binaryTopK(queries, corpus, shortlist)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
    val exact = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    exact.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Sign-pattern bucket of the first `bits` dimensions — an axis-aligned
    * random-hyperplane LSH (hyperplanes = coordinate planes; for unit-scale
    * embeddings each bit is ~balanced, giving 2^bits roughly even buckets). */
  def signBucket(v: Column, bits: Int = 4): Column =
    (0 until bits).map(i => when(v(i) > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)

  /** ANN top-k: queries only compare against corpus vectors in the same
    * sign bucket. Recall < 1 by design; candidate set is corpus/2^bits. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 4): DataFrame = {
    val cb = corpus.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      signBucket(col("embedding"), bits).as("qbucket"))
    val scored = cb.join(broadcast(qb),
        col("bucket") === col("qbucket") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Multi-probe LSH: each query probes its own bucket PLUS every
    * bucket at hamming distance 1 (the single-bit-flip masks) — the
    * classic recall booster that widens the candidate set to
    * (1+bits)/2^bits of the corpus instead of building more hash
    * tables. The probe fan-out lives on the tiny broadcast query side;
    * the corpus is still hashed once and joined once. */
  def lshMultiProbeTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 4): DataFrame = {
    val cb = corpus.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val masks = array((lit(0L) +: (0 until bits).map(i => lit(1L << i))): _*)
    val qb = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        signBucket(col("embedding"), bits).as("qbucket"))
      .select(col("query_id"), col("qv"), col("qbucket"),
        explode(masks).as("mask"))
      .select(col("query_id"), col("qv"),
        expr("qbucket ^ mask").as("probe"))
    val scored = cb.join(broadcast(qb),
        col("bucket") === col("probe") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Lloyd-iteration (k-means) training for the IVF coarse quantizer —
    * pure DataFrame ops, nothing collected to the driver (VERDICT r4 #2).
    *
    * assign: the same broadcast-centroid `max_by` fold as [[ivfTopK]]'s
    * list build (N rows shuffle, never N×K). update: each list's
    * elementwise mean, computed over components quantized to
    * `floor(x·1e6)` longs — integer sums are order-independent, so the
    * result is deterministic under any partitioning/AQE plan (a raw
    * double sum would make the centroid bits depend on reduction order
    * and break the DuckDB hash mirror). The mean is then cast back to
    * float32, so the probe/list scoring stays on the native codegen'd
    * [[graft.functions.DotProductFloat]] path and the oracle mirrors it
    * exactly (`::FLOAT` rounds identically in both engines). The 1e-6
    * quantization error is ~1e-7 of typical component magnitude — far
    * below any recall-relevant scale.
    *
    * Seeds are the deterministic `vec_id < numCentroids` sample; a
    * centroid that attracts no vectors simply drops out (its list would
    * be empty anyway). 100 TB shape per iteration: one broadcast scan
    * (narrow) + one shuffle of N·D small (cid, pos, long) rows + a K·D
    * fold — centroid count K should scale ~√N, and K·D always fits the
    * driver-free broadcast path. */
  def trainCentroids(corpus: DataFrame, numCentroids: Int = 16,
      iterations: Int = 2): DataFrame = {
    // every Lloyd path scores with the native dot expression — register
    // here (idempotent) so no caller depends on an EARLIER query having
    // registered on the session (a fresh session running an index write
    // first hit unresolvedRoutineError)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    var cents = corpus.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    var it = 0
    while (it < iterations) {
      val asg = corpus.crossJoin(broadcast(cents))
        .withColumn("_csim", round(cosine(col("embedding"), col("cv")), 6))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cid"), col("embedding")),
          struct(col("_csim"), -col("cid"))).as("best"))
        .select(col("best.cid").as("cid"), col("best.embedding").as("embedding"))
      cents = asg
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("cid"), col("pos"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("q"))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("pos"),
          (col("sq").cast("double") / (col("n").cast("double") * lit(1e6)))
            .cast("float").as("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p("m")).as("cv"))
      it += 1
    }
    cents
  }

  /** IVF-style ANN top-k: a coarse quantizer splits the corpus into
    * `numCentroids` inverted lists (each vector joins the list of its
    * nearest centroid by cosine); a query probes only its `nProbe`
    * nearest lists, so per-query work is ~corpus·nProbe/numCentroids
    * instead of the full scan — the other classic ANN scale path next to
    * [[lshTopK]] (sign-LSH recall degrades near coordinate planes; IVF
    * recall degrades at list boundaries — complementary trades).
    *
    * Centroids: `trainIters = 0` uses the deterministic corpus sample
    * (`vec_id < numCentroids`) as-is; `trainIters > 0` refines it with
    * that many Lloyd iterations via [[trainCentroids]] (deterministic,
    * driver-free — see there). Either way the scale shape is identical:
    * centroids broadcast, assignment is one narrow N×K score reduced to
    * N rows BEFORE its shuffle, probing is an equi-join on list id. Like
    * the other ANN entries, the QUERY side is broadcast (small by
    * definition); the corpus is never collected.
    *
    * Assignment shape: the N×K cross scores are folded to the per-vector
    * argmax with `max_by` + map-side partial aggregation, so only N rows
    * (embedding + list id) ever shuffle — a row_number window here would
    * shuffle all N×K replicated rows first, a numCentroids× volume tax on
    * the build stage. Ties break to the LOWEST centroid id via the
    * lexicographic (score, -cid) ordering struct (deterministic, matches
    * the oracle's `ORDER BY csim DESC, cid`). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 16, nProbe: Int = 4, trainIters: Int = 0): DataFrame = {
    // The trained centroid set (K·D floats) is referenced TWICE below —
    // list build and probe ranking — and each reference would re-execute
    // the whole Lloyd lineage (trainIters corpus scans each). An
    // RDD-level persist + leaf rebuild materializes it once with neither
    // prior form's defect: unlike cache(), whose CacheManager entry
    // outlives every caller (ADVICE r6 — repeated calls leaked one pinned
    // plan each), a persisted RDD is reference-tracked and freed by the
    // ContextCleaner once the returned plan is dropped
    // (VectorOpsLifecycleSpec pins this); and unlike localCheckpoint (the
    // r7 form), lineage survives — a block lost to executor churn
    // recomputes from the deterministic Lloyd pipeline instead of failing
    // the query (ADVICE r7 #2: localCheckpoint DISCARDS lineage; the old
    // comment's "re-runs the pipeline" recovery claim was wrong).
    val trained = trainCentroids(corpus, numCentroids, trainIters)
    val centRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = broadcast(corpus.sparkSession.createDataFrame(centRdd, trained.schema))
    scoreAndRank(assignLists(corpus, cents), probeLists(queries, cents, nProbe), k)
  }

  /** IVF + int8 scalar quantization — the IVF-SQ8 layout of production
    * vector engines: the coarse quantizer (Lloyd-trained float
    * centroids) still drives list assignment and probe selection, but
    * the inverted LISTS store int8 codes — 4× less list storage and
    * probe bandwidth, the dominant cost of serving ANN at corpus scale —
    * and candidate scoring is exact integer dots over the codes
    * (native [[graft.functions.DotProductIntExact]]). Same plan shape as
    * [[ivfTopK]]: probes broadcast, lists never shuffle. */
  def ivfTopKSq8(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 16, nProbe: Int = 4, trainIters: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val trained = trainCentroids(corpus, numCentroids, trainIters)
    val centRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = broadcast(corpus.sparkSession.createDataFrame(centRdd, trained.schema))
    val lists = withQuantized(assignLists(corpus, cents), "embedding", "qe")
      .select(col("list_id"), col("vec_id"), col("qe"))
    val probes = withQuantized(probeLists(queries, cents, nProbe), "qv", "qq")
      .select(col("list_id"), col("query_id"), col("qq"))
    scoreAndRankQ(lists, probes, k)
  }

  // -------------------------------------------------------------------
  // Hoisted-quantizer forms (r20, guide §1.2 "don't compute things you
  // throw away"): the in-query IVF family re-ran the SAME Lloyd
  // training (2 iterations × corpus passes ≈ 10 scheduled stages) per
  // query that the session's IVF epoch already materialized in its
  // `_cents` leaf. These variants take that leaf instead — identical
  // output by construction, because the epoch's centroids ARE
  // trainCentroids' output roundtripped through parquet (float-exact),
  // and assignment/probe/rank share the same private helpers. The
  // self-training forms stay for callers whose configuration differs
  // from the epoch's (e.g. retrained-generation audits).
  // -------------------------------------------------------------------

  /** [[ivfTopK]] with a caller-supplied coarse quantizer. */
  def ivfTopKWith(cents0: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(cents0)
    scoreAndRank(assignLists(corpus, cents), probeLists(queries, cents, nProbe), k)
  }

  /** [[ivfTopKSq8]] with a caller-supplied coarse quantizer. */
  def ivfTopKSq8With(cents0: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(cents0)
    val lists = withQuantized(assignLists(corpus, cents), "embedding", "qe")
      .select(col("list_id"), col("vec_id"), col("qe"))
    val probes = withQuantized(probeLists(queries, cents, nProbe), "qv", "qq")
      .select(col("list_id"), col("query_id"), col("qq"))
    scoreAndRankQ(lists, probes, k)
  }

  /** [[ivfHardNegatives]] with a caller-supplied coarse quantizer. */
  def ivfHardNegativesWith(cents0: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, nProbe: Int,
      loCos: Double, hiCos: Double): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(cents0)
    val lists = assignLists(corpus, cents)
    val probes = probeLists(queries, cents, nProbe)
    val scored = lists.join(broadcast(probes),
        lists("list_id") === probes("list_id") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= loCos && col("cos_sim") < hiCos)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[kmeansAssign]] with a caller-supplied quantizer. */
  def kmeansAssignWith(cents0: DataFrame, corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    assignLists(corpus, broadcast(cents0))
      .select(col("vec_id"), col("list_id").as("cluster_id"))
  }

  /** [[clusterSilhouette]] with a caller-supplied quantizer. */
  def clusterSilhouetteWith(cents0: DataFrame, corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(cents0)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cid"))
    val top = corpus.crossJoin(cents)
      .select(col("vec_id"), col("cid"),
        round(cosine(col("embedding"), col("cv")), 6).as("cs"))
      .withColumn("cr", row_number().over(w)).filter(col("cr") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("cr") === 1, col("cid"))).as("cluster_id"),
        max(when(col("cr") === 1, col("cs"))).as("cs1"),
        max(when(col("cr") === 2, col("cs"))).as("cs2"))
    val dmax = greatest(lit(1.0) - col("cs1"), lit(1.0) - col("cs2"))
    top.select(col("cluster_id"),
        when(dmax === 0.0, lit(0L))
          .otherwise(floor(lit(1000000.0) * (col("cs1") - col("cs2")) / dmax)
            .cast("long")).as("s_ppm"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("s_ppm")).as("sum_s_ppm"))
      .select(col("cluster_id"), col("n"), col("sum_s_ppm"),
        expr("sum_s_ppm div n").as("mean_s_ppm"))
  }

  /** K-means cluster assignment as a first-class operator: every vector
    * labelled with its nearest Lloyd-trained centroid — the corpus
    * partitioning step of semantic dedup / topic balancing / IVF list
    * build (which shares [[assignLists]], so the two can never drift). */
  def kmeansAssign(corpus: DataFrame, numCentroids: Int,
      trainIters: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val trained = trainCentroids(corpus, numCentroids, trainIters)
    val centRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = broadcast(corpus.sparkSession.createDataFrame(centRdd, trained.schema))
    assignLists(corpus, cents).select(col("vec_id"), col("list_id").as("cluster_id"))
  }

  /** Assign every corpus vector to its nearest centroid's inverted list —
    * the N×K broadcast score folded to N rows with `max_by` BEFORE any
    * shuffle (see [[ivfTopK]]'s shape notes). Shared by the in-memory
    * path, the persisted-index epoch write, and the batch append, so
    * none can drift (private[graft]: IvfIndexSpec recomputes the
    * frozen-quantizer assignment to pin the append contract). */
  private[graft] def assignLists(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(cents)
      .withColumn("_csim", round(cosine(col("embedding"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("embedding")),
        struct(col("_csim"), -col("cid"))).as("best"))
      .select(col("best.cid").as("list_id"), col("vec_id"),
        col("best.embedding").as("embedding"))

  // ------------------------------------------------- generation writes

  /** A frozen table's trainer: `(session, generation, corpus)` → the
    * table's rows. It may read the generation's tables written before
    * it. */
  private[graft] type Trainer = (SparkSession, String, DataFrame) => DataFrame

  /** A vector layout's encoder: `(session, generation, rows)` → each
    * encoded table's suffix and rows, in write order. It reads the
    * generation's frozen tables (`_cents`, `_codebooks`) from the
    * catalog and assigns lists only to rows that carry no `list_id`, so
    * a layout's build, append ([[IndexFamily.vector]]), derive and
    * retrain encode a vector one way. */
  private[graft] type Encoder =
    (SparkSession, String, DataFrame) => Seq[(String, DataFrame)]

  /** Writes generation `table` under `path` from `corpus`: first each
    * frozen table from its trainer, in order, then each table `encode`
    * makes of the corpus, `partitionBy(list_id)` when it has that
    * column. The encoder reads the quantizers back from the catalog, so
    * a trained frame runs once, in its own write. */
  private[graft] def writeGeneration(corpus: DataFrame, table: String,
      path: String, trainers: Seq[(String, Trainer)],
      encode: Encoder): Unit = {
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)
    def save(suffix: String, rows: DataFrame): Unit =
      rows.write.mode("overwrite").format("parquet")
        .partitionBy(Seq("list_id").filter(rows.columns.contains): _*)
        .option("path", IndexFamily.under(path)(suffix))
        .saveAsTable(table + suffix)
    trainers.foreach { case (t, train) => save(t, train(spark, table, corpus)) }
    encode(spark, table, corpus).foreach { case (t, rows) => save(t, rows) }
  }

  /** The coarse quantizer's trainer ([[trainCentroids]]). */
  private def coarse(numCentroids: Int, iters: Int): (String, Trainer) =
    ("_cents", (_, _, c) => trainCentroids(c, numCentroids, iters))

  /** `rows` with the list each one sits in under generation `t`'s
    * frozen `_cents`: as they are when they carry a `list_id` (a derive
    * keeps its master's assignment verbatim), else [[assignLists]]. */
  private def listed(s: SparkSession, t: String, rows: DataFrame)
      : DataFrame =
    if (rows.columns.contains("list_id")) rows
    else assignLists(rows, broadcast(s.table(s"${t}_cents")))

  /** Writes generation `dest` of a layout from the float IVF master
    * `src` — how a retrained float master regains its compact serving
    * copies: the writer run over the master's LIVE list rows (pending
    * deletes settle here, like compaction), `_cents` read from the
    * master. The rows carry `list_id`, so the assignment is kept
    * verbatim; only the other `trainers` train, over the master's
    * corpus. No Lloyd pass, no re-assignment — result-identical to a
    * build of the layout over that corpus, so a derived generation
    * shares the build's oracle. */
  private[graft] def derive(spark: SparkSession, src: String, dest: String,
      path: String, trainers: Seq[(String, Trainer)],
      encode: Encoder): Unit = {
    val masterCents: Trainer = (s, _, _) => s.table(s"${src}_cents")
    writeGeneration(
      IndexFamily.live(spark, src, spark.table(s"${src}_lists"), "vec_id"),
      dest, path, ("_cents" -> masterCents) +: trainers, encode)
  }

  /** Rank centroids per query and keep each query's `nProbe` nearest
    * lists: (list_id, query_id, qv). Shared by both IVF paths. */
  private def probeLists(queries: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("cid"))
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(cents)
      .withColumn("_csim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("_cr", row_number().over(probeW))
      .filter(col("_cr") <= nProbe)
      .select(col("cid").as("list_id"), col("query_id"), col("qv"))
  }

  /** Join probes against their lists, score, and keep each query's top-k
    * (deterministic (cos_sim desc, neighbor_id) order). The probe side is
    * broadcast — the corpus lists never shuffle for the join; the only
    * exchange is the window over the small candidate set. */
  private def scoreAndRank(lists: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = lists.join(broadcast(probes),
        lists("list_id") === probes("list_id") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** The int8 twin of [[scoreAndRank]]: lists carry `qe` (int8 codes),
    * probes carry `qq` — exact integer candidate scoring via the native
    * codegen'd dots, same broadcast-probe/no-list-shuffle shape. Shared
    * by the in-memory IVF-SQ8 pass and the persisted-index probe so the
    * two can never drift. */
  private def scoreAndRankQ(lists: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = lists.join(broadcast(probes),
        lists("list_id") === probes("list_id") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineQ(col("qq"), col("qe")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Materialize an IVF index to the catalog — the vector twin of
    * [[Dedup.writeBandIndex]]'s epoch/probe contract. Two tables:
    * `<table>_cents` (the K·D coarse quantizer, broadcast at probe time)
    * and `<table>_lists`, the corpus inverted lists written
    * `partitionBy(list_id)` so each list is its own parquet
    * partition-directory. A probe then only READS the `nProbe` lists it
    * ranks — at 100 TB the dominant cost is the scan, and the partition
    * layout turns "scan the corpus" into "scan nProbe/K of the corpus"
    * (enforced at runtime by dynamic partition pruning — IvfIndexSpec
    * asserts the pruning expression is in the scan and that only the
    * probed lists' files are read). K ~ √N partitions of ~√N vectors each
    * keeps both the directory count and the per-list file size tractable
    * at any corpus size. Written once per full-index epoch; every query
    * batch probes it via [[probeIvfIndex]]. */
  def writeIvfIndex(corpus: DataFrame, table: String, path: String,
      numCentroids: Int = 16, trainIters: Int = 0): Unit =
    writeGeneration(corpus, table, path, Seq(coarse(numCentroids, trainIters)),
      ivfLists)

  /** The float IVF encoder — also the index MAINTENANCE operation
    * between full-rebuild epochs ([[IndexFamily.ivf]]'s append): new
    * vectors are assigned to the EXISTING (frozen) coarse quantizer and
    * inserted into their lists' partitions; the corpus already in the
    * index is never read, never reshuffled, never rewritten. This is
    * how a 100 TB ANN deployment actually lives — one quantizer-training
    * epoch write, then cheap per-batch appends until list imbalance
    * (centroid drift) warrants retraining. The append is one
    * broadcast-assign of the (small) batch + a dynamic-partition
    * insert; probe cost afterwards is unchanged (same partition
    * pruning, lists just grow by the batch).
    *
    * The frozen-quantizer semantics are the definition, not a
    * shortcut: probing after append must equal probing the UNION
    * corpus against the original centroids (IvfIndexSpec pins exactly
    * that), which is what makes the operation oracle-able. */
  private[graft] val ivfLists: Encoder = (s, t, rows) =>
    Seq("_lists" -> listed(s, t, rows)
      .select(col("vec_id"), col("embedding"), col("list_id")))

  /** Probe a [[writeIvfIndex]] table — identical output to [[ivfTopK]]
    * with the same (numCentroids, trainIters) (shared assignment/probe/
    * rank code), but the corpus side arrives pre-assigned AND
    * pre-partitioned by list, so the probe plan scans only the probed
    * lists instead of re-running assignment over the corpus. Ids
    * tombstoned by [[IndexFamily.delete]] anti-join out broadcast AFTER
    * list pruning — over the nProbe lists actually read, not the
    * corpus — so a removed vector can no longer surface. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // serve through Generations.publishPointer indirection when given
    // one: cents, lists, AND tombstones all resolve from the SAME
    // atomically-promoted generation; the probe plan is unchanged
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    scoreAndRank(IndexFamily.live(spark, t, spark.table(s"${t}_lists"), "vec_id"),
      probeLists(queries, cents, nProbe), k)
  }

  /** METADATA-FILTERED probe of a [[writeIvfIndex]] table — the
    * production "vector search with attribute filter" (every serving
    * vector store headlines it): each query returns only neighbors
    * whose `label` equals the query's own, filtered BEFORE the top-k
    * rank (post-filtering a top-k would under-fill k — the classic
    * filtered-ANN mistake). The filter is a candidate-side equi-join
    * of the probed subset against the label relation — point-lookup
    * scale, after DPP pruning; plan shape otherwise identical to
    * [[probeIvfIndex]]. */
  def probeIvfIndexFiltered(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, labelRel: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    val probes = probeLists(queries, cents, nProbe)
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("label").as("qlabel"))), Seq("query_id"))
    val cand = IndexFamily.live(spark, t, spark.table(s"${t}_lists"), "vec_id")
      .join(labelRel.select(col("vec_id"), col("label")), Seq("vec_id"))
    val scored = cand.join(broadcast(probes), Seq("list_id"))
      .filter(col("label") === col("qlabel") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[writeIvfIndex]] with int8 LIST PAYLOADS — the layout a 100 TB ANN
    * deployment actually serves (VERDICT r9 #1): the coarse quantizer
    * stays float (`<table>_cents`, broadcast at probe time; assignment
    * and probe ranking are identical to the float index), but
    * `<table>_lists` stores `partitionBy(list_id)` int8 codes — the 4×
    * storage/bandwidth cut of [[ivfTopKSq8]] COMPOUNDED with the
    * partition layout's nProbe/K scan cut, which is exactly where SQ8
    * pays off: the served probe is IO-bound on list bytes, and reading a
    * quarter of the bytes from a 1/(K/nProbe) slice of the corpus is the
    * product of both savings. Quantization happens once at index-write
    * time (staged-scale [[withQuantized]]), not per probe. */
  def writeIvfIndexSq8(corpus: DataFrame, table: String, path: String,
      numCentroids: Int = 16, trainIters: Int = 0): Unit =
    writeGeneration(corpus, table, path, Seq(coarse(numCentroids, trainIters)),
      sq8Lists)

  /** The SQ8 encoder: [[ivfLists]]' frozen float assignment, int8 codes
    * into the lists. Over a float master's list rows (a derive) it is
    * one partition-preserving map — bit-identical to a direct build
    * over the same corpus (same centroids, same float-cosine
    * assignment, same scan-side quantization). */
  private[graft] val sq8Lists: Encoder = (s, t, rows) =>
    Seq("_lists" -> withQuantized(listed(s, t, rows), "embedding", "qe")
      .select(col("vec_id"), col("qe"), col("list_id")))

  /** Probe a [[writeIvfIndexSq8]] table — identical output to
    * [[ivfTopKSq8]] with the same (numCentroids, trainIters): shared
    * centroid ranking ([[probeLists]]), shared query-side quantization
    * ([[withQuantized]]), shared integer scoring ([[scoreAndRankQ]]).
    * The scan reads ONLY the probed lists' partitions (dynamic partition
    * pruning — IvfIndexSpec asserts plan + files-read), and each list
    * row is int8 codes, not float32. */
  def probeIvfIndexSq8(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // same pointer indirection as probeIvfIndex — variant-agnostic,
    // since the pointer names the generation, not a payload layout
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    val probes = withQuantized(probeLists(queries, cents, nProbe), "qv", "qq")
      .select(col("list_id"), col("query_id"), col("qq"))
    scoreAndRankQ(IndexFamily.live(spark, t, spark.table(s"${t}_lists"), "vec_id"),
      probes, k)
  }

  /** [[writeIvfIndexSq8]] with BINARY list payloads — the compression
    * spectrum's coarsest member served through the same partition
    * layout: the coarse quantizer stays float, the lists store two
    * BIGINT sign halves per vector (16 bytes vs 256 — and the probe's
    * candidate scoring is two xors + two popcounts per row). The
    * nProbe/K scan cut COMPOUNDS the 64×—well, 16-byte—payload cut,
    * exactly the SQ8 argument one step further down the
    * precision/bandwidth trade. */
  def writeIvfIndexBinary(corpus: DataFrame, table: String, path: String,
      numCentroids: Int = 16, trainIters: Int = 0): Unit =
    writeGeneration(corpus, table, path, Seq(coarse(numCentroids, trainIters)),
      binaryLists)

  /** The binary encoder: [[ivfLists]]' frozen assignment, each row's
    * sign mask packed into two halves ([[packSignBits]]). */
  private[graft] val binaryLists: Encoder = (s, t, rows) =>
    Seq("_lists" -> listed(s, t, rows).select(col("vec_id"),
      packSignBits(col("embedding"), 0, 32).as("hi"),
      packSignBits(col("embedding"), 32, 32).as("lo"), col("list_id")))

  /** Probe a [[writeIvfIndexBinary]] table: coarse prune (DPP — same
    * plan contract as the SQ8 probe), then hamming-rank the probed
    * lists' sign masks. Pointer serving + tombstone contract shared
    * with the whole family. */
  def probeIvfIndexBinary(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    val qb = probeLists(queries, cents, nProbe)
      .select(col("list_id"), col("query_id"),
        packSignBits(col("qv"), 0, 32).as("qhi"),
        packSignBits(col("qv"), 32, 32).as("qlo"))
    val scored = IndexFamily.live(spark, t, spark.table(s"${t}_lists"), "vec_id")
      .join(broadcast(qb), Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("qhi").bitwiseXOR(col("hi"))) +
          bit_count(col("qlo").bitwiseXOR(col("lo")))).cast("long").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  // ------------------------------------------------------------- IVF-PQ

  /** IVF-PQ: the coarse quantizer's list partitioning COMPOUNDED with
    * PQ's code compression — the billion-scale layout of production ANN
    * engines (FAISS `IndexIVFPQ` with `by_residual=false`; Jégou et
    * al., TPAMI 2011 §V). The coarse quantizer (shared
    * [[trainCentroids]]/[[assignLists]] — identical to the float and
    * SQ8 indexes) still routes every vector to one inverted list and
    * every query to its `nProbe` nearest lists, but the LISTS store PQ
    * codes (shared [[pqTrainCodebooks]]/[[pqEncode]] — m small ints per
    * vector instead of `dim` floats), and candidate scoring is the same
    * broadcast-LUT ADC fold as [[pqTopK]], restricted to the probed
    * lists. The scan that dominates serving cost at corpus scale reads
    * nProbe/K of the corpus (partition layout) AT 32× fewer bytes per
    * row (codes) — the two savings multiply, which is exactly why the
    * composite exists. Codebooks quantize the raw vectors, not
    * residuals: the ADC cosine algebra (and its integer-exact DuckDB
    * mirror) stays identical to the flat-PQ family, and recall at the
    * suite's scales is audited (`sim_ann_ivfpq_recall`), not assumed.
    *
    * Fold shape: codes join their list assignment (narrow, co-keyed on
    * `vec_id`), the per-query probed-list set and LUT broadcast, and
    * the (query, vector) ADC sums partial-aggregate map-side — the
    * shuffle carries Q·candidates folded rows, never Q·candidates·m. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 16, nProbe: Int = 4, trainIters: Int = 0,
      m: Int = 8, ksub: Int = 16, pqIters: Int = 2, dim: Int = 64,
      trainLimit: Long = 16384L): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // both quantizers referenced twice — the shared replayable
    // RDD-persist pattern (see ivfTopK's lineage/lifecycle notes)
    val coarse = trainCentroids(corpus, numCentroids, trainIters)
    val coarseRdd = coarse.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = broadcast(
      corpus.sparkSession.createDataFrame(coarseRdd, coarse.schema))
    val trained = pqTrainCodebooks(corpus, m, ksub, pqIters, dim, trainLimit)
    val pqRdd = trained.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pcents = corpus.sparkSession.createDataFrame(pqRdd, trained.schema)
    val codes = pqEncode(corpus, pcents, m, dim)
      .join(assignLists(corpus, cents).select(col("vec_id"), col("list_id")),
        Seq("vec_id"))
    ivfPqRank(codes, probeLists(queries, cents, nProbe),
      pqLut(queries, pcents, m, dim), k)
  }

  /** [[ivfPqTopK]] with BOTH quantizer trainings hoisted into a
    * standing epoch's `_cents`/`_codebooks` leaves (VERDICT r19 #2 —
    * the [[pqTopKHoisted]] discipline for the composite): in-query
    * work is the corpus encode + list assignment + fold, the two Lloyd
    * trainings are paid once per epoch. Bit-identical to [[ivfPqTopK]]
    * with the epoch's build parameters, so the untouched oracle keeps
    * gating it. */
  def ivfPqTopKHoisted(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int = 4, m: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = broadcast(spark.table(s"${table}_cents"))
    val pcents = spark.table(s"${table}_codebooks")
    val codes = pqEncode(corpus, pcents, m, dim)
      .join(assignLists(corpus, cents).select(col("vec_id"), col("list_id")),
        Seq("vec_id"))
    ivfPqRank(codes, probeLists(queries, cents, nProbe),
      pqLut(queries, pcents, m, dim), k)
  }

  /** The IVF-PQ candidate fold + rank: `codes` rows (vec_id, s, cid,
    * list_id) join the broadcast probed-list set on `list_id` (on the
    * persisted index this is what triggers dynamic partition pruning —
    * the scan reads only the probed lists' directories), then the
    * broadcast ADC LUT on (query_id, s, cid); the integer sums fold per
    * (query, vector) exactly as [[pqAdcFold]] so the composite's scores
    * are bit-identical to flat PQ over the same candidate set. */
  private def ivfPqRank(codes: DataFrame, probes: DataFrame,
      lut: DataFrame, k: Int): DataFrame = {
    val scored = ivfPqScored(codes, probes, lut)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** The composite's ADC scoring frame (query_id, neighbor_id,
    * cos_sim) over the probed lists' candidates — shared by the
    * ranked probe and the exact-re-rank tail. */
  private def ivfPqScored(codes: DataFrame, probes: DataFrame,
      lut: DataFrame): DataFrame =
    codes
      .join(broadcast(probes.select(col("list_id"), col("query_id"))),
        Seq("list_id"))
      .join(broadcast(lut), Seq("query_id", "s", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).as("adot"), sum(col("n2")).as("rn2"),
        max(col("qnorm")).as("qnorm"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round((col("adot").cast("double") / lit(1e9)) /
          (col("qnorm") * sqrt(col("rn2").cast("double") / lit(1e9))), 6)
          .as("cos_sim"))

  /** Materialize an IVF-PQ index: `<table>_cents` (coarse quantizer,
    * broadcast at probe time), `<table>_codebooks` (PQ sub-centroids,
    * KB-sized), and `<table>_codes` — the corpus as m narrow code rows
    * per vector, written `partitionBy(list_id)` so a probe reads only
    * its ranked lists' directories. Training (both quantizers) and the
    * whole-corpus encode amortize into the epoch write; the probe pays
    * LUT build (KB) + the pruned code scan + the fold. Tombstone
    * contract is the family-shared `(vec_id, seq)` sidecar. */
  def writeIvfPqIndex(corpus: DataFrame, table: String, path: String,
      numCentroids: Int = 16, trainIters: Int = 0, m: Int = 8,
      ksub: Int = 16, pqIters: Int = 2, dim: Int = 64,
      trainLimit: Long = 16384L): Unit =
    writeGeneration(corpus, table, path, Seq(coarse(numCentroids, trainIters),
      codebooks(m, ksub, pqIters, dim, trainLimit)), ivfPqCodes(m, dim))

  /** The IVF-PQ encoder, under BOTH frozen quantizers: each vector
    * joins its list ([[ivfLists]]' assignment) and is encoded with the
    * frozen codebooks (batch-sized broadcast work on an append — the
    * indexed corpus is never read). Probing after an append must equal
    * building over the union corpus with the same frozen quantizers
    * (IvfPqSpec pins it). */
  private[graft] def ivfPqCodes(m: Int, dim: Int): Encoder = (s, t, rows) =>
    Seq("_codes" -> listCodes(s, t, rows, listed(s, t, rows), m, dim))

  // `rows`' codes under generation `t`'s `_codebooks`, each joined to
  // its list in `lists`
  private def listCodes(s: SparkSession, t: String, rows: DataFrame,
      lists: DataFrame, m: Int, dim: Int): DataFrame =
    pqEncode(rows, s.table(s"${t}_codebooks"), m, dim)
      .join(lists.select(col("vec_id"), col("list_id")), Seq("vec_id"))
      .select(col("vec_id"), col("s"), col("cid"), col("list_id"))

  /** Probe a [[writeIvfPqIndex]] table — identical output to
    * [[ivfPqTopK]] with the same build parameters (shared probe-rank /
    * LUT / fold code), but both trainings and the encode are amortized
    * into the epoch: the probe reads the probed lists' code partitions
    * only (dynamic partition pruning — IvfPqSpec asserts files-read).
    * Serves through [[Generations.resolveServing]] indirection;
    * tombstoned ids anti-join out AFTER list pruning. */
  def probeIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, k: Int, nProbe: Int = 4,
      m: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    ivfPqRank(IndexFamily.live(spark, t, spark.table(s"${t}_codes"), "vec_id"),
      probeLists(queries, cents, nProbe),
      pqLut(queries, spark.table(s"${t}_codebooks"), m, dim), k)
  }

  /** [[probeIvfPqIndex]] with the exact re-rank tail — the full
    * production serving composition: the coarse quantizer cuts the
    * candidate set to nProbe lists, the codes RANK those candidates
    * (compressed scan), and the float read is deferred to the
    * per-query `shortlist` survivors (Q·shortlist id-equi-join point
    * reads against `corpus` — never a scan), re-scored with EXACT
    * cosine and cut to `k`. Recall is bounded by "true neighbor in the
    * probed lists AND in the ADC top-`shortlist`" — the two pruning
    * layers' recall cost is audited, not assumed. */
  def probeIvfPqIndexRerank(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 32, nProbe: Int = 4, m: Int = 8,
      dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val cents = broadcast(spark.table(s"${t}_cents"))
    val scored = ivfPqScored(
      IndexFamily.live(spark, t, spark.table(s"${t}_codes"), "vec_id"),
      probeLists(queries, cents, nProbe),
      pqLut(queries, spark.table(s"${t}_codebooks"), m, dim))
    pqRerankExact(scored, queries, corpus, k, shortlist)
  }

  /** The residual frame behind `by_residual=true`: every vector minus
    * its OWN list's coarse centroid, elementwise in FLOAT (single
    * rounding — the oracle mirrors it with `CAST(x::DOUBLE − c::DOUBLE
    * AS FLOAT)`, equal by the innocuous-double-rounding property for
    * 24-bit operands under 53-bit intermediates). Residuals cluster
    * around the origin much tighter than raw vectors, which is why
    * residual PQ is the standard recall-per-byte win (FAISS
    * IndexIVFPQ's default) — `sim_ann_ivfpq_residual_recall` audits
    * what it buys on this corpus. */
  private def residuals(s: SparkSession, t: String, rows: DataFrame)
      : DataFrame = {
    val cents = broadcast(s.table(s"${t}_cents"))
    listed(s, t, rows)
      .join(cents.select(col("cid").as("list_id"), col("cv")), Seq("list_id"))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("embedding"), col("cv"),
          (x, c) => (x - c).cast("float")).as("embedding"))
  }

  /** [[writeIvfPqIndex]] with RESIDUAL encoding (`by_residual=true`):
    * PQ codebooks train on — and codes quantize — each vector's
    * residual against its coarse centroid, so the m codes spend their
    * precision on the within-list displacement instead of re-describing
    * the list position the coarse quantizer already captured. Layout,
    * partitioning (`partitionBy(list_id)`), tombstone contract, and
    * epoch cost class are identical to the non-residual write; only the
    * encoded payload (and the probe's LUT shape) differ. */
  def writeIvfPqResidualIndex(corpus: DataFrame, table: String,
      path: String, numCentroids: Int = 16, trainIters: Int = 0,
      m: Int = 8, ksub: Int = 16, pqIters: Int = 2, dim: Int = 64,
      trainLimit: Long = 16384L): Unit =
    writeGeneration(corpus, table, path, Seq(coarse(numCentroids, trainIters),
      residualCodebooks(m, ksub, pqIters, dim, trainLimit)),
      ivfPqResidualCodes(m, dim))

  /** The residual codebooks trainer: [[pqTrainCodebooks]] over the
    * corpus' [[residuals]] against the `_cents` written before it —
    * residuals move when the centroids do, which is why a drifted
    * residual family must retrain rather than keep appending. */
  private[graft] def residualCodebooks(m: Int, ksub: Int, iters: Int,
      dim: Int, trainLimit: Long): (String, Trainer) =
    ("_codebooks", (s, t, c) => pqTrainCodebooks(residuals(s, t, c), m, ksub,
      iters, dim, trainLimit))

  /** The residual IVF-PQ encoder, under both frozen quantizers: the
    * assigned centroid subtracted ([[residuals]]), the residual encoded
    * with the frozen codebooks. */
  private[graft] def ivfPqResidualCodes(m: Int, dim: Int): Encoder =
    (s, t, rows) => {
      val r = residuals(s, t, rows)
      Seq("_codes" -> listCodes(s, t, r, r, m, dim))
    }

  /** Probe a [[writeIvfPqResidualIndex]] table. The ADC identity shifts
    * by the list centroid: with x̂ = c_L + r̂,
    *
    *   dot(q, x̂) = Σₛ [ dot(qₛ, c_{L,s}) + dot(qₛ, cv[s, codeₛ]) ]
    *   ‖x̂‖²     = Σₛ ‖c_{L,s} + cv[s, codeₛ]‖²
    *
    * so the lookup table gains `list_id` as a key — Q·nProbe·m·ksub
    * rows instead of Q·m·ksub, still KB-sized and broadcast (the known
    * cost of residual ADC: one LUT per probed list, which is why FAISS
    * builds them per query×list too). Every term is a double dot over
    * float arrays folded to `floor(·1e9)` longs, so the score bits stay
    * partition-invariant and the DuckDB mirror exact; the norm term
    * expands ‖c+v‖² = ‖c‖² + 2c·v + ‖v‖² to avoid materializing any
    * float sum. Scan shape is unchanged: DPP-pruned code partitions,
    * tombstone anti-join after pruning. */
  def probeIvfPqResidualIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, k: Int, nProbe: Int = 4,
      m: Int = 8, dim: Int = 64): DataFrame = {
    val scored = ivfPqResidualScored(spark, table, queries, nProbe, m, dim)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[probeIvfPqResidualIndex]] with the exact re-rank tail — the
    * residual family's production serving composition (the
    * [[probeIvfPqIndexRerank]] shape): residual-ADC ranks the probed
    * lists' candidates, floats are read only for the per-query
    * `shortlist` survivors and re-scored exactly. */
  def probeIvfPqResidualIndexRerank(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 32, nProbe: Int = 4, m: Int = 8,
      dim: Int = 64): DataFrame =
    pqRerankExact(ivfPqResidualScored(spark, table, queries, nProbe, m, dim),
      queries, corpus, k, shortlist)

  /** The residual-ADC scoring frame shared by the ranked probe and the
    * re-rank tail (see [[probeIvfPqResidualIndex]] for the identity). */
  private def ivfPqResidualScored(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, nProbe: Int,
      m: Int, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val t = Generations.resolveServing(spark, table)
    val dsub = dim / m
    val cents = spark.table(s"${t}_cents")
    val probes = probeLists(queries, broadcast(cents), nProbe)
    val qsub = subVectors(queries, "vec_id", "embedding", m, dsub)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("sv", "qsv")
    val qn = queries.select(col("vec_id").as("query_id"),
      norm(col("embedding")).as("qnorm"))
    val cls = subVectors(cents.select(col("cid").as("list_id"),
        col("cv").as("embedding")), "list_id", "embedding", m, dsub)
      .withColumnRenamed("sv", "csv")
    val pcents = spark.table(s"${t}_codebooks")
    val lut = probes.select(col("query_id"), col("list_id"))
      .join(qsub, Seq("query_id"))
      .join(cls, Seq("list_id", "s"))
      .join(pcents, Seq("s"))
      .select(col("query_id"), col("list_id"), col("s"), col("cid"),
        floor((dot(col("qsv"), col("csv")) + dot(col("qsv"), col("cv"))) *
          lit(1e9)).cast("long").as("qd"),
        floor((dot(col("csv"), col("csv")) +
          lit(2.0) * dot(col("csv"), col("cv")) +
          dot(col("cv"), col("cv"))) * lit(1e9)).cast("long").as("n2"))
      .join(broadcast(qn), Seq("query_id"))
    IndexFamily.live(spark, t, spark.table(s"${t}_codes"), "vec_id")
      .join(broadcast(lut), Seq("list_id", "s", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).as("adot"), sum(col("n2")).as("rn2"),
        max(col("qnorm")).as("qnorm"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round((col("adot").cast("double") / lit(1e9)) /
          (col("qnorm") * sqrt(col("rn2").cast("double") / lit(1e9))), 6)
          .as("cos_sim"))
  }

  /** The retrain DECISION over a persisted index's list-size
    * distribution — the operator that closes the monitor→retrain edge
    * of the lifecycle (build → append* → compact → monitor → retrain):
    * `sim_ann_ivf_stats` emits the per-list sizes, this turns them into
    * a verdict. Appends assign through the FROZEN quantizer, so corpus
    * drift concentrates new vectors in few lists; probe cost is
    * `nProbe · (sizes of the probed lists)`, so a hot list is a probe
    * tail — the two signals here are exactly the two ways that happens:
    *
    *  - `max_over_mean_x1000`: hottest list vs the mean NONEMPTY list
    *    (`max·1000 div (total div n_lists)`) — skew across lists;
    *  - `top_frac_x1000`: fraction of the whole corpus in the hottest
    *    list (`max·1000 div total`) — absolute concentration (catches
    *    the degenerate case where most lists are near-empty and the
    *    mean says nothing).
    *
    * `table` is any table of a generation partitioned by `list_id`
    * with `rowsPerVector` rows for each vector: IVF, SQ8 and binary
    * `_lists`, MRL's `_prefix` cells and the graph's entry `_cells`
    * (one), or IVF-PQ `_codes` (m) — a list's size is its row count
    * over `rowsPerVector`, so every layout reads the partition column
    * only (ColumnPruningSpec pins the IVF read schema empty).
    * `retrain` fires when either floored signal reaches its threshold.
    * All arithmetic is BIGINT floor-division (the repo's quantization
    * discipline; mean-first keeps every product ≤ max·1000, no overflow
    * below ~9·10^15 vectors), so the verdict hash-matches the oracle
    * computing the same distribution from the shared k-means assignment
    * CTEs. Scale: reduces to ONE row — near-metadata cost like the
    * stats query it judges. */
  def retrainCheck(spark: org.apache.spark.sql.SparkSession, table: String,
      rowsPerVector: Int, maxOverMeanX1000: Long = 2000L,
      topFracX1000: Long = 200L): DataFrame =
    spark.table(table)
      .groupBy(col("list_id")).agg(expr(s"count(1) div $rowsPerVector").as("n"))
      .agg(count(lit(1)).as("n_lists"), sum(col("n")).as("total_vectors"),
        max(col("n")).as("max_list"))
      .withColumn("mean_list", expr("total_vectors div n_lists"))
      .withColumn("max_over_mean_x1000", expr("max_list * 1000 div mean_list"))
      .withColumn("top_frac_x1000", expr("max_list * 1000 div total_vectors"))
      .withColumn("retrain",
        col("max_over_mean_x1000") >= maxOverMeanX1000 ||
          col("top_frac_x1000") >= topFracX1000)

  /** Execute the retrain [[retrainCheck]] decides on — the final
    * edge of the index lifecycle (build → append* → compact → monitor →
    * decide → RETRAIN): a NEW generation is trained over the CURRENT
    * corpus read back from the source index's lists (originals + every
    * appended batch), with K re-derived as max(4, ⌊√n⌋) from the grown
    * corpus size — the whole point of retraining is that both the
    * centroids and the list count reflect the corpus the appends drifted
    * to. Writes a fresh `<dest>_cents`/`<dest>_lists` pair; the serving
    * generation is never touched (swap after validation, exactly like
    * the clone-append workflow). Float-list indexes only: SQ8 lists
    * store lossy codes, so the float master index is the retrain source
    * and an SQ8 generation is re-derived from it afterwards
    * ([[derive]] through [[sq8Lists]]).
    *
    * Cost shape is the build's, not the append's — one corpus read +
    * `trainIters` Lloyd passes + one partitioned write. That is the
    * correct price: retraining IS a build epoch, triggered rarely and
    * precisely when the monitoring verdict says the cheap appends have
    * degraded probe cost. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, src: String,
      dest: String, path: String, trainIters: Int = 2): Unit =
    retrain(spark, src, dest, path,
      spark.table(s"${src}_lists").select(col("vec_id"), col("embedding")),
      writeIvfIndex(_, _, _, _, trainIters))

  /** The requantization epoch every vector layout shares: `corpus`
    * without `src`'s tombstoned ids (deleted vectors neither train nor
    * serve in the new generation) written to `dest` by the layout's
    * `write(corpus, table, path, K)`, K = max(4, ⌊√n⌋) re-derived from
    * the live corpus size — the two things retraining exists to
    * refresh. One metadata-cheap count; the Lloyd passes of the write
    * dominate. A float master retrains over its own lists
    * ([[retrainIvfIndex]]). A lossy layout's serving artifact carries
    * no float vectors, so it retrains over the lake corpus, the way a
    * real deployment does: codes serve, floats live in the lake, a
    * requantization epoch reads the lake once. */
  private[graft] def retrain(spark: SparkSession, src: String, dest: String,
      path: String, corpus: DataFrame,
      write: (DataFrame, String, String, Int) => Unit): Unit = {
    val live = IndexFamily.live(spark, src, corpus, "vec_id")
    write(live, dest, path, corpusK(live))
  }

  /** K = max(4, ⌊√n⌋) — the corpus-derived cell count every quantizer
    * build in the repo uses (probe cost ~ nProbe·√N). One metadata-cheap
    * count. */
  private[graft] def corpusK(corpus: DataFrame): Int =
    math.max(4, math.floor(math.sqrt(corpus.count().toDouble)).toInt)

  /** Embedding near-dup pairs: cosine above `threshold` within a bucket
    * column (label or LSH bucket) — bounded pairwise work, as in
    * [[Dedup]]. The bucket key is refined with `lshBits` sign bits: 2^bits
    * fewer candidate pairs; identical vectors always share a sign bucket
    * (recall 1.0 for exact dups, near-1 for near-dups away from the
    * coordinate planes — the standard LSH trade). */
  def cosineNearDupPairs(df: DataFrame, threshold: Double, bucketCol: String,
      lshBits: Int = 2, maxBucketSize: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(
      concat_ws("#", col(bucketCol),
        signBucket(col("embedding"), lshBits)).as("bucket"),
      col("vec_id").cast("long").as("doc_id"), col("embedding").as("payload"))
    // same hot-bucket discipline as Dedup.jaccardPairsWithinBucket: a
    // bucket above maxBucketSize is salt-split, so per-task memory is
    // bounded (~2·cap embeddings) regardless of skew (VERDICT r1 #9).
    // The scorer's fused JVM fold is the same left-to-right double
    // accumulation as the codegen'd dot-product expressions — identical
    // IEEE operation sequence per accumulator, bit-equal results.
    BoundedPairs.scoredPairs(
        BoundedPairs.saltAssignments(v, maxBucketSize)
          .as[(String, Int, Int, Int, Long, Array[Float])],
        cosineScore(threshold))
      .toDF("id_a", "id_b", "cos_sim")
  }

  /** Incremental embedding near-dup: pair a NEW batch of vectors against
    * the EXISTING corpus — the vector twin of
    * [[Dedup.incrementalMinhashPairs]]'s ingestion contract. Emits only
    * cross pairs (new_id, old_id, cos_sim ≥ threshold); batch-internal
    * dups are a separate intra-batch [[cosineNearDupPairs]] pass by the
    * caller's choice, exactly like the text side.
    *
    * Candidate bucketing is the same (bucketCol, sign-LSH) key as
    * [[cosineNearDupPairs]] — identical vectors always collide, so exact
    * dups have recall 1.0 and near-dups the standard LSH trade.
    *
    * 100 TB shape: the corpus is scanned narrow and NEVER shuffles — the
    * batch (small by definition) is broadcast and the bucket equi-join
    * streams corpus rows past it; per-task memory is bounded by the
    * broadcast batch. Zero exchanges in the whole operator plan
    * (IncrementalCosineSpec asserts this), which is the property that
    * matters when the corpus is 100 TB and batches arrive continuously. */
  def cosineIncrementalPairs(corpus: DataFrame, batch: DataFrame,
      threshold: Double, bucketCol: String, lshBits: Int = 2): DataFrame = {
    def keyed(df: DataFrame, idAs: String, vAs: String) = df.select(
      concat_ws("#", col(bucketCol),
        signBucket(col("embedding"), lshBits)).as("bucket"),
      col("vec_id").cast("long").as(idAs), col("embedding").as(vAs))
    keyed(corpus, "old_id", "ov")
      .join(broadcast(keyed(batch, "new_id", "nv")), "bucket")
      .withColumn("cos_sim", round(cosine(col("nv"), col("ov")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("new_id"), col("old_id"), col("cos_sim"))
  }

  /** SEMANTIC dedup — k-means-partitioned embedding near-dup pruning
    * (the "cluster, then pair only within a cluster" formulation
    * published as SemDeDup): the corpus is assigned to `numCentroids`
    * Lloyd-trained semantic partitions ([[kmeansAssign]] — the same
    * trainer the IVF index family freezes), candidate pairs form only
    * inside a (cluster, sign-bucket) cell ([[cosineNearDupPairs]] with
    * the cluster id as the bucket), and any vector with a near-duplicate
    * of SMALLER id in its cell is dropped — a deterministic keep-lowest
    * survivor rule that needs no connected-components pass (transitive
    * chains stay in one cell, where every smaller near-dup is visible
    * directly; cross-cell chains are the recall trade every clustered
    * dedup makes, and what `threshold` keeps rare).
    *
    * Scale: centroid training/assignment is the IVF build cost (K·D
    * broadcast, one narrow shuffle on the cluster id); pairing is
    * bounded per cell by [[BoundedPairs]]' salt cap, so the quadratic
    * blowup is bucket-local — the whole point of partitioning first.
    * The drop set (ids appearing as the larger side of a pair) is
    * duplicate-sized; survivors come from one broadcast anti-join.
    * Output: `(vec_id, cluster_id)` survivors, one row per kept
    * vector. */
  def semanticDedup(corpus: DataFrame, numCentroids: Int, trainIters: Int,
      threshold: Double): DataFrame = {
    val assigned = kmeansAssign(corpus, numCentroids, trainIters)
    semanticDropSurvivors(corpus, assigned, threshold)
  }

  /** [[semanticDedup]] with a FROZEN quantizer — the production form: a
    * deployment that already serves an IVF index reuses its trained
    * `_cents` as the semantic partitioner (one broadcast-assign of the
    * corpus, zero training jobs), exactly the frozen-quantizer contract
    * [[ivfLists]] established. Same survivor rule, same output. */
  def semanticDedupFrozen(corpus: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val assigned = assignLists(corpus, broadcast(cents))
      .select(col("vec_id"), col("list_id").as("cluster_id"))
    semanticDropSurvivors(corpus, assigned, threshold)
  }

  private def semanticDropSurvivors(corpus: DataFrame, assigned: DataFrame,
      threshold: Double): DataFrame = {
    val withCluster = corpus.join(assigned, Seq("vec_id"))
    val dropped = cosineNearDupPairs(withCluster, threshold,
        bucketCol = "cluster_id")
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(broadcast(dropped), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster_id"))
  }

  /** Symmetric cosine scorer: sequential double folds for a·b, a·a, b·b
    * (order-stable ⇒ deterministic, matches [[dot]]/[[norm]] bit-exactly);
    * emits the round(·,6)-quantized score only when it survives. */
  private[graft] def cosineScore(threshold: Double)(
      a: Array[Float], b: Array[Float]): Option[Double] = {
    val n = math.min(a.length, b.length)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val cos = dab / (math.sqrt(daa) * math.sqrt(dbb))
    if (!java.lang.Double.isFinite(cos)) None
    else {
      val cr = BoundedPairs.round6(cos)
      if (cr >= threshold) Some(cr) else None
    }
  }
}
