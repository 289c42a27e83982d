package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Generations, IndexFamily, VectorOps}
import graft.operators.IndexFamily.generationTables
import graft.EpochRegistry.{freshId, generation, tmpDir}

/** Similarity search over `embeddings` (SURVEY §2.3): brute-force cosine
  * top-k (exact baseline), sign-bucket LSH ANN (scale path), and
  * embedding-cosine near-dup detection. */
object SimilarityQueries {

  /** Small fixed query set — realistic ANN usage (broadcast side). */
  private def querySet(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < 10)

  /** Corpus with exact-duplicate vectors injected (every 4th vector) for
    * the near-dup query; built identically in the oracle. */
  private[graft] def dupVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"), col("label")).unionAll(
      emb.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label")))

  private[graft] val dupVectorsSql =
    """corpus AS (
      |  SELECT vec_id, embedding, label FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding, label FROM embeddings WHERE vec_id % 4 = 0)""".stripMargin

  /** DuckDB mirror of [[VectorOps.mmrTopK]]: the greedy MMR recursion
    * unrolled — one MATERIALIZED CTE per step (each step is referenced
    * by every later step's anti-filter AND its max-sim join, the
    * exponential-inlining trap). Selection compares round(·,6)
    * quantities with neighbor_id tie-breaks, exactly like the Spark
    * side. */
  private def mmrOracleSql(shortlist: Int, k: Int): String = {
    val head =
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS MATERIALIZED (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "c.embedding")}, 6) AS rel
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> query_id),
        |sl AS MATERIALIZED (SELECT query_id, neighbor_id, rel FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rk
        |  FROM scored) WHERE rk <= $shortlist),
        |slv AS MATERIALIZED (
        |  SELECT sl.query_id, sl.neighbor_id, e.embedding
        |  FROM sl JOIN embeddings e ON e.vec_id = sl.neighbor_id),
        |pair AS MATERIALIZED (
        |  SELECT x.query_id, x.neighbor_id AS a_id, y.neighbor_id AS b_id,
        |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS sim
        |  FROM slv x JOIN slv y
        |    ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id),
        |s1 AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, rel, CAST(1 AS BIGINT) AS sel_rk FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rk
        |    FROM sl) WHERE rk = 1)""".stripMargin
    val steps = (2 to k).map { i =>
      val sel = (1 until i).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")
      s"""s$i AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, rel, CAST($i AS BIGINT) AS sel_rk FROM (
        |    SELECT r.query_id, r.neighbor_id, r.rel,
        |      row_number() OVER (PARTITION BY r.query_id
        |        ORDER BY round(0.5 * r.rel - 0.5 * m.max_sim, 6) DESC,
        |                 r.neighbor_id) AS rk
        |    FROM sl r
        |    JOIN (SELECT p.query_id, p.a_id, max(p.sim) AS max_sim
        |          FROM pair p JOIN ($sel) s
        |            ON p.query_id = s.query_id AND p.b_id = s.neighbor_id
        |          GROUP BY 1, 2) m
        |      ON m.query_id = r.query_id AND m.a_id = r.neighbor_id
        |    WHERE NOT EXISTS (SELECT 1 FROM ($sel) s2
        |      WHERE s2.query_id = r.query_id AND s2.neighbor_id = r.neighbor_id)
        |  ) WHERE rk = 1)""".stripMargin
    }
    val all = (1 to k).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")
    (head +: steps).mkString(",\n") +
      s"\nSELECT query_id, neighbor_id, rel, sel_rk FROM ($all)" +
      "\nORDER BY query_id, sel_rk"
  }

  /** DuckDB cosine mirror of VectorOps.cosine (double accumulation). */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))"

  /** DuckDB mirror of [[VectorOps.quantizeInt8]]. */
  private def quantSql(v: String): String = {
    val m = s"list_max(list_transform($v, y -> abs(y)))"
    s"list_transform($v, x -> CAST(round((x)::DOUBLE * " +
      s"(CASE WHEN $m > 0 THEN 127.0 / $m ELSE 0.0 END)) AS INT))"
  }

  /** DuckDB mirror of [[VectorOps.cosineQ]] — the int products are < 2^24
    * so double accumulation is EXACT, matching Spark's long fold. */
  private def cosQSql(a: String, b: String): String =
    s"CAST(list_dot_product(($a)::DOUBLE[], ($b)::DOUBLE[]) AS DOUBLE) / " +
      s"(sqrt(list_dot_product(($a)::DOUBLE[], ($a)::DOUBLE[])) * " +
      s"sqrt(list_dot_product(($b)::DOUBLE[], ($b)::DOUBLE[])))"

  private val bucketSql: String => String = v =>
    (0 until 4).map(i => s"(CASE WHEN ($v)[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  /** K ~ √N (VERDICT r6 #5): both engines derive the IVF centroid count
    * from the corpus size with the same floor(sqrt(count)) — per-list
    * work and list count then scale together (probe cost ~ nProbe·√N,
    * list build unchanged), instead of K=16 silently degenerating to
    * giant lists as the corpus grows. Spark counts the parquet footer
    * (metadata-only); the oracle embeds the same derivation as a scalar
    * subquery. Floored at 4 so toy corpora still have >1 list to probe.
    */
  private[graft] def ivfK(emb: DataFrame): Int = VectorOps.corpusK(emb)

  private[graft] val ivfKSql =
    "(SELECT greatest(4, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** [[ivfKSql]] over the UNION corpus — the re-derived K a retrain
    * epoch trains with (retraining refreshes both the centroids and
    * the list count to the corpus the appends drifted to). */
  private[graft] val corpusKSql =
    "(SELECT greatest(4, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM corpus)"

  /** DuckDB mirror of [[VectorOps.trainCentroids]]: `iters` Lloyd
    * iterations as a CTE chain over the `vec_id < numCentroids` seed; the
    * final centroid set is always named `cents`. The elementwise mean is
    * computed over `floor(x·1e6)` BIGINT quantization (order-independent
    * sums — the determinism trick that lets a k-means run hash-match
    * across engines) and cast back to `::FLOAT`, mirroring the Spark side
    * bit-for-bit. `sum(BIGINT)` is HUGEINT in DuckDB → cast down before
    * the double division. `numCentroids` is a SQL fragment — pass
    * [[ivfKSql]] for the derived-K form. */
  private def centTrainSql(numCentroids: String, iters: Int,
      rel: String = "embeddings", dim: Int = 64): String = {
    // dim: embeddings.parquet is fixed 64 (TESTDATA.md); the MRL
    // prefix relation trains at its truncated width instead
    if (iters == 0)
      s"cents AS (SELECT vec_id AS cid, embedding AS cv FROM $rel WHERE vec_id < $numCentroids)"
    else {
      val seed = s"c0 AS (SELECT vec_id AS cid, embedding AS cv FROM $rel WHERE vec_id < $numCentroids)"
      val steps = (0 until iters).map { i =>
        val next = if (i == iters - 1) "cents" else s"c${i + 1}"
        s"""asg$i AS (
          |  SELECT cid, embedding FROM (
          |    SELECT e.embedding, c.cid, row_number() OVER
          |      (PARTITION BY e.vec_id ORDER BY round(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.cid) AS cr
          |    FROM $rel e CROSS JOIN c$i c) a WHERE cr = 1),
          |$next AS (
          |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
          |    SELECT cid, pos, ((sum(q)::BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0))::FLOAT AS m
          |    FROM (SELECT cid, t.pos AS pos, floor((embedding[t.pos + 1])::DOUBLE * 1000000.0)::BIGINT AS q
          |          FROM asg$i, range(0, $dim) t(pos)) ex
          |    GROUP BY cid, pos) cm
          |  GROUP BY cid)""".stripMargin
      }
      (seed +: steps).mkString(",\n")
    }
  }

  /** The k-means assignment CTE chain ending in `clusters (vec_id, cid)`
    * — shared by the `sim_cluster_assignments` oracle and
    * `pipeline_cluster_balance`'s (so the partitioning can never drift
    * from the selection built on it). */
  private[graft] lazy val clusterAssignCtes: String =
    clusterAssignCtesOver("embeddings", ivfKSql)

  /** [[clusterAssignCtes]] parameterized over the corpus relation and
    * the K derivation (the trainRel/kSql discipline) — the retrained
    * graph generation's mirror trains AND assigns over the union
    * corpus. */
  private[graft] def clusterAssignCtesOver(rel: String,
      kSql: String): String =
    s"""${centTrainSql(kSql, 2, rel)},
      |casg AS (
      |  SELECT vec_id, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $rel CROSS JOIN cents),
      |clusters AS (SELECT vec_id, cid FROM casg WHERE cr = 1)""".stripMargin

  /** The audits' single k — threaded through the Spark tail AND the
    * oracle CTE builder so the brute ranking, the ann cut, and the recall
    * divisor can never drift apart. */
  private[graft] val recallK = 3

  /** nDCG@10 discounts floor(1e6 / log2(i+1)) for i = 1..10, evaluated
    * ONCE here and embedded as literals in both engines' plans — the
    * cross-engine transcendental never runs at query time. */
  private val rankDiscountPpm: Seq[Long] =
    (1 to 10).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Ideal DCG@10 in ppm for graded relevance 10..1 — constant because
    * the truth set always has exactly 10 items. */
  private val idealDcgPpm: Long =
    (1 to 10).map(i => (11L - i) * rankDiscountPpm(i - 1)).sum

  // ---------------- index-family lifecycle epochs ----------------

  /** One family's batch lifecycle — a row of the family table below.
    * Every epoch is keyed `<prefix>_<stage>` per (session, dir); its
    * generations hold the family's `tables` suffixes under fresh temp
    * dirs, all reclaimed by [[EpochRegistry]] when the owning session's
    * context stops.
    *
    *  - `build`: the base generation's writer — it resolves the epochs
    *    it reads FIRST (before the base acquire: a nested
    *    `computeIfAbsent` on the registry map can deadlock) and returns
    *    the write of one generation into `(table, path)`;
    *  - `compactFrom`: the stage whose generation the compaction epoch
    *    settles — [[append]] (the file groups appends grew) or
    *    [[delete]] (the tombstones);
    *  - `retrain`: `(src, dest, path, unionCorpus)` — fresh quantizers
    *    (and a fresh K) over the appended generation's grown corpus,
    *    through the family's own write;
    *  - `derive`: `(src, dest, path)` — the family's payload encoded
    *    under the float [[ivf]] master's quantizer and assignment
    *    ([[lossy]]). */
  private[graft] final case class Lifecycle(prefix: String,
      family: IndexFamily,
      build: (SparkSession, String) => (String, String) => Unit,
      compactFrom: (SparkSession, String, Lifecycle) => String,
      retrain:
        Option[(SparkSession, String, String, String, DataFrame) => Unit],
      derive: Option[(SparkSession, String, String, String) => Unit])

  /** A base build over the lake's `embeddings`. */
  private def overEmbeddings(write: (DataFrame, String, String) => Unit)
      : (SparkSession, String) => (String, String) => Unit =
    (s, dir) => (table, path) => write(Tables.embeddings(s, dir), table, path)

  /** Float IVF: the coarse quantizer (K ~ √N, two Lloyd passes) and
    * `partitionBy(list_id)` lists — the master every derivation reads. */
  private[graft] val ivf: Lifecycle = Lifecycle("ivf", IndexFamily.ivf,
    overEmbeddings((emb, t, p) => VectorOps.writeIvfIndex(emb, t, p,
      numCentroids = ivfK(emb), trainIters = 2)),
    compactFrom = append,
    retrain = Some((s, src, dest, path, _) =>
      VectorOps.retrainIvfIndex(s, src, dest, path)),
    derive = None)

  /** A lossy row: its codes hold no float vectors, so its retrain runs
    * the `write(corpus, table, path, K)` that builds it over the lake's
    * union corpus ([[VectorOps.retrain]]), and it derives from the float
    * [[ivf]] master through its encoder `encode`, `trainers` training
    * every frozen table after `_cents` ([[VectorOps.derive]]). */
  private def lossy(prefix: String, family: IndexFamily,
      write: (DataFrame, String, String, Int) => Unit,
      compactFrom: (SparkSession, String, Lifecycle) => String,
      trainers: Seq[(String, VectorOps.Trainer)],
      encode: VectorOps.Encoder): Lifecycle =
    Lifecycle(prefix, family,
      overEmbeddings((emb, t, p) => write(emb, t, p, ivfK(emb))), compactFrom,
      retrain = Some(VectorOps.retrain(_, _, _, _, _, write)),
      derive = Some(VectorOps.derive(_, _, _, _, trainers, encode)))

  /** int8 list payloads under the float quantizer — the partition cut
    * compounded with the 4× payload cut (VERDICT r9 #1). */
  private[graft] val sq8: Lifecycle = lossy("ivf_sq8", IndexFamily.sq8,
    VectorOps.writeIvfIndexSq8(_, _, _, _, trainIters = 2),
    compactFrom = append, Nil, VectorOps.sq8Lists)

  /** Sign masks inside the coarse lists — the compression spectrum's
    * coarsest SERVED layout. */
  private[graft] val binary: Lifecycle = lossy("ivf_binary",
    IndexFamily.binary,
    VectorOps.writeIvfIndexBinary(_, _, _, _, trainIters = 2),
    compactFrom = delete, Nil, VectorOps.binaryLists)

  /** Matryoshka 32-dim prefixes under their own coarse quantizer. */
  private[graft] val mrl: Lifecycle = Lifecycle("mrl", IndexFamily.mrl,
    overEmbeddings((emb, t, p) => VectorOps.writeMrlIndex(emb, t, p,
      prefixDims = 32, numCentroids = ivfK(emb), trainIters = 2)),
    compactFrom = delete, retrain = None, derive = None)

  /** Flat PQ: 8 subspaces × 64 centroids — the 32×-compressed corpus. */
  private[graft] val pq: Lifecycle = Lifecycle("pq", IndexFamily.pq,
    overEmbeddings((emb, t, p) => VectorOps.writePqIndex(emb, t, p,
      m = 8, ksub = 64, trainIters = 2)),
    compactFrom = delete, retrain = None, derive = None)

  /** The IVF-PQ composite: coarse lists of PQ codes, both quantizers
    * trained once per epoch. */
  private[graft] val ivfPq: Lifecycle = lossy("ivfpq",
    IndexFamily.ivfPq(8, 64),
    VectorOps.writeIvfPqIndex(_, _, _, _, trainIters = 2, m = 8, ksub = 64,
      pqIters = 2),
    compactFrom = delete, Seq(VectorOps.codebooks(8, 64, 2, 64, 16384L)),
    VectorOps.ivfPqCodes(8, 64))

  /** Residual IVF-PQ (`by_residual=true` — VERDICT r13 #4): the
    * composite's shape, codes quantizing residuals against the list
    * centroids. */
  private[graft] val ivfPqRes: Lifecycle = lossy("ivfpq_res",
    IndexFamily.ivfPqResidual(8, 64),
    VectorOps.writeIvfPqResidualIndex(_, _, _, _, trainIters = 2, m = 8,
      ksub = 64, pqIters = 2),
    compactFrom = delete,
    Seq(VectorOps.residualCodebooks(8, 64, 2, 64, 16384L)),
    VectorOps.ivfPqResidualCodes(8, 64))

  /** The vector rows of the family table (the graph row,
    * [[GraphQueries.graph]], builds from the kNN epochs instead). */
  private[graft] val vectorFamilies: Seq[Lifecycle] =
    Seq(ivf, sq8, binary, mrl, pq, ivfPq, ivfPqRes)

  /** BASE: the family's serving generation, written once per (session,
    * dir) and probed by every later query in the session — the 100 TB
    * contract where the index is written once per epoch and the
    * per-batch cost is the probe. */
  private[graft] def base(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val write = lc.build(s, dir)
    generation(s, dir, s"${lc.prefix}_index", generationTables(lc.family))(
      (t, newDir) => write(t, newDir()))
  }

  /** DELETE: the serving generation cloned, exact copies of the query
    * vectors admitted under poison ids ≥ 500000 through the frozen
    * append (cosine 1.0 / hamming 0 — guaranteed rank-1, the loudest
    * possible leak), then tombstoned through the family's delete. The
    * gated probe must hash-match the untouched base oracle. */
  private[graft] def delete(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val src = base(s, dir, lc)
    generation(s, dir, s"${lc.prefix}_delete_index",
        generationTables(lc.family)) { (t, newDir) =>
      lc.family.cloneTo(s, src, t, newDir())
      val poison = querySet(Tables.embeddings(s, dir))
        .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
      lc.family.append(s, t, poison)
      lc.family.delete(s, t, poison.select(col("vec_id")))
    }
  }

  /** COMPACT: the `compactFrom` generation rewritten one file group per
    * list with its tombstones settled physically — result-identical
    * rows in a tighter layout, so the probe shares that generation's
    * oracle. */
  private[graft] def compact(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val src = lc.compactFrom(s, dir, lc)
    generation(s, dir, s"${lc.prefix}_compact_index",
      generationTables(lc.family))((t, newDir) =>
      lc.family.compact(s, src, t, newDir()))
  }

  /** UPSERT, corrupt-then-heal: a clone CORRUPTED exactly the way
    * in-place re-ingestion would — copies of the query vectors under
    * ten EXISTING ids 50–59, which then carry two payloads each (the
    * doubled-id defect the family's upsert exists to prevent) — and
    * HEALED by upserting the ids' true vectors into a new generation.
    * The probe hash-matching the untouched oracle proves both. */
  private[graft] def upsert(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val src = base(s, dir, lc)
    val kind = s"${lc.prefix}_upsert_index"
    EpochRegistry.acquire(s, kind, dir) { () =>
      val corrupt = s"graft_${lc.prefix}_upsert_src_" + freshId()
      val dest = s"graft_${kind}_" + freshId()
      val paths = Seq.fill(2)(tmpDir(s"graft_${lc.prefix}_upsert_"))
      val emb = Tables.embeddings(s, dir)
      lc.family.cloneTo(s, src, corrupt, paths(0))
      lc.family.append(s, corrupt, querySet(emb)
        .select((col("vec_id") + 50).as("vec_id"), col("embedding")))
      lc.family.upsert(s, corrupt, dest, paths.drop(1),
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 60)
          .select(col("vec_id"), col("embedding")))
      EpochRegistry.Resource(dest,
        dropTables = Seq(corrupt, dest).flatMap(g =>
          generationTables(lc.family).map(g + _)),
        deleteDirs = paths)
    }
  }

  /** APPEND: the serving generation CLONED (it stays untouched — the
    * clone-append-validate-swap workflow) and the dup-vector batch
    * (vec_id ≥ 100000) admitted through the frozen layout; the probe
    * must equal a build over the union corpus under the same frozen
    * quantizers. */
  private[graft] def append(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val src = base(s, dir, lc)
    generation(s, dir, s"${lc.prefix}_append_index",
        generationTables(lc.family)) { (t, newDir) =>
      lc.family.cloneTo(s, src, t, newDir())
      lc.family.append(s, t, dupVectors(Tables.embeddings(s, dir))
        .filter(col("vec_id") >= 100000)
        .select(col("vec_id"), col("embedding")))
    }
  }

  /** RETRAIN: the appended generation's drift remedy, closing the
    * lifecycle the retrain monitors open — the new generation must
    * equal a fresh build over the union corpus. */
  private[graft] def retrain(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val train = lc.retrain.getOrElse(
      throw new IllegalArgumentException(s"${lc.prefix} has no retrain"))
    val src = append(s, dir, lc)
    generation(s, dir, s"${lc.prefix}_retrain_index",
        generationTables(lc.family)) { (t, newDir) =>
      train(s, src, t, newDir(), dupVectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding")))
    }
  }

  /** DERIVED: the float [[ivf]] master's quantizer and assignment
    * re-used verbatim, the payload re-encoded in place — how a
    * retrained float master regains its compact serving copy without
    * a Lloyd pass. Result-identical to a fresh build of the family, so
    * the probe shares its base oracle. */
  private[graft] def derive(s: SparkSession, dir: String, lc: Lifecycle)
      : String = {
    val encode = lc.derive.getOrElse(
      throw new IllegalArgumentException(s"${lc.prefix} has no derivation"))
    val src = base(s, dir, ivf)
    generation(s, dir, s"${lc.prefix}_derived_index",
      generationTables(lc.family))((t, newDir) => encode(s, src, t, newDir()))
  }

  /** POINTER: the serving generation promoted under a stable name via
    * [[Generations.publishPointer]] — ONE catalog view holding the
    * generation's name, so every table of the family (and the
    * tombstone sidecar) resolves from the SAME atomically-flipped
    * generation and the probe plan is unchanged. The gated probes must
    * hash-match the direct-probe oracles. */
  private[graft] def pointer(s: SparkSession, dir: String, lc: Lifecycle)
      : String =
    EpochRegistry.pointerView(s, dir, s"${lc.prefix}_pointer_view",
      base(s, dir, lc), lc.family.tables)

  // ---------------- served lifecycle entries ----------------

  /** A driver-contract entry: (session, data dir) → result. */
  private type Query = (SparkSession, String) => DataFrame

  /** A served probe: (session, generation, query set) → ranked rows. */
  private type Probe = (SparkSession, String, DataFrame) => DataFrame

  /** A lifecycle stage: (session, data dir, family) → its generation. */
  private[graft] type Stage = (SparkSession, String, Lifecycle) => String

  /** How one vector family's generations are probed and gated — a row
    * of [[servedFamilies]]. [[lifecycleEntries]] generates every
    * post-base lifecycle entry `<entry>_<stage>` and its oracle from it.
    *
    *  - `serve`: the served probe, k and nProbe fixed inside; its rows
    *    are gated as `query_id, neighbor_id, <score>, rk`;
    *  - `audit`: the same probe at k = [[recallK]] (and nProbe = 2 over
    *    coarse lists), gated through [[recallAudit]] against the
    *    union-corpus truth;
    *  - `rowsTable`: the table whose rows the compaction-cadence monitor
    *    weighs the delete epoch's ten tombstones against, and whose
    *    lists the retrain verdict ([[VectorOps.retrainCheck]]) sizes;
    *    `rowsPerVector` of its rows hold one vector (m for code rows);
    *  - `retrainCheckSql`: the mirror of that verdict over the appended
    *    generation, for a family with coarse lists;
    *  - `baseSql`: the untouched build's oracle, shared by every
    *    result-invisible stage (delete, upsert, pointer, derive);
    *    `compactedSql` is the oracle of `lc.compactFrom`'s generation
    *    (stated per row: a stage function cannot be compared);
    *    `appendedSql`/`appendedRecallSql` mirror the union corpus under
    *    the frozen quantizers, `retrainedSql` (probe, recall) the union
    *    corpus under fresh ones;
    *  - `streamCdc`: the stream entry prefix `p` and the stages
    *    [[StreamingQueries.cdcEntries]] generates as `p_cdc<stage>` over
    *    the family's CDC loop ([[StreamingQueries.cdc]]), whose settled
    *    generation serves the union corpus under the frozen quantizers.
    */
  private[graft] final case class Served(lc: Lifecycle, entry: String,
      score: String, rowsTable: String, serve: Probe, audit: Probe,
      retrainCheckSql: Option[String], baseSql: String,
      compactedSql: String, appendedSql: String, appendedRecallSql: String,
      retrainedSql: Option[(String, String)], rowsPerVector: Int,
      streamCdc: Option[(String, Seq[String])]) {

    /** `serve` over the generation `at` resolves to, gated as
      * `query_id, neighbor_id, <score>, rk`. */
    def probed(at: Stage): Query = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      serve(s, at(s, dir, lc), querySet(emb))
        .select(col("query_id"), col("neighbor_id"), col(score), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }

    /** `audit` over the generation `at` resolves to, against the
      * union-corpus truth. */
    def audited(at: Stage): Query = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(dupVectors(emb), audit(s, at(s, dir, lc), querySet(emb)))
    }
  }

  /** Every stage a family's CDC loop serves ([[StreamingQueries
    * .cdcEntries]]); binary's row leaves out `_recall`. */
  private val cdcStages = Seq("", "_recall", "_settle_check", "_published")

  /** The served table. The retrain verdicts size each list by its
    * vectors, and every appended generation assigns through the same
    * frozen float quantizer, so IVF, SQ8, binary, IVF-PQ and residual
    * share one mirror (a code layout's m rows per vector count once);
    * MRL's cells are trained on the 32-dim prefixes, and flat PQ has
    * no coarse lists to skew. The compaction monitors count one list
    * (or prefix) row per vector, or m = 8 code rows. Lazy: the oracle
    * strings read vals defined further down. */
  private[graft] lazy val servedFamilies: Seq[Served] = Seq(
    Served(ivf, "sim_ann_ivf", "cos_sim", "_lists",
      VectorOps.probeIvfIndex(_, _, _, k = 3, nProbe = 4),
      VectorOps.probeIvfIndex(_, _, _, k = recallK, nProbe = 2),
      Some(ivfRetrainCheckOracleSql),
      baseSql = ivfOracleSql, compactedSql = ivfAppendOracleSql,
      appendedSql = ivfAppendOracleSql,
      appendedRecallSql = ivfAppendRecallOracleSql,
      retrainedSql = Some((
        ivfOracleOver(dupVectorsSql + ",\n", "corpus", "corpus", corpusKSql),
        ivfRecallOracleOver(dupVectorsSql + ",\n", "corpus", "corpus",
          corpusKSql))),
      rowsPerVector = 1,
      streamCdc = Some(("stream_ann", cdcStages))),
    Served(sq8, "sim_ann_ivf_sq8", "cos_sim", "_lists",
      VectorOps.probeIvfIndexSq8(_, _, _, k = 3, nProbe = 4),
      VectorOps.probeIvfIndexSq8(_, _, _, k = recallK, nProbe = 2),
      Some(ivfRetrainCheckOracleSql),
      baseSql = ivfSq8OracleSql, compactedSql = ivfSq8AppendOracleSql,
      appendedSql = ivfSq8AppendOracleSql,
      appendedRecallSql = recallOracleSql(
        ivfSq8RecallPre(dupVectorsSql + ",\n", "corpus"),
        ivfSq8RecallAnnSelect, "corpus"),
      retrainedSql = Some((
        ivfSq8OracleOver(dupVectorsSql + ",\n", "corpus", "corpus",
          corpusKSql),
        recallOracleSql(ivfSq8RecallPre(dupVectorsSql + ",\n", "corpus",
          "corpus", corpusKSql), ivfSq8RecallAnnSelect, "corpus"))),
      rowsPerVector = 1, streamCdc = None),
    Served(binary, "sim_ann_binary", "hamming", "_lists",
      VectorOps.probeIvfIndexBinary(_, _, _, k = 5, nProbe = 4),
      VectorOps.probeIvfIndexBinary(_, _, _, k = recallK, nProbe = 2),
      Some(ivfRetrainCheckOracleSql),
      baseSql = ivfBinaryOracleSql, compactedSql = ivfBinaryOracleSql,
      appendedSql = ivfBinaryAppendOracleSql,
      appendedRecallSql = ivfBinaryAppendRecallOracleSql,
      retrainedSql = Some((ivfBinaryRetrainOracleSql,
        ivfBinaryRetrainRecallOracleSql)),
      rowsPerVector = 1,
      streamCdc = Some(("stream_binary",
        Seq("", "_settle_check", "_published")))),
    Served(mrl, "sim_ann_mrl", "cos_sim", "_prefix",
      VectorOps.probeMrlIndex(_, _, _, k = 5, prefixDims = 32,
        shortlist = 100),
      VectorOps.probeMrlIndex(_, _, _, k = recallK, prefixDims = 32,
        shortlist = 100),
      Some(mrlRetrainVerdictOracleSql),
      baseSql = mrlOracleSql, compactedSql = mrlOracleSql,
      appendedSql = mrlAppendOracleSql,
      appendedRecallSql = mrlAppendRecallOracleSql, retrainedSql = None,
      rowsPerVector = 1,
      streamCdc = Some(("stream_ann_mrl", cdcStages))),
    Served(pq, "sim_ann_pq", "cos_sim", "_codes",
      VectorOps.probePqIndex(_, _, _, k = 3),
      VectorOps.probePqIndex(_, _, _, k = recallK),
      retrainCheckSql = None,
      baseSql = pqOracleSql, compactedSql = pqOracleSql,
      appendedSql = pqAppendOracleSql,
      appendedRecallSql = pqAppendRecallOracleSql, retrainedSql = None,
      rowsPerVector = 8, streamCdc = None),
    Served(ivfPq, "sim_ann_ivfpq", "cos_sim", "_codes",
      VectorOps.probeIvfPqIndex(_, _, _, k = 3, nProbe = 4),
      VectorOps.probeIvfPqIndex(_, _, _, k = recallK, nProbe = 2),
      Some(ivfRetrainCheckOracleSql),
      baseSql = ivfPqOracleSql, compactedSql = ivfPqOracleSql,
      appendedSql = ivfPqAppendOracleSql,
      appendedRecallSql = ivfPqAppendRecallOracleSql,
      retrainedSql = Some((ivfPqRetrainOracleSql,
        ivfPqRetrainRecallOracleSql)),
      rowsPerVector = 8,
      streamCdc = Some(("stream_ann_ivfpq", cdcStages))),
    Served(ivfPqRes, "sim_ann_ivfpq_residual", "cos_sim", "_codes",
      VectorOps.probeIvfPqResidualIndex(_, _, _, k = 3, nProbe = 4),
      VectorOps.probeIvfPqResidualIndex(_, _, _, k = recallK, nProbe = 2),
      Some(ivfRetrainCheckOracleSql),
      baseSql = ivfPqResidualOracleSql, compactedSql = ivfPqResidualOracleSql,
      appendedSql = ivfPqResidualAppendOracleSql,
      appendedRecallSql = ivfPqResidualAppendRecallOracleSql,
      retrainedSql = Some((ivfPqResidualRetrainOracleSql,
        ivfPqResidualRetrainRecallOracleSql)),
      rowsPerVector = 8, streamCdc = None))

  /** Every post-base lifecycle entry of one served family, as (name,
    * query, oracle SQL): each stage's generation probed through `serve`
    * (or audited through `audit`), plus the compaction verdict over the
    * delete generation and the retrain verdict over the appended one. */
  private def lifecycleEntries(f: Served): Seq[(String, Query, String)] = {
    import f.{audited, probed}
    val compactionCheck: Query = (s, dir) => {
      val gen = delete(s, dir, f.lc)
      Generations.compactionCheck(s, gen, s.table(gen + f.rowsTable))
    }
    val stages: Seq[(String, Query, String)] = Seq(
      ("_deleted", probed(delete), f.baseSql),
      ("_updated", probed(upsert), f.baseSql),
      ("_published", probed(pointer), f.baseSql),
      ("_compacted", probed(compact), f.compactedSql),
      ("_appended", probed(append), f.appendedSql),
      ("_appended_recall", audited(append), f.appendedRecallSql),
      ("_compaction_check", compactionCheck,
        compactionCheckOracleSql(f.rowsPerVector))) ++
      f.lc.derive.map(_ => ("_derived", probed(derive), f.baseSql)) ++
      f.retrainedSql.toSeq.flatMap { case (sql, recallSql) => Seq(
        ("_retrained", probed(retrain), sql),
        ("_retrained_recall", audited(retrain), recallSql)) } ++
      f.retrainCheckSql.map(sql => ("_retrain_check", (s, dir) =>
        VectorOps.retrainCheck(s, append(s, dir, f.lc) + f.rowsTable,
          f.rowsPerVector), sql))
    stages.map { case (stage, query, sql) => (f.entry + stage, query, sql) }
  }

  /** [[recallAudit]]'s FILTERED twin (r18 — every approximate path
    * carries a recall audit, and the filtered probes were the two that
    * didn't): truth is the exact cosine top-k RESTRICTED to the
    * query's own label (the population the filtered probe is allowed
    * to serve from — auditing it against the unfiltered truth would
    * count forbidden neighbors as misses). The brute side joins the
    * tiny query set to the corpus on the label key — label-partitioned
    * brute force, the audit cost class. */
  private[graft] def filteredRecallAudit(emb: DataFrame,
      ann: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val brute = broadcast(querySet(emb)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label")))
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nemb"), col("label")), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorOps.cosine(col("qv"), col("nemb")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= recallK)
      .select(col("query_id"), col("neighbor_id"))
    val hits = brute.join(ann.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    querySet(emb).select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(recallK.toDouble), 6)
          .as("recall"))
      .orderBy(col("query_id"))
  }

  /** Shared recall-audit tail: per-query overlap of an ANN top-k with the
    * exact brute-force top-[[recallK]] of `queries` over `corpus`,
    * 0-filled for queries the ANN missed entirely. Every ANN path (LSH,
    * IVF, the graph walks) gates through this. */
  private[graft] def recallAudit(queries: DataFrame, corpus: DataFrame,
      ann: DataFrame): DataFrame = {
    val brute = VectorOps.bruteForceTopK(queries, corpus, k = recallK)
      .select(col("query_id"), col("neighbor_id"))
    val hits = brute.join(ann.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(recallK.toDouble), 6).as("recall"))
      .orderBy(col("query_id"))
  }

  /** [[recallAudit]] for the fixed [[querySet]] over `emb`. */
  private[graft] def recallAudit(emb: DataFrame, ann: DataFrame): DataFrame =
    recallAudit(querySet(emb), emb, ann)

  def queries: Map[String, Query] = Map[String, Query](

    "sim_topk_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.bruteForceTopK(querySet(emb), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // MMR diversified serving: greedy λ=0.5 re-rank of the exact
    // top-20 shortlist — each pick trades relevance against max
    // similarity to the already-picked set; the oracle unrolls the
    // greedy recursion as one MATERIALIZED CTE per step
    "sim_ann_mmr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.mmrTopK(querySet(emb), emb, shortlist = 20, k = 5)
        .orderBy(col("query_id"), col("sel_rk"))
    }),

    // BINARY quantization (sign masks, 64× compression — the coarsest
    // member of the spectrum after SQ8's 4× and PQ's 32×): hamming
    // ranking over two popcounted xors per candidate, integer-exact
    // end to end; the recall audit prices the 1-bit quantization
    "sim_ann_binary" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.binaryTopK(querySet(emb), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("hamming"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    "sim_ann_binary_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.binaryTopK(querySet(emb), emb, k = recallK))
    }),

    // MATRYOSHKA (MRL) prefix-dim serving (Kusupati et al. 2022):
    // coarse ranking on the first 32 of 64 dims (dimension truncation
    // as the quantizer — store the prefix as its own column and the
    // coarse scan reads half the vector bytes), exact full-dim cosine
    // re-rank over the per-query 100-candidate shortlist. The fixture
    // embeddings are NOT MRL-trained (no information concentration in
    // the prefix), so the honest operating point is d/2 + a deep
    // shortlist (recall@3 0.93 at sf0.01); real MRL embeddings run
    // 4-8x truncation at small shortlists on the same plan
    "sim_ann_mrl" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.mrlTopK(querySet(emb), emb, k = 5, prefixDims = 32,
          shortlist = 100)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    "sim_ann_mrl_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.mrlTopK(querySet(emb), emb, k = recallK,
        prefixDims = 32, shortlist = 100))
    }),

    // ...and the EPOCH form: the prefix persists as its own narrow
    // table so the coarse scan reads half the vector bytes PHYSICALLY
    // (prefix-32 of 64 dims; plan spec pins that the serve never scans
    // the full-vector table corpus-wide — the shortlist joins _nodes);
    // output ≡ sim_ann_mrl, same oracle
    "sim_ann_mrl_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeMrlIndex(s, base(s, dir, mrl), querySet(emb),
          k = 5, prefixDims = 32, shortlist = 100)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the ROW-pruned composition (VERDICT r18 #4): the coarse pass
    // reads only the 4 probed cells' partitions of the narrow prefix
    // table — nProbe/K of the rows × half the bytes; approximate on
    // two axes (cell boundary + truncation), so it carries its own
    // oracle and recall audit
    "sim_ann_mrl_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeMrlIndexIvf(s, base(s, dir, mrl), querySet(emb),
          k = 5, prefixDims = 32, shortlist = 100, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the ADAPTIVE composed probe (VERDICT r19 #1): per-query nProbe
    // widened down the coarse ranking until 40% of live corpus mass is
    // covered — a boundary-straddling query probes more cells, a
    // centered one fewer, and skewed cell sizes can't silently starve
    // coverage the way a fixed count does
    "sim_ann_mrl_ivf_adaptive" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeMrlIndexIvfAdaptive(s, base(s, dir, mrl),
          querySet(emb), k = 5, prefixDims = 32, shortlist = 200,
          massTargetPpm = 400000L)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // ...and its recall audit — the adaptive probe raised this from
    // 0.5@3 (fixed nProbe=2, the r19 suite's weakest quality number)
    // to 0.83@3 at sf0.01 / 0.9@3 at sf0.1, measured before gating
    "sim_ann_mrl_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.probeMrlIndexIvfAdaptive(s,
        base(s, dir, mrl), querySet(emb), k = recallK, prefixDims = 32,
        shortlist = 200, massTargetPpm = 400000L))
    }),

    // CONTRASTIVE TRIPLET assembly — the training-data emission the
    // hard-negative mine exists for: rank-i exact positive paired with
    // the rank-i mined in-band negative per query (an under-filled
    // negative rank drops its pair — honest, never padded), margin =
    // how much the positive out-scores the confusable negative, the
    // quantity a triplet loss trains on
    "sim_triplets" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pos = VectorOps.bruteForceTopK(querySet(emb), emb, k = 3)
        .select(col("query_id"), col("rk"),
          col("neighbor_id").as("pos_id"), col("cos_sim").as("pos_cos"))
      val neg = VectorOps.ivfHardNegativesWith(
          s.table(s"${base(s, dir, ivf)}_cents"),
          querySet(emb), emb, k = 3, nProbe = 4,
          loCos = 0.30, hiCos = 0.90)
        .select(col("query_id"), col("rk"),
          col("neighbor_id").as("neg_id"), col("cos_sim").as("neg_cos"))
      pos.join(neg, Seq("query_id", "rk"))
        .select(col("query_id"), col("rk"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // per-dimension corpus profile (PCA-lite diagnostics): mean,
    // variance, range of every embedding dimension — the report that
    // tells you which dims carry signal before quantizing/pruning them.
    // Each float is ppm-quantized FIRST (float→double widening and
    // floor are exact both engines), so all sums are integer and
    // order-independent — never sum raw floats across a shuffle
    "sim_dim_stats" -> ((s, dir) => {
      // +1e6 ppm offset keeps every quantized value (range ±0.58) and
      // every sum NON-NEGATIVE, so Spark's truncating div and DuckDB's
      // floor div agree (the r14 div-convention trap); the offset is
      // subtracted back exactly for min/max/mean, and variance is
      // shift-invariant
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          (floor(col("x").cast("double") * lit(1000000.0)).cast("long") +
            lit(1000000L)).as("xq"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), min(col("xq")).as("min_q"),
          max(col("xq")).as("max_q"), sum(col("xq")).as("sum_q"),
          sum(col("xq") * col("xq")).as("sumsq"))
        .select(col("dim"), col("n"),
          (col("min_q") - 1000000L).as("min_ppm"),
          (col("max_q") - 1000000L).as("max_ppm"),
          (expr("sum_q div n") - 1000000L).as("mean_ppm"),
          expr("sumsq div n - (sum_q div n) * (sum_q div n)")
            .as("var_ppm2"))
        .orderBy(col("dim"))
    }),

    // IVF PROBE SWEEP — the ANN tuning curve read before fixing
    // nProbe (the adaptive MRL probe's static cousin): for each
    // candidate nProbe, total recall@3 hits over the query set AND the
    // total candidate rows scored — the recall/cost frontier in one
    // report. ONE epoch + one brute-truth pass + one query×cell
    // ranking are shared across all four settings (the
    // dedup_threshold_sweep discipline: sweep the dial in one query);
    // each setting then reads only its probed cells' partitions.
    "sim_ann_ivf_probe_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = base(s, dir, ivf)
      val cents = broadcast(s.table(s"${idx}_cents"))
      val lists = s.table(s"${idx}_lists")
      val brute = VectorOps.bruteForceTopK(querySet(emb), emb, k = recallK)
        .select(col("query_id"), col("neighbor_id"))
      val prW = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
        .orderBy(col("_csim").desc, col("cid"))
      val pr = querySet(emb)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(cents)
        .withColumn("_csim", round(VectorOps.cosine(col("qv"), col("cv")), 6))
        .withColumn("cr", row_number().over(prW))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      Seq(1, 2, 4, 8).map { np =>
        val probes = pr.filter(col("cr") <= np)
          .select(col("cid").as("list_id"), col("query_id"), col("qv"))
        val cand = lists.join(broadcast(probes), Seq("list_id"))
          .filter(col("query_id") =!= col("vec_id"))
        val ann = cand
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(VectorOps.cosine(col("qv"), col("embedding")), 6)
              .as("cos_sim"))
          .withColumn("rk", row_number().over(wq))
          .filter(col("rk") <= recallK)
          .select(col("query_id"), col("neighbor_id"))
        brute.join(ann, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .select(lit(np.toLong).as("n_probe"), col("n_hit"),
            expr(s"n_hit * 1000000 div ${10 * recallK}").as("recall_ppm"),
            col("n_candidates"))
      }.reduce(_ unionAll _).orderBy(col("n_probe"))
    }),

    // EMBEDDING-DRIFT monitor: per label, the cosine between the MEAN
    // vectors of the two corpus halves (vec_id parity as the epoch
    // split) — the embedding-space twin of the token-level
    // pipeline_curation_drift JSD: a re-embedded or domain-shifted
    // refresh drops this long before recall audits see it. Per-row
    // floor(x·1e6) quantization, per-(label, dim) integer sums, and
    // the cosine of the SUM vectors (scale-invariant ⇒ no division by
    // n) — dot/norms accumulate in DECIMAL(38,0) (HUGEINT on the
    // oracle; Σa_d² ≈ 64·(N·6e5)² overflows BIGINT at fixture scale
    // already) and cross to double only inside the final sqrt/ratio.
    "sim_embedding_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val g = emb
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("half"), col("dim"),
          floor(col("x").cast("double") * lit(1000000.0))
            .cast("decimal(19,0)").as("xq"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(when(col("half") === 0, col("xq"))
            .otherwise(lit(0).cast("decimal(19,0)"))).as("a"),
          sum(when(col("half") === 1, col("xq"))
            .otherwise(lit(0).cast("decimal(19,0)"))).as("b"))
      val c = g.groupBy(col("label"))
        .agg(sum(col("a") * col("b")).as("dot"),
          sum(col("a") * col("a")).as("na"),
          sum(col("b") * col("b")).as("nb"))
      val n = emb.groupBy(col("label"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L))
          .as("n_pre"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L))
          .as("n_post"))
      c.join(n, Seq("label"))
        .select(col("label"), col("n_pre"), col("n_post"),
          round(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double"))), 6).as("cos_halves"))
        .orderBy(col("label"))
    }),

    // rank-AWARE eval of the binary ranking (nDCG@10 + MRR) against
    // exact-cosine truth: recall counts hits, this prices WHERE they
    // land. Graded relevance rel = 11 - true_rank; the 1/log2(i+1)
    // discounts are precomputed ppm literals shared verbatim by both
    // engines (no transcendental evaluated at query time), so DCG is
    // an all-integer dot product and nDCG one exact division by the
    // constant ideal
    "sim_eval_rank_quality" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val sys = VectorOps.binaryTopK(querySet(emb), emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rk").as("rk_sys"))
      val truth = VectorOps.bruteForceTopK(querySet(emb), emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rk").as("rk_true"))
      val disc = array(rankDiscountPpm.map(lit(_)): _*)
      sys.join(truth, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rk_sys"),
          coalesce(lit(11L) - col("rk_true"), lit(0L)).as("rel"))
        .groupBy(col("query_id"))
        .agg(
          sum(col("rel") * element_at(disc, col("rk_sys").cast("int")))
            .as("dcg_ppm"),
          coalesce(min(when(col("rel") > 0, col("rk_sys"))), lit(0L))
            .as("first_hit_rank"))
        .select(col("query_id"), col("dcg_ppm"),
          round(col("dcg_ppm") / lit(idealDcgPpm.toDouble), 6).as("ndcg"),
          col("first_hit_rank"),
          when(col("first_hit_rank") === 0L, lit(0.0))
            .otherwise(round(lit(1.0) / col("first_hit_rank"), 6)).as("rr"))
        .orderBy(col("query_id"))
    }),

    // the BQ + rescore serving shape: hamming shortlist-32 from the
    // 8-byte scan, floats fetched only for the survivors and re-scored
    // exactly — the quantization error refunded for 32 point reads
    "sim_ann_binary_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.binaryTopKRerank(querySet(emb), emb, k = 3, shortlist = 32)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    "sim_ann_binary_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.binaryTopKRerank(querySet(emb), emb,
        k = recallK, shortlist = 32))
    }),

    // the SERVED binary layout: sign masks inside the coarse
    // quantizer's DPP-pruned list partitions — the nProbe/K scan cut
    // compounds the 16-byte payload; probe cost is two xors + two
    // popcounts per candidate row
    "sim_ann_binary_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfIndexBinary(s, base(s, dir, binary),
          querySet(emb), k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("hamming"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    "sim_ann_binary_indexed_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.probeIvfIndexBinary(s,
        base(s, dir, binary), querySet(emb), k = recallK, nProbe = 2))
    }),

    "sim_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.lshTopK(querySet(emb), emb, k = 3, bits = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // int8-quantized brute force: 4× less corpus bandwidth, exact
    // integer scoring — the compressed-corpus trade audited below
    "sim_quantized_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.quantizedTopK(querySet(emb), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // k-means assignment as its own op: the semantic-partitioning step
    // (cluster-balanced sampling, semantic dedup) — K~√N like IVF
    "sim_cluster_assignments" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // quantizer hoisted from the shared IVF epoch (same K/iters —
      // identical centroids, see VectorOps hoisted-forms note)
      VectorOps.kmeansAssignWith(s.table(s"${base(s, dir, ivf)}_cents"), emb)
        .orderBy(col("vec_id"))
    }),

    // clustering-quality audit: SIMPLIFIED silhouette per cluster
    // (distance to own vs second-nearest centroid — the O(n) form; the
    // full pairwise silhouette is the O(n²) that doesn't scale), ppm
    // integer means. The audit that decides whether the k-means
    // partition is crisp enough to serve IVF probes / balanced samples
    "sim_cluster_silhouette" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.clusterSilhouetteWith(
          s.table(s"${base(s, dir, ivf)}_cents"), emb)
        .orderBy(col("cluster_id"))
    }),

    // IVF-SQ8: float coarse quantizer, int8 inverted lists (4× less
    // probe bandwidth), exact-integer candidate scoring
    "sim_ann_ivf_sq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.ivfTopKSq8With(s.table(s"${base(s, dir, ivf)}_cents"),
          querySet(emb), emb, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // SQ8's recall audit: how much the int8 lists cost vs exact float
    // brute force (same shared recall tail as the other ANN paths)
    "sim_ann_ivf_sq8_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.ivfTopKSq8With(
        s.table(s"${base(s, dir, ivf)}_cents"),
        querySet(emb), emb, k = recallK, nProbe = 2))
    }),

    // PQ-ADC ANN: m=8 sub-codebooks of 64 centroids — corpus vectors
    // score through m one-byte codes (32× payload cut vs float, vs
    // SQ8's 4×); the query side stays exact (asymmetric distance).
    // The Lloyd training is hoisted into the shared PQ epoch's
    // codebooks leaf (VERDICT r19 #2 — it was this entry's dominant
    // warm cost); encode + scoring still run over the raw corpus,
    // keeping this the unpersisted form next to `sim_ann_pq_indexed`.
    "sim_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.pqTopKHoisted(s, base(s, dir, pq), querySet(emb), emb,
          k = 3)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the persisted-index form of sim_ann_pq: train + whole-corpus
    // encode amortize into the epoch write; the gated probe reads ONLY
    // the 32×-compressed code rows + the KB codebooks. Must hash-match
    // sim_ann_pq exactly (same oracle SQL).
    "sim_ann_pq_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probePqIndex(s, base(s, dir, pq), querySet(emb), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // per-subspace quantization-DISTORTION audit of the PQ epoch: MSE
    // between each corpus subvector and its assigned sub-centroid —
    // the codebook-FIT monitor next to the retrain_check's list-skew
    // monitor (rising distortion in a subspace says its codebook no
    // longer describes the data; recall audits see the symptom, this
    // sees the cause). floor(1e6)-quantized per row before the integer
    // mean; one scan + KB broadcast; m rows out.
    "sim_pq_distortion" -> ((s, dir) => {
      VectorOps.pqDistortion(s, base(s, dir, pq),
        Tables.embeddings(s, dir))
    }),

    // PQ's recall audit: what the 32× compression costs vs exact float
    // brute force (same shared recall tail as every approximate path);
    // audited through the SERVED index probe — the form a deployment
    // actually monitors
    "sim_ann_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.probePqIndex(s, base(s, dir, pq), querySet(emb),
          k = recallK))
    }),

    // ADC shortlist + exact re-rank — the production PQ serving shape:
    // codes rank the whole corpus, floats are read only for the
    // per-query shortlist survivors (point lookups, not a scan)
    "sim_ann_pq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probePqIndexRerank(s, base(s, dir, pq), querySet(emb),
          emb, k = 3, shortlist = 32)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the rerank form's recall audit: bounded by "true neighbor in the
    // ADC top-32", not "in the ADC top-3" — what the shortlist buys
    "sim_ann_pq_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.probePqIndexRerank(s, base(s, dir, pq),
        querySet(emb), emb, k = recallK, shortlist = 32))
    }),

    // how much ranking the quantization costs vs exact float cosine
    "sim_quantized_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.quantizedTopK(querySet(emb), emb, k = recallK))
    }),

    "sim_cosine_neardup" -> ((s, dir) => {
      VectorOps.cosineNearDupPairs(dupVectors(Tables.embeddings(s, dir)),
          threshold = 0.995, bucketCol = "label")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SEMANTIC dedup (SemDeDup form): k-means partitions as the pairing
    // buckets instead of the label column — the DISCOVERED semantic
    // structure replaces the given one — then keep-lowest survivor
    // selection; the injected twins (vec_id >= 100000) land in their
    // original's cluster and drop, every original survives. The
    // FROZEN-quantizer form: the session's IVF epoch already trained
    // centroids over the originals, so the per-run cost is one
    // broadcast-assign + in-cell pairing, zero training jobs
    "dedup_semantic" -> ((s, dir) => {
      val cents = s.table(base(s, dir, ivf) + "_cents")
      VectorOps.semanticDedupFrozen(dupVectors(Tables.embeddings(s, dir)),
          cents, threshold = 0.995)
        .orderBy(col("vec_id"))
    }),

    // ingestion-shaped embedding near-dup: the injected dup vectors
    // (vec_id >= 100000) are the arriving batch, the originals the
    // corpus — cross pairs only, corpus never shuffles (the batch side
    // broadcasts; IncrementalCosineSpec asserts zero exchanges in the
    // operator plan)
    "sim_cosine_incremental" -> ((s, dir) => {
      val all = dupVectors(Tables.embeddings(s, dir))
      VectorOps.cosineIncrementalPairs(
          all.filter(col("vec_id") < 100000),
          all.filter(col("vec_id") >= 100000),
          threshold = 0.995, bucketCol = "label")
        .orderBy(col("new_id"), col("old_id"))
    }),

    // IVF-style ANN: coarse-quantizer inverted lists + nProbe probing —
    // the second classic ANN scale path (complementary recall trade to
    // the sign-LSH buckets). Centroids are Lloyd-trained (2 iterations,
    // VERDICT r4 #2) with K derived ~√N ([[ivfK]], VERDICT r6 #5) — the
    // oracle mirrors the identical deterministic iterations and the K
    // derivation via centTrainSql(ivfKSql).
    "sim_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.ivfTopKWith(s.table(s"${base(s, dir, ivf)}_cents"),
          querySet(emb), emb, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // HARD-NEGATIVE mining for contrastive retrieval training: per
    // query, probed-cell candidates whose exact cosine lands in
    // [0.30, 0.90) — semantically confusable but NOT a positive (a
    // near-match mined as a negative poisons the loss). Same probe
    // plan as sim_ann_ivf with the band filter between scoring and
    // ranking; under-filled queries are honest, never padded
    "sim_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.ivfHardNegativesWith(s.table(s"${base(s, dir, ivf)}_cents"),
          querySet(emb), emb, k = 5, nProbe = 4,
          loCos = 0.30, hiCos = 0.90)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the persisted-index form of sim_ann_ivf: the epoch write happens
    // once per (session, dir) via [[base]]; the gated query (and
    // its bench number) measures the per-batch PROBE, which reads ONLY
    // the nProbe probed lists from the partitioned index (dynamic
    // partition pruning — IvfIndexSpec asserts the plan + files-read).
    // Must hash-match sim_ann_ivf exactly (same oracle SQL).
    "sim_ann_ivf_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfIndex(s, base(s, dir, ivf), querySet(emb),
          k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the persisted-index form of sim_ann_ivf_sq8: int8 codes served
    // from partitionBy(list_id) parquet — the probe reads nProbe/K of
    // the partitions AND a quarter of the bytes per row. Must
    // hash-match the in-memory SQ8 pass (same oracle SQL).
    "sim_ann_ivf_sq8_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfIndexSq8(s, base(s, dir, sq8), querySet(emb),
          k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // METADATA-FILTERED ANN (the production "vector search with
    // attribute filter"): neighbors restricted to the query's own
    // label BEFORE the top-k rank (post-filtering would under-fill k —
    // the classic filtered-ANN mistake); candidate labels join the
    // DPP-pruned probed subset only
    "sim_ann_ivf_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfIndexFiltered(s, base(s, dir, ivf),
          querySet(emb), emb, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),
    // ...its recall audit against the LABEL-RESTRICTED exact top-3
    // (r18 — the filtered paths were the two approximate probes without
    // one; auditing vs the unfiltered truth would count forbidden
    // neighbors as misses)
    "sim_ann_ivf_filtered_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      filteredRecallAudit(emb,
        VectorOps.probeIvfIndexFiltered(s, base(s, dir, ivf),
          querySet(emb), emb, k = recallK, nProbe = 4))
    }),

    // index MONITORING: per-list sizes of the persisted IVF index — the
    // imbalance signal that tells an operator when centroid drift
    // warrants retraining (appends concentrate in few lists → probe
    // cost skews). Scans only the partition column + counts, so at
    // corpus scale the cost is near-metadata; gated against the shared
    // k-means assignment CTEs, so the persisted layout provably matches
    // the in-memory partitioning.
    "sim_ann_ivf_stats" -> ((s, dir) => {
      s.table(s"${base(s, dir, ivf)}_lists")
        .groupBy(col("list_id")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("list_id"))
    }),

    // IVF-PQ: the coarse quantizer's nProbe/K list cut COMPOUNDED with
    // PQ's 32× code compression — the billion-scale composite layout
    // (FAISS IndexIVFPQ, by_residual=false). Scores are bit-identical
    // to flat PQ over the probed lists' candidate set. Both quantizer
    // trainings hoisted into the shared IVF-PQ epoch (VERDICT r19 #2);
    // assignment + encode + fold still run over the raw corpus,
    // keeping this the unpersisted form next to `sim_ann_ivfpq_indexed`.
    "sim_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.ivfPqTopKHoisted(s, base(s, dir, ivfPq), querySet(emb),
          emb, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the persisted form: both trainings + assignment + encode amortize
    // into the epoch write; the gated probe reads ONLY the probed
    // lists' code partitions (DPP — IvfPqSpec asserts files-read) and
    // must hash-match sim_ann_ivfpq exactly (same oracle SQL)
    "sim_ann_ivfpq_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfPqIndex(s, base(s, dir, ivfPq), querySet(emb),
          k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // the composite's recall audit (every approximate path carries
    // one), through the SERVED probe at nProbe=2 — what the two stacked
    // approximations (list cut × code quantization) cost vs exact
    // brute force
    "sim_ann_ivfpq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.probeIvfPqIndex(s, base(s, dir, ivfPq), querySet(emb),
          k = recallK, nProbe = 2))
    }),

    // the composite's full production serving shape: coarse prune →
    // code rank → EXACT float re-rank of the per-query shortlist-32
    // survivors (point reads, never a scan)
    "sim_ann_ivfpq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfPqIndexRerank(s, base(s, dir, ivfPq), querySet(emb),
          emb, k = 3, shortlist = 32, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // its recall audit at nProbe=2: what the two pruning layers
    // (list cut × ADC shortlist) cost once ranking precision is exact
    "sim_ann_ivfpq_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.probeIvfPqIndexRerank(s, base(s, dir, ivfPq),
          querySet(emb), emb, k = recallK, shortlist = 32, nProbe = 2))
    }),

    // RESIDUAL encoding (by_residual=true): the m codes quantize each
    // vector's displacement from its list centroid instead of the raw
    // vector — the standard recall-per-byte win; the per-(query, list)
    // LUT pays nProbe× more KB-sized broadcast rows for it. The recall
    // audit quantifies the gain vs the non-residual layout on the same
    // corpus.
    "sim_ann_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfPqResidualIndex(s, base(s, dir, ivfPqRes),
          querySet(emb), k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    "sim_ann_ivfpq_residual_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.probeIvfPqResidualIndex(s, base(s, dir, ivfPqRes),
          querySet(emb), k = recallK, nProbe = 2))
    }),

    // the residual family's production serving composition: residual
    // codes rank, floats re-score the per-query shortlist-32 survivors
    // exactly — recall then bounded by "truth in the residual-ADC
    // top-32", audited below
    "sim_ann_ivfpq_residual_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.probeIvfPqResidualIndexRerank(s,
          base(s, dir, ivfPqRes), querySet(emb), emb, k = 3,
          shortlist = 32, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    "sim_ann_ivfpq_residual_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.probeIvfPqResidualIndexRerank(s,
          base(s, dir, ivfPqRes), querySet(emb), emb,
          k = recallK, shortlist = 32, nProbe = 2))
    }),

    // weighted score-level fusion over the same two legs — the
    // magnitude-preserving alternative to RRF (min-max normalize each
    // leg's scores, 70/30 convex combination); the ANN leg's rounded
    // cosine quantizes to floor(1e6·cos) so both legs fuse as integers
    "hybrid_search_weighted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val lex = graft.operators.SearchOps.searchBm25Any(
          s, TextQueries.searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 20)
        .select(col("doc_id"), col("score"))
      val sem = VectorOps.probeIvfIndex(s, base(s, dir, ivf),
          emb.filter(col("vec_id") === 0), k = 20, nProbe = 4)
        .select(col("neighbor_id").as("doc_id"),
          floor(col("cos_sim") * lit(1000000.0)).cast("long").as("score"))
      graft.operators.SearchOps.weightedFuse(Seq((lex, 70), (sem, 30)), k = 10)
        .orderBy(col("rk"))
    }),

    // the BATCH form of weighted fusion: each of the 10 query docs
    // min-max-normalizes BOTH legs over its own candidate list (the
    // per-query window — one query's score range can't contaminate
    // another's) before the 70/30 integer combination; 10 independent
    // k-row folds, the serving-batch shape
    "hybrid_search_weighted_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qids = querySet(emb).select(col("vec_id").as("query_id"))
      val lex = graft.operators.SearchOps.searchBm25Any(
          s, TextQueries.searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 20)
        .select(col("doc_id"), col("score"))
        .crossJoin(broadcast(qids))
      val sem = VectorOps.probeIvfIndex(s, base(s, dir, ivf),
          querySet(emb), k = 20, nProbe = 4)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          floor(col("cos_sim") * lit(1000000.0)).cast("long").as("score"))
      graft.operators.SearchOps.weightedFusePerQuery(
          Seq((lex, 70), (sem, 30)), k = 10)
        .orderBy(col("query_id"), col("rk"))
    }),

    // the BATCH form of hybrid fusion: each of the 10 query docs fuses
    // its own semantic top-20 with the (query-independent) lexical
    // top-20 — the global-keyword-boost pattern — through the
    // per-query window, 10 independent k-row folds instead of one
    // global sort. The fusion is partitioned exactly how a serving
    // batch would run it
    "hybrid_search_rrf_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qids = querySet(emb).select(col("vec_id").as("query_id"))
      val lex = graft.operators.SearchOps.searchBm25Any(
          s, TextQueries.searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 20)
        .select(col("doc_id"), col("rk"))
        .crossJoin(broadcast(qids))
      val sem = VectorOps.probeIvfIndex(s, base(s, dir, ivf),
          querySet(emb), k = 20, nProbe = 4)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rk"))
      graft.operators.SearchOps.rrfFusePerQuery(Seq(lex, sem), k = 10)
        .orderBy(col("query_id"), col("rk"))
    }),

    // hybrid retrieval: the BM25 lexical top-20 (disjunctive, served
    // from the standing search index) fused with the semantic top-20
    // (doc 0's embedding probed against the standing IVF index —
    // vec_id IS doc_id in the fixture) by reciprocal-rank fusion.
    // Both legs are the indexes' own gated rankings; the fusion adds
    // one k-sized integer fold on top
    "hybrid_search_rrf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val lex = graft.operators.SearchOps.searchBm25Any(
          s, TextQueries.searchIndexFor(s, dir),
          terms = Seq("spark", "vector", "window"), k = 20)
        .select(col("doc_id"), col("rk"))
      val sem = VectorOps.probeIvfIndex(s, base(s, dir, ivf),
          emb.filter(col("vec_id") === 0), k = 20, nProbe = 4)
        .select(col("neighbor_id").as("doc_id"), col("rk"))
      graft.operators.SearchOps.rrfFuse(Seq(lex, sem), k = 10)
        .orderBy(col("rk"))
    }),

    // LEXICAL-ensemble RRF (r19): BM25 and Dirichlet-QLD rank the same
    // bucket-pruned postings with structurally different sums (present
    // terms vs dense smoothed grid) — fusing their RANKS is the
    // calibration-free way to combine them, same k0 = 60 integer fold
    // as the lexical+semantic hybrid
    "hybrid_qld_rrf" -> ((s, dir) => {
      val idx = TextQueries.searchIndexFor(s, dir)
      val terms = Seq("spark", "vector", "window")
      val lex = graft.operators.SearchOps.searchBm25Any(s, idx, terms, k = 20)
        .select(col("doc_id"), col("rk"))
      val qld = graft.operators.SearchOps.searchQld(s, idx, terms, k = 20)
        .select(col("doc_id"), col("rk"))
      graft.operators.SearchOps.rrfFuse(Seq(lex, qld), k = 10)
        .orderBy(col("rk"))
    }),

    // RANK-BIASED OVERLAP (Webber, Moffat & Zobel, TOIS 2010) between
    // the same two lexical rankings Kendall-τ compares — but
    // TOP-WEIGHTED: τ treats a swap at rank 19 like one at rank 1;
    // RBO's geometric weights (p = 0.9) make the head dominate, which
    // is what a user-facing ranking cares about. Truncated form:
    // Σ_{d≤k} (1−p)·p^(d−1)·|A_d ∩ B_d|/d, each depth's weight
    // precomputed in Scala as an integer-e9 literal shared VERBATIM
    // by both engines (no runtime pow — float pow parity never has to
    // hold); overlaps from one k²-bounded depth-grid join.
    "hybrid_rank_rbo" -> ((s, dir) => {
      val k = 20
      val wts = (1 to k).map(d =>
        d -> math.floor(1e9 * 0.1 * math.pow(0.9, d - 1)).toLong).toMap
      val idx = TextQueries.searchIndexFor(s, dir)
      val terms = Seq("spark", "vector", "window")
      val lex = graft.operators.SearchOps.searchBm25Any(s, idx, terms, k)
        .select(col("doc_id"), col("rk").as("rl"))
      val qld = graft.operators.SearchOps.searchQld(s, idx, terms, k)
        .select(col("doc_id"), col("rk").as("rq"))
      val pairs = lex.join(qld, Seq("doc_id"))
      val depths = s.range(1, k + 1).select(col("id").as("d"))
      val wCase = wts.toSeq.sortBy(_._1)
        .map { case (d, w) => s"WHEN d = $d THEN CAST($w AS BIGINT)" }
        .mkString("CASE ", " ", " END")
      broadcast(depths)
        .join(pairs, col("rl") <= col("d") && col("rq") <= col("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("overlap"))
        .select(col("d"), col("overlap"),
          expr(s"($wCase) * overlap div d").as("term_e9"))
        .agg(count(lit(1)).as("n_depths"),
          sum(col("term_e9")).as("rbo_e9"))
    }),

    // EMBEDDING NORM AUDIT: per-label distribution of squared L2 norms
    // — the cheap detector for norm collapse / scale drift after a
    // re-embed (a label whose norms flatline or shift is the first
    // symptom of a bad encoder rollout; cosine serving hides it
    // because it normalizes). Each row's norm² is one LEFT-TO-RIGHT
    // `aggregate` fold over its own vector (deterministic double,
    // mirrored by DuckDB's list_reduce — and 0.0 + x₁² ≡ x₁² exactly
    // in IEEE, so the differing fold seeds agree), quantized
    // round(1e6·…) per row BEFORE the integer min/max/mean fold.
    "sim_norm_audit" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), expr(
          """CAST(round(1000000 * aggregate(embedding,
            |CAST(0.0 AS DOUBLE),
            |(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
            |AS BIGINT)""".stripMargin).as("nq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("nq")).as("min_nsq_e6"),
          max(col("nq")).as("max_nsq_e6"),
          expr("sum(nq) div count(1)").as("mean_nsq_e6"))
        .orderBy(col("label"))
    }),

    // LABEL MARGIN AUDIT (r20): per label, the mean cosine to
    // same-label vectors vs other-label vectors and their gap — the
    // "are these labels even separable in embedding space?" number
    // that upper-bounds any classifier trained on them (margin ≈ 0 ⇒
    // the label carries no geometric signal; the filtered-ANN recall
    // entries' label partitioning assumes it is > 0). Per-pair cosine
    // from exact quantized-integer dots/norms via one double
    // expression, quantized round(1e6·cos) + 1e6 per pair BEFORE the
    // integer mean — no order-dependent double summation, and the
    // +1e6 offset keeps the mean's numerator non-negative so Spark's
    // truncating div ≡ DuckDB's floor div (the r14 convention trap;
    // inter-label mean cosine is routinely negative). All-pairs here
    // (oracle-able at fixture scale); at corpus scale the same
    // statistic runs on a per-label sample or the ANN shortlists.
    "sim_label_margin_audit" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        expr("""transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))""").as("qe"))
        .select(col("vec_id"), col("label"), col("qe"),
          expr("""aggregate(qe, CAST(0 AS BIGINT),
            (a, v) -> a + v * v)""").as("nsq"))
      val pairs = q.as("a").join(q.as("b"),
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.label").as("la"), col("b.label").as("lb"),
          expr("""CAST(round(1000000.0
            * CAST(aggregate(zip_with(a.qe, b.qe, (x, y) -> x * y),
                CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)
            / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))))
            AS BIGINT) + 1000000""").as("c6"))
      // each unordered pair contributes to BOTH endpoints' labels —
      // an intra pair therefore lands TWICE on its label (n_intra is
      // the ORDERED pair count n_l·(n_l−1)); the means are unaffected
      val sym = pairs.select(col("la").as("label"), col("lb").as("other"),
          col("c6"))
        .unionAll(pairs.select(col("lb").as("label"), col("la").as("other"),
          col("c6")))
      sym.groupBy(col("label"))
        .agg(sum(when(col("label") === col("other"), 1L).otherwise(0L))
            .as("n_intra"),
          sum(when(col("label") === col("other"), col("c6"))).as("si"),
          sum(when(col("label") =!= col("other"), 1L).otherwise(0L))
            .as("n_inter"),
          sum(when(col("label") =!= col("other"), col("c6"))).as("sx"))
        .select(col("label"), col("n_intra"),
          expr("si div n_intra - 1000000").as("intra_cos_e6"),
          col("n_inter"),
          expr("sx div n_inter - 1000000").as("inter_cos_e6"),
          expr("si div n_intra - sx div n_inter").as("margin_e6"))
        .orderBy(col("label"))
    }),

    // INTRINSIC DIMENSIONALITY (r20): the two-NN MLE estimator (Facco
    // et al., Scientific Reports 2017) — id = 2/mean(ln(r₂/r₁)) over
    // each point's two nearest neighbors; with SQUARED distances
    // ln(d₂²/d₁²) = 2·ln(r₂/r₁), so id = 4/mean(ln(d₂²/d₁²)). The
    // "how many dimensions does this embedding actually use?" audit —
    // id ≪ d means the encoder collapsed into a subspace, id ≈ d is
    // healthy spread. Exact-integer geometry end to end: components
    // quantized floor(x·1e3), d² = ‖a‖² + ‖b‖² − 2⟨a,b⟩ from long
    // folds, the ln quantized floor(1e6·ln) per point (the *_logprob
    // discipline). Duplicate points (d₁² = 0) are excluded — their
    // ratio is undefined. Brute-force 2-NN here (oracle-able); at
    // corpus scale the ANN shortlist supplies (d₁, d₂) instead.
    //
    // Perf (r20, guide §2.4/§4): the n² pair pass runs on the STREAM
    // side of a BroadcastNestedLoopJoin, and the small parquet scans
    // in ONE task — the whole quadratic kernel (fold + the window's
    // local sort) was single-threaded (41 s warm at sf0.1).
    // Repartitioning the stream side to defaultParallelism spreads it
    // across cores (scale-adaptive — no constant), and the per-pair
    // fold routes through the codegen'd graft_dot_i on int-quantized
    // components instead of the interpreted zip_with/aggregate HOF
    // chain. floor(x·1e3) ∈ [−1001, 1000] fits int exactly, and both
    // dots are the same exact integer sums, so dsq — and the gated
    // output — is bit-identical (41 s → 0.5 s warm; plans/r20).
    "sim_intrinsic_dim" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("""transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS INT))""").as("qe"))
        .select(col("vec_id"), col("qe"),
          expr("graft_dot_i(qe, qe)").as("nsq"))
      val pairs = q.repartition(s.sparkContext.defaultParallelism).as("a")
        .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
          (col("a.nsq") + col("b.nsq") - lit(2) *
            expr("graft_dot_i(a.qe, b.qe)")).as("dsq"))
      val rk = pairs.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("dsq"), col("nid"))))
        .filter(col("rk") <= 2)
      rk.groupBy(col("qid"))
        .agg(max(when(col("rk") === 1, col("dsq"))).as("d1"),
          max(when(col("rk") === 2, col("dsq"))).as("d2"))
        .filter(col("d1") > 0)
        .select(expr("""CAST(floor(1000000.0
          * ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE))) AS BIGINT)""")
          .as("li"))
        .agg(count(lit(1)).as("n_points"), sum(col("li")).as("sum_ln_ppm"))
        .select(col("n_points"),
          expr("sum_ln_ppm div n_points").as("mean_ln_ppm"),
          expr("4000000000 div (sum_ln_ppm div n_points)").as("id_x1000"))
    }),

    // PAIRWISE COS² HISTOGRAM (r20): the embedding-space SPREAD audit —
    // signed-cos² between consecutive-id vector pairs, bucketed into
    // 20 bands. A healthy embedding space puts most random-pair mass
    // near 0; representation collapse (every vector pointing one way —
    // the degenerate-encoder failure) piles the mass into the top
    // band, anisotropy shows as a shifted mode. Components quantized
    // floor(x·1e3) BIGINT first; the per-pair fold is a long zip_with
    // sum (values < 2⁵³, so the oracle's double list_dot_product is
    // exact); sqrt-free signed-cos² like the split check; the bucket
    // index is offset by +1e6 before the div so both engines divide
    // non-negatives. Consecutive ids, not a self-join: n−1 pairs, one
    // shifted-key join.
    "sim_pair_cos2_histogram" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("""transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))""").as("qe"))
      q.as("a").join(q.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .select(
          expr("""aggregate(zip_with(a.qe, b.qe, (x, y) -> x * y),
            CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("dot"),
          expr("""aggregate(a.qe, CAST(0 AS BIGINT),
            (acc, v) -> acc + v * v)""").as("na"),
          expr("""aggregate(b.qe, CAST(0 AS BIGINT),
            (acc, v) -> acc + v * v)""").as("nb"))
        .select(expr("""(CASE WHEN dot < 0 THEN -1 ELSE 1 END
          * CAST((CAST(dot AS DECIMAL(38,0)) * dot * 1000000)
            div (na * nb) AS BIGINT) + 1000000) div 100000""").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bucket"))
    }),

    // SPLIT CENTROID CHECK (r20): the embedding-space twin of
    // pipeline_split_leakage — split the corpus by vec_id parity and
    // ask, per label, whether the two halves' centroids point the same
    // way. A balanced split has signed-cos² ≈ 1e6 per label; a split
    // that accidentally separated a label's modes (the train/val skew
    // that poisons eval) collapses it. Components quantized to
    // floor(x·1e3) BIGINTs FIRST (the sim_dim_stats discipline), so
    // centroid sums, dot and norms are exact integers; cosine is
    // scale-invariant so the per-half means are never divided —
    // cos(mean_a, mean_b) = cos(sum_a, sum_b). The sqrt-free report is
    // sign(dot)·dot²·1e6 div (‖a‖²·‖b‖²) — integer-exact end to end
    // (dot ≤ dims·(n·1e3·0.6)² keeps dot²·1e6 inside DECIMAL(38,0) to
    // ~3e5 vectors/label/half at d=64; shrink the quantization scale
    // to widen). One posexplode → (label, half, dim) agg → label fold.
    "sim_split_centroid_check" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("half"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") * lit(1000.0)).cast("long").as("xq"))
        .groupBy(col("label"), col("half"), col("dim"))
        .agg(sum(col("xq")).as("sq"))
      val a = q.filter(col("half") === 0)
        .select(col("label"), col("dim"), col("sq").as("sa"))
      val b = q.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("sq").as("sb"))
      val nv = Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(sum(expr("CAST(sa AS DECIMAL(38,0)) * sb")).as("dot"),
          sum(expr("CAST(sa AS DECIMAL(38,0)) * sa")).as("na"),
          sum(expr("CAST(sb AS DECIMAL(38,0)) * sb")).as("nb"))
        .join(broadcast(nv), Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          expr("""CASE WHEN dot < 0 THEN -1 ELSE 1 END
            * ((dot * dot * 1000000) div (na * nb))""")
            .cast("long").as("cos2_signed_ppm"))
        .orderBy(col("label"))
    }),

    // KENDALL-τ RANK AGREEMENT between the two lexical scorers (r19):
    // how much do BM25 and QLD actually disagree about order? τ_a over
    // the INTERSECTION of their top-20s — concordant minus discordant
    // pairs in exact ppm (row_number ranks are tie-free, so no tie
    // correction; the pair grid is k²-bounded). Negative τ is real,
    // hence the portable floor-div. The ensemble diagnostic that says
    // whether RRF fusion adds signal (τ ≪ 1) or redundancy (τ ≈ 1).
    "hybrid_rank_kendall" -> ((s, dir) => {
      val idx = TextQueries.searchIndexFor(s, dir)
      val terms = Seq("spark", "vector", "window")
      val lex = graft.operators.SearchOps.searchBm25Any(s, idx, terms, k = 20)
        .select(col("doc_id"), col("rk").as("rl"))
      val qld = graft.operators.SearchOps.searchQld(s, idx, terms, k = 20)
        .select(col("doc_id"), col("rk").as("rq"))
      val common = lex.join(qld, Seq("doc_id"))
      common.as("a").join(common.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select((((col("a.rl") - col("b.rl")) *
          (col("a.rq") - col("b.rq"))) > 0).as("conc"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("conc"), 1L).otherwise(0L)).as("concordant"),
          sum(when(!col("conc"), 1L).otherwise(0L)).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          expr("""CASE WHEN n_pairs = 0 THEN NULL ELSE
            |(((concordant - discordant) * 1000000) -
            |  (((((concordant - discordant) * 1000000) % n_pairs)
            |    + n_pairs) % n_pairs)) div n_pairs END""".stripMargin)
            .as("tau_e6"))
    }),

    // the indexed SQ8 probe's recall audit (every approximate path in
    // the repo carries one) — nProbe=2 like the other recall entries
    "sim_ann_ivf_sq8_indexed_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.probeIvfIndexSq8(s, base(s, dir, sq8),
        querySet(emb), k = recallK, nProbe = 2))
    }),

    // same recall audit for the IVF path: nProbe=2 of ~√N lists, so the
    // per-query candidate cut (and its recall cost) is visible
    "sim_ann_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.ivfTopKWith(s.table(s"${base(s, dir, ivf)}_cents"),
          querySet(emb), emb, k = recallK, nProbe = 2))
    }),

    // multi-probe LSH: the query probes its own bucket plus the 4
    // single-bit-flip neighbors — candidate set 5/16 of the corpus
    // instead of 1/16, the standard recall-for-probes trade (vs adding
    // hash tables). Fan-out stays on the broadcast query side
    "sim_ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.lshMultiProbeTopK(querySet(emb), emb, k = 3, bits = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // ...and its recall audit next to the single-probe one — the pair
    // makes the probes-for-recall trade measurable
    "sim_ann_lsh_multiprobe_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb,
        VectorOps.lshMultiProbeTopK(querySet(emb), emb, k = recallK, bits = 4))
    }),

    // ANN recall self-audit (VERDICT r1 #7): per-query overlap of the LSH
    // top-k with the exact brute-force top-k — makes the recall<1 trade
    // measurable instead of asserted. Same k on both sides.
    "sim_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallAudit(emb, VectorOps.lshTopK(querySet(emb), emb, k = recallK, bits = 4))
    })) ++ servedFamilies.flatMap(lifecycleEntries).map {
      case (name, query, _) => name -> query }

  /** DuckDB mirror of [[recallAudit]]: shared brute/hits/recall CTE tail
    * around a path-specific candidate ranking. `preCtes` must define `q`
    * (query_id, qv) plus whatever the ann select needs. */
  private def recallOracleSql(preCtes: String, annSelect: String,
      bruteRel: String = "embeddings"): String =
    s"""WITH $preCtes,
      |brute AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, c2.vec_id AS neighbor_id, row_number() OVER
      |      (PARTITION BY query_id ORDER BY
      |        round(${cosSql("qv", "c2.embedding")}, 6) DESC, c2.vec_id) AS rk
      |    FROM $bruteRel c2 CROSS JOIN q WHERE c2.vec_id <> query_id) b
      |  WHERE rk <= $recallK),
      |ann AS (
      |  SELECT query_id, neighbor_id FROM ($annSelect) a WHERE rk <= $recallK),
      |hits AS (
      |  SELECT brute.query_id, count(*) AS n_hit
      |  FROM brute JOIN ann USING (query_id, neighbor_id)
      |  GROUP BY brute.query_id)
      |SELECT q.query_id, coalesce(hits.n_hit, 0)::BIGINT AS n_hit,
      |  round(coalesce(hits.n_hit, 0) / $recallK.0, 6) AS recall
      |FROM q LEFT JOIN hits ON q.query_id = hits.query_id
      |ORDER BY q.query_id""".stripMargin

  /** The plain-IVF mirror parametrized over the LIST corpus: the coarse
    * quantizer always trains on `embeddings` (the frozen-quantizer
    * contract of the epoch index), but the inverted lists can cover a
    * different relation — `embeddings` for the build-time index,
    * `corpus` (original ∪ appended batch) for the append-maintenance
    * query. One builder so the four IVF mirrors can't drift. */
  private def ivfOracleOver(pre: String, corpusRel: String,
      trainRel: String = "embeddings", kSql: String = ivfKSql): String =
    s"""WITH $pre${centTrainSql(kSql, 2, trainRel)},
      |asg AS (
      |  SELECT vec_id, embedding, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $corpusRel CROSS JOIN cents),
      |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, qv, cid AS list_id FROM (
      |    SELECT query_id, qv, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq WHERE cr <= 4),
      |scored AS (
      |  SELECT query_id, l.vec_id AS neighbor_id,
      |    round(${cosSql("qv", "l.embedding")}, 6) AS cos_sim
      |  FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfOracleSql = ivfOracleOver("", "embeddings")
  private[graft] lazy val ivfAppendOracleSql =
    ivfOracleOver(dupVectorsSql + ",\n", "corpus")

  /** The float IVF recall mirror over [[ivfOracleOver]]'s corpus and
    * training relations: nProbe = 2 candidates vs the brute-force
    * top-k over the same list corpus. */
  private def ivfRecallOracleOver(pre: String, corpusRel: String,
      trainRel: String, kSql: String): String = recallOracleSql(
    preCtes =
      s"""$pre${centTrainSql(kSql, 2, trainRel)},
        |asg AS (
        |  SELECT vec_id, embedding, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
        |  FROM $corpusRel CROSS JOIN cents),
        |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg WHERE cr = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv, cid AS list_id FROM (
        |    SELECT query_id, qv, cid, row_number() OVER
        |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
        |    FROM q CROSS JOIN cents) pq WHERE cr <= 2)""".stripMargin,
    annSelect =
      s"""SELECT query_id, l.vec_id AS neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY
        |        round(${cosSql("qv", "l.embedding")}, 6) DESC, l.vec_id) AS rk
        |    FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id""".stripMargin,
    bruteRel = corpusRel)

  /** Appended-generation recall: the FROZEN quantizer (trained on the
    * originals), lists and brute truth over the union corpus. */
  private[graft] lazy val ivfAppendRecallOracleSql = ivfRecallOracleOver(
    dupVectorsSql + ",\n", "corpus", "embeddings", ivfKSql)

  /** Compaction-verdict mirror over the delete epoch: the corpus plus
    * the ten poison twins, `rowsPerVector` index rows each (one list or
    * prefix row, or m code rows); the tombstones are the twins — ~1‰,
    * so the verdict's FALSE branch is what this gates. */
  private def compactionCheckOracleSql(rowsPerVector: Int): String = {
    val rows = if (rowsPerVector == 1) "n + t" else s"(n + t) * $rowsPerVector"
    s"""WITH e AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      |q AS (SELECT CAST(count(*) AS BIGINT) AS t FROM embeddings
      |  WHERE vec_id < 10)
      |SELECT $rows AS n_rows, t AS n_tombstoned,
      |  t * 1000 // ($rows) AS tombstone_frac_x1000,
      |  (t * 1000 // ($rows) >= 50 OR t >= 1000000) AS compact
      |FROM e, q""".stripMargin
  }

  /** The SQ8 twin of [[ivfOracleOver]]: one mirror for the in-memory
    * pass, the persisted index, AND the append-maintenance query —
    * shared assignment/probe/quantize/rank semantics, so one builder
    * gates three plans. */
  private def ivfSq8OracleOver(pre: String, corpusRel: String,
      trainRel: String = "embeddings", kSql: String = ivfKSql): String =
    s"""WITH $pre${centTrainSql(kSql, 2, trainRel)},
      |asg AS (
      |  SELECT vec_id, embedding, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $corpusRel CROSS JOIN cents),
      |lists AS (SELECT cid AS list_id, vec_id, ${quantSql("embedding")} AS qe
      |  FROM asg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, ${quantSql("qv")} AS qq, cid AS list_id FROM (
      |    SELECT query_id, qv, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq WHERE cr <= 4),
      |scored AS (
      |  SELECT query_id, l.vec_id AS neighbor_id,
      |    round(${cosQSql("qq", "l.qe")}, 6) AS cos_sim
      |  FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfSq8OracleSql = ivfSq8OracleOver("", "embeddings")
  private lazy val ivfSq8AppendOracleSql =
    ivfSq8OracleOver(dupVectorsSql + ",\n", "corpus")

  /** The SQ8 recall-audit CTE prefix, parametrized like
    * [[ivfSq8OracleOver]] so the build-time, appended, and retrained
    * generations all mirror through one builder (nProbe=2 int8
    * candidates vs the float brute-force top-k). */
  private def ivfSq8RecallPre(pre: String = "",
      corpusRel: String = "embeddings", trainRel: String = "embeddings",
      kSql: String = ivfKSql): String =
    s"""$pre${centTrainSql(kSql, 2, trainRel)},
      |sasg AS (
      |  SELECT vec_id, embedding, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $corpusRel CROSS JOIN cents),
      |slists AS (SELECT cid AS list_id, vec_id, ${quantSql("embedding")} AS qe
      |  FROM sasg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |sprobes AS (
      |  SELECT query_id, ${quantSql("qv")} AS qq, cid AS list_id FROM (
      |    SELECT query_id, qv, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq WHERE cr <= 2)""".stripMargin

  private val ivfSq8RecallAnnSelect =
    s"""SELECT query_id, l.vec_id AS neighbor_id, row_number() OVER
      |      (PARTITION BY query_id ORDER BY
      |        round(${cosQSql("qq", "l.qe")}, 6) DESC, l.vec_id) AS rk
      |    FROM slists l JOIN sprobes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id""".stripMargin

  /** Likewise one SQ8 recall mirror for the in-memory and indexed
    * probes. */
  private lazy val ivfSq8RecallOracleSql = recallOracleSql(
    preCtes = ivfSq8RecallPre(), annSelect = ivfSq8RecallAnnSelect)

  /** The sample-train cap threaded through BOTH engines (Spark
    * `trainLimit` and the oracle's `tsv` filter): codebooks train on
    * `vec_id < 16384`, the whole corpus encodes. */
  private val pqTrainLimit = 16384L

  private def pqL2Sql(a: String, b: String): String =
    s"(list_dot_product($a::DOUBLE[], $a::DOUBLE[]) - " +
      s"2 * list_dot_product($a::DOUBLE[], $b::DOUBLE[]) + " +
      s"list_dot_product($b::DOUBLE[], $b::DOUBLE[]))"

  /** DuckDB mirror of [[VectorOps.pqTrainCodebooks]] + the shared
    * encode CTE: subvector slicing (1-based inclusive list slices =
    * Spark's `slice(v, s·dsub+1, dsub)`), L2² assignment through three
    * list_dot_product folds with `round(…,6)` + lowest-cid ties, and
    * the `floor(x·1e6)` integer-mean update — the same cross-engine
    * determinism discipline as [[centTrainSql]]. Ends with `pcents`
    * (s, cid, cv) and leaves `sv` (vec_id, s, v) in scope for the
    * encode CTE. */
  private def pqTrainSql(m: Int, ksub: Int, iters: Int, dsub: Int,
      trainLimit: Long, rel: String = "embeddings"): String = {
    val sv = s"sv AS (SELECT vec_id, t.s AS s, " +
      s"embedding[(t.s*$dsub+1):(t.s*$dsub+$dsub)] AS v " +
      s"FROM $rel, range(0, $m) t(s))"
    // the training sample (vec_id < trainLimit) mirrors
    // VectorOps.pqTrainCodebooks' sample-train/encode-all contract;
    // pcodes (in pqPreCtes) still encodes the FULL sv
    val tsv = s"tsv AS (SELECT * FROM sv WHERE vec_id < $trainLimit)"
    val seed = s"p0 AS (SELECT s, vec_id AS cid, v AS cv FROM tsv WHERE vec_id < $ksub)"
    val steps = (0 until iters).map { i =>
      val next = if (i == iters - 1) "pcents" else s"p${i + 1}"
      s"""pasg$i AS (
        |  SELECT s, cid, v FROM (
        |    SELECT sv.s AS s, sv.v AS v, c.cid AS cid, row_number() OVER
        |      (PARTITION BY sv.vec_id, sv.s ORDER BY round(${pqL2Sql("sv.v", "c.cv")}, 6), c.cid) AS cr
        |    FROM tsv sv JOIN p$i c ON sv.s = c.s) a WHERE cr = 1),
        |$next AS (
        |  SELECT s, cid, list(mm ORDER BY pos) AS cv FROM (
        |    SELECT s, cid, pos, ((sum(q)::BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0))::FLOAT AS mm
        |    FROM (SELECT s, cid, t.pos AS pos, floor((v[t.pos + 1])::DOUBLE * 1000000.0)::BIGINT AS q
        |          FROM pasg$i, range(0, $dsub) t(pos)) ex
        |    GROUP BY s, cid, pos) cm
        |  GROUP BY s, cid)""".stripMargin
    }
    (Seq(sv, tsv, seed) ++ steps).mkString(",\n")
  }

  /** The PQ train+encode+query-LUT CTE prefix shared by the gated ADC
    * ranking and its recall audit (ends with `q`, `pcodes`, `lut` in
    * scope — one builder so the two mirrors cannot drift). `rel`
    * selects the ENCODED corpus; the training sample stays identical
    * either way (the `vec_id < 16384` cap excludes the dup ids), which
    * is exactly the frozen-codebook append contract. */
  private def pqPreCtes(m: Int, ksub: Int, dsub: Int, pre: String = "",
      rel: String = "embeddings"): String =
    s"""$pre${pqTrainSql(m, ksub, 2, dsub, pqTrainLimit, rel = rel)},
      |pcodes AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sv.vec_id AS vec_id, sv.s AS s, c.cid AS cid, row_number() OVER
      |      (PARTITION BY sv.vec_id, sv.s ORDER BY round(${pqL2Sql("sv.v", "c.cv")}, 6), c.cid) AS cr
      |    FROM sv JOIN pcents c ON sv.s = c.s) a WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |qsub AS (SELECT query_id, t.s AS s, qv[(t.s*$dsub+1):(t.s*$dsub+$dsub)] AS qsv,
      |    sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS qnorm
      |  FROM q, range(0, $m) t(s)),
      |lut AS (SELECT query_id, s, cid, qnorm,
      |    floor(list_dot_product(qsv::DOUBLE[], cv::DOUBLE[]) * 1000000000.0)::BIGINT AS qd,
      |    floor(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]) * 1000000000.0)::BIGINT AS n2
      |  FROM qsub JOIN pcents USING (s))""".stripMargin

  /** The flat-PQ union mirror (append maintenance): codes over the
    * union corpus, codebooks frozen (the sample cap makes the training
    * set identical by construction). */
  private lazy val pqAppendOracleSql =
    s"""WITH ${pqPreCtes(8, 64, 8, dupVectorsSql + ",\n", "corpus")},
      |$pqScoredSql,
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val pqAppendRecallOracleSql = recallOracleSql(
    preCtes = s"""${pqPreCtes(8, 64, 8, dupVectorsSql + ",\n", "corpus")},
      |$pqScoredSql""".stripMargin,
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin,
    bruteRel = "corpus")

  private def pqScoredSql: String =
    """scored AS (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    round(((sum(qd)::BIGINT)::DOUBLE / 1000000000.0) /
      |      (max(qnorm) * sqrt((sum(n2)::BIGINT)::DOUBLE / 1000000000.0)), 6) AS cos_sim
      |  FROM pcodes JOIN lut USING (s, cid)
      |  WHERE query_id <> vec_id
      |  GROUP BY query_id, vec_id)""".stripMargin

  private lazy val pqOracleSql =
    s"""WITH ${pqPreCtes(8, 64, 8)},
      |$pqScoredSql,
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  /** The rerank mirror's shared prefix: ADC scores → top-`shortlist`
    * cut → exact cosine over the survivors (`exact` in scope). */
  private def pqRerankCtes: String =
    s"""${pqPreCtes(8, 64, 8)},
      |$pqScoredSql,
      |cand AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS ar
      |    FROM scored) c WHERE ar <= 32),
      |exact AS (
      |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
      |    round(${cosSql("q.qv", "e.embedding")}, 6) AS cos_sim
      |  FROM cand c JOIN q ON q.query_id = c.query_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id)""".stripMargin

  private lazy val pqRerankOracleSql =
    s"""WITH $pqRerankCtes,
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM exact)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val pqRerankRecallOracleSql = recallOracleSql(
    preCtes = pqRerankCtes,
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM exact""".stripMargin)

  private lazy val pqRecallOracleSql = recallOracleSql(
    preCtes = s"""${pqPreCtes(8, 64, 8)},
      |$pqScoredSql""".stripMargin,
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin)

  /** The IVF-PQ mirror: the coarse CTEs of [[ivfOracleOver]] (frozen
    * quantizer always trains on `embeddings`) composed with the PQ
    * train/encode/LUT CTEs — codes encode `corpusRel`, candidates
    * restrict to each query's `nProbe` probed lists, and the ADC fold
    * is the flat-PQ integer sum verbatim. Ends with `q` and `scored`
    * in scope; one builder feeds the gated rankings (build, index,
    * append) AND the recall audit so none can drift. */
  private def ivfPqCtes(pre: String, corpusRel: String, nProbe: Int,
      trainRel: String = "embeddings", kSql: String = ivfKSql): String =
    s"""$pre${centTrainSql(kSql, 2, trainRel)},
      |${pqTrainSql(8, 64, 2, 8, pqTrainLimit)},
      |csv AS (SELECT vec_id, t.s AS s, embedding[(t.s*8+1):(t.s*8+8)] AS v
      |  FROM $corpusRel, range(0, 8) t(s)),
      |pcodes AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sv.vec_id AS vec_id, sv.s AS s, c.cid AS cid, row_number() OVER
      |      (PARTITION BY sv.vec_id, sv.s ORDER BY round(${pqL2Sql("sv.v", "c.cv")}, 6), c.cid) AS cr
      |    FROM csv sv JOIN pcents c ON sv.s = c.s) a WHERE cr = 1),
      |casg AS (
      |  SELECT vec_id, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $corpusRel CROSS JOIN cents),
      |lists AS (SELECT vec_id, cid AS list_id FROM casg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |qsub AS (SELECT query_id, t.s AS s, qv[(t.s*8+1):(t.s*8+8)] AS qsv,
      |    sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS qnorm
      |  FROM q, range(0, 8) t(s)),
      |lut AS (SELECT query_id, s, cid, qnorm,
      |    floor(list_dot_product(qsv::DOUBLE[], cv::DOUBLE[]) * 1000000000.0)::BIGINT AS qd,
      |    floor(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]) * 1000000000.0)::BIGINT AS n2
      |  FROM qsub JOIN pcents USING (s)),
      |probes AS (
      |  SELECT query_id, cid AS list_id FROM (
      |    SELECT query_id, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pr WHERE cr <= $nProbe),
      |scored AS (
      |  SELECT p.query_id AS query_id, pcodes.vec_id AS neighbor_id,
      |    round(((sum(qd)::BIGINT)::DOUBLE / 1000000000.0) /
      |      (max(qnorm) * sqrt((sum(n2)::BIGINT)::DOUBLE / 1000000000.0)), 6) AS cos_sim
      |  FROM pcodes
      |  JOIN lists ON lists.vec_id = pcodes.vec_id
      |  JOIN probes p ON lists.list_id = p.list_id
      |  JOIN lut ON lut.query_id = p.query_id AND lut.s = pcodes.s
      |    AND lut.cid = pcodes.cid
      |  WHERE p.query_id <> pcodes.vec_id
      |  GROUP BY p.query_id, pcodes.vec_id)""".stripMargin

  /** The RESIDUAL IVF-PQ mirror ([[VectorOps.writeIvfPqResidualIndex]]
    * / `probeIvfPqResidualIndex`, FAISS `by_residual=true`): the PQ
    * codebooks train on — and codes quantize — `rsd`, each vector minus
    * its list centroid (`CAST(x::DOUBLE − c::DOUBLE AS FLOAT)` = the
    * Spark side's float subtraction by innocuous double rounding), and
    * the ADC identity shifts by the centroid: with x̂ = c_L + r̂,
    * dot(q,x̂) folds per subspace as dot(qₛ,c_{L,s}) + dot(qₛ,cv) and
    * ‖x̂‖² as ‖c_{L,s}‖² + 2·c_{L,s}·cv + ‖cv‖² — so the LUT keys on
    * (query, LIST, s, cid). Same floor(·1e9) integer fold, same rank.
    * Ends with `q` and `scored` in scope. */
  private def ivfPqResidualCtes(nProbe: Int, pre: String = "",
      corpusRel: String = "embeddings", trainRel: String = "embeddings",
      kSql: String = ivfKSql): String =
    s"""$pre${centTrainSql(kSql, 2, trainRel)},
      |casg AS (
      |  SELECT vec_id, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $corpusRel CROSS JOIN cents),
      |lists AS (SELECT vec_id, cid AS list_id FROM casg WHERE cr = 1),
      |rsd AS (
      |  SELECT e.vec_id AS vec_id,
      |    list_transform(range(1, 65),
      |      i -> CAST(e.embedding[i]::DOUBLE - c.cv[i]::DOUBLE AS FLOAT)) AS embedding
      |  FROM $corpusRel e JOIN lists l ON l.vec_id = e.vec_id
      |  JOIN cents c ON c.cid = l.list_id),
      |${pqTrainSql(8, 64, 2, 8, pqTrainLimit, rel = "rsd")},
      |pcodes AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sv.vec_id AS vec_id, sv.s AS s, c.cid AS cid, row_number() OVER
      |      (PARTITION BY sv.vec_id, sv.s ORDER BY round(${pqL2Sql("sv.v", "c.cv")}, 6), c.cid) AS cr
      |    FROM sv JOIN pcents c ON sv.s = c.s) a WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |qsub AS (SELECT query_id, t.s AS s, qv[(t.s*8+1):(t.s*8+8)] AS qsv,
      |    sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS qnorm
      |  FROM q, range(0, 8) t(s)),
      |probes AS (
      |  SELECT query_id, cid AS list_id FROM (
      |    SELECT query_id, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pr WHERE cr <= $nProbe),
      |cls AS (SELECT cid AS list_id, t.s AS s, cv[(t.s*8+1):(t.s*8+8)] AS csv
      |  FROM cents, range(0, 8) t(s)),
      |lutr AS (
      |  SELECT p.query_id AS query_id, p.list_id AS list_id, qs.s AS s,
      |    pc.cid AS cid, qs.qnorm AS qnorm,
      |    floor((list_dot_product(qs.qsv::DOUBLE[], cls.csv::DOUBLE[]) +
      |      list_dot_product(qs.qsv::DOUBLE[], pc.cv::DOUBLE[])) * 1000000000.0)::BIGINT AS qd,
      |    floor((list_dot_product(cls.csv::DOUBLE[], cls.csv::DOUBLE[]) +
      |      2 * list_dot_product(cls.csv::DOUBLE[], pc.cv::DOUBLE[]) +
      |      list_dot_product(pc.cv::DOUBLE[], pc.cv::DOUBLE[])) * 1000000000.0)::BIGINT AS n2
      |  FROM probes p
      |  JOIN qsub qs ON qs.query_id = p.query_id
      |  JOIN cls ON cls.list_id = p.list_id AND cls.s = qs.s
      |  JOIN pcents pc ON pc.s = qs.s),
      |scored AS (
      |  SELECT l.query_id AS query_id, pcodes.vec_id AS neighbor_id,
      |    round(((sum(l.qd)::BIGINT)::DOUBLE / 1000000000.0) /
      |      (max(l.qnorm) * sqrt((sum(l.n2)::BIGINT)::DOUBLE / 1000000000.0)), 6) AS cos_sim
      |  FROM pcodes
      |  JOIN lists li ON li.vec_id = pcodes.vec_id
      |  JOIN lutr l ON l.list_id = li.list_id AND l.s = pcodes.s
      |    AND l.cid = pcodes.cid
      |  WHERE l.query_id <> pcodes.vec_id
      |  GROUP BY l.query_id, pcodes.vec_id)""".stripMargin

  /** Residual rerank mirror: residual-ADC scores → top-32 shortlist →
    * exact cosine over the survivors (the [[ivfPqRerankCtes]] tail on
    * the residual candidate set). */
  private def ivfPqResidualRerankCtes(nProbe: Int): String =
    s"""${ivfPqResidualCtes(nProbe)},
      |cand AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS ar
      |    FROM scored) c WHERE ar <= 32),
      |exact AS (
      |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
      |    round(${cosSql("q.qv", "e.embedding")}, 6) AS cos_sim
      |  FROM cand c JOIN q ON q.query_id = c.query_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id)""".stripMargin

  private lazy val ivfPqResidualRerankOracleSql =
    s"""WITH ${ivfPqResidualRerankCtes(4)},
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM exact)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfPqResidualRerankRecallOracleSql = recallOracleSql(
    preCtes = ivfPqResidualRerankCtes(2),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM exact""".stripMargin)

  private lazy val ivfPqResidualOracleSql =
    s"""WITH ${ivfPqResidualCtes(4)},
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfPqResidualRecallOracleSql = recallOracleSql(
    preCtes = ivfPqResidualCtes(2),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin)

  /** The residual union mirror (append maintenance): lists, residuals,
    * and codes over the union corpus under BOTH quantizers still
    * trained on the original embeddings (the frozen contract — the PQ
    * sample filter `vec_id < 16384` already excludes the dup ids). */
  private lazy val ivfPqResidualAppendOracleSql =
    s"""WITH ${ivfPqResidualCtes(4, dupVectorsSql + ",\n", "corpus")},
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfPqResidualAppendRecallOracleSql = recallOracleSql(
    preCtes = ivfPqResidualCtes(2, dupVectorsSql + ",\n", "corpus"),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin,
    bruteRel = "corpus")

  /** Retrained residual mirror: BOTH quantizers over the union corpus
    * — coarse K re-derived from its size, codebooks trained on the
    * residuals against the NEW centroids. */
  private lazy val ivfPqResidualRetrainOracleSql =
    s"""WITH ${ivfPqResidualCtes(4, dupVectorsSql + ",\n", "corpus", "corpus", corpusKSql)},
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfPqResidualRetrainRecallOracleSql = recallOracleSql(
    preCtes = ivfPqResidualCtes(2, dupVectorsSql + ",\n", "corpus",
      "corpus", corpusKSql),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin,
    bruteRel = "corpus")

  /** The composite's rerank mirror tail: ADC scores over the probed
    * lists → top-32 shortlist cut → exact cosine over the survivors
    * (`exact` in scope) — the flat-PQ rerank shape on the IVF-PQ
    * candidate set. */
  private def ivfPqRerankCtes(nProbe: Int): String =
    s"""${ivfPqCtes("", "embeddings", nProbe)},
      |cand AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS ar
      |    FROM scored) c WHERE ar <= 32),
      |exact AS (
      |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
      |    round(${cosSql("q.qv", "e.embedding")}, 6) AS cos_sim
      |  FROM cand c JOIN q ON q.query_id = c.query_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id)""".stripMargin

  private lazy val ivfPqRerankOracleSql =
    s"""WITH ${ivfPqRerankCtes(4)},
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM exact)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfPqRerankRecallOracleSql = recallOracleSql(
    preCtes = ivfPqRerankCtes(2),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM exact""".stripMargin)

  /** The batch-fusion mirror: `q` widens to the 10 query docs, the
    * semantic ranking partitions per query, the lexical list
    * cross-joins onto every query, and fusion groups + ranks per
    * (query, doc) — same integer contribution as the single-query
    * mirror. */
  private lazy val hybridRrfBatchOracleSql =
    s"""WITH ${hybridSemCtes("vec_id < 10")},
      |sem AS (SELECT query_id, neighbor_id AS doc_id, rk FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER
      |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      |    FROM vscored) r
      |  WHERE rk <= 20),
      |lex AS (SELECT doc_id, rk FROM (${TextQueries.searchBm25AnyList20Sql}) l),
      |parts AS (
      |  SELECT q.query_id AS query_id, lex.doc_id AS doc_id,
      |    CAST(floor(1000000.0 / (60 + lex.rk)) AS BIGINT) AS rrf_part
      |  FROM lex CROSS JOIN q
      |  UNION ALL
      |  SELECT query_id, doc_id, CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) FROM sem),
      |fused AS (SELECT query_id, doc_id, CAST(sum(rrf_part) AS BIGINT) AS rrf_x1e6,
      |  CAST(count(*) AS BIGINT) AS n_lists FROM parts GROUP BY query_id, doc_id)
      |SELECT query_id, doc_id, rrf_x1e6, n_lists, rk FROM (
      |  SELECT *, CAST(row_number() OVER
      |    (PARTITION BY query_id ORDER BY rrf_x1e6 DESC, doc_id) AS BIGINT) AS rk
      |  FROM fused) f
      |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The weighted-fusion mirror: each leg min-max-normalizes to
    * [0, 1e6] over its own top-20 list, scales by its integer
    * percentage (70 lexical / 30 semantic), and docs rank by the
    * integer sum — [[graft.operators.SearchOps.weightedFuse]]
    * verbatim. */
  private lazy val hybridWeightedOracleSql =
    s"""WITH ${hybridSemCtes("vec_id = 0")},
      |sems AS (SELECT doc_id, CAST(floor(cos_sim * 1000000.0) AS BIGINT) AS score
      |  FROM (SELECT neighbor_id AS doc_id, cos_sim, row_number() OVER
      |      (ORDER BY cos_sim DESC, neighbor_id) AS rk FROM vscored) r
      |  WHERE rk <= 20),
      |lex AS (SELECT doc_id, score FROM (${TextQueries.searchBm25AnyList20Sql}) l),
      |lexn AS (SELECT doc_id,
      |    (CASE WHEN mx = mn THEN 1000000
      |     ELSE CAST(floor((score - mn)::DOUBLE * 1000000.0 / (mx - mn)::DOUBLE)
      |       AS BIGINT) END) * 70 AS part
      |  FROM lex, (SELECT min(score) AS mn, max(score) AS mx FROM lex) m),
      |semn AS (SELECT doc_id,
      |    (CASE WHEN mx = mn THEN 1000000
      |     ELSE CAST(floor((score - mn)::DOUBLE * 1000000.0 / (mx - mn)::DOUBLE)
      |       AS BIGINT) END) * 30 AS part
      |  FROM sems, (SELECT min(score) AS mn, max(score) AS mx FROM sems) m),
      |parts AS (SELECT doc_id, part FROM lexn
      |  UNION ALL SELECT doc_id, part FROM semn),
      |fused AS (SELECT doc_id, CAST(sum(part) AS BIGINT) AS wscore,
      |  CAST(count(*) AS BIGINT) AS n_lists FROM parts GROUP BY doc_id)
      |SELECT doc_id, wscore, n_lists, rk FROM (
      |  SELECT *, CAST(row_number() OVER
      |    (ORDER BY wscore DESC, doc_id) AS BIGINT) AS rk FROM fused) f
      |WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** DuckDB mirror of [[VectorOps.packSignBits]]: 32 sign bits of
    * `v` starting at dim `from`, little-endian in a BIGINT. */
  private def packSignSql(v: String, from: Int): String =
    s"list_sum(list_transform(range(0, 32), i -> " +
      s"CASE WHEN ($v)[$from + i + 1] > 0 THEN 1::BIGINT << i ELSE 0 END))::BIGINT"

  /** Binary-quantization CTEs: sign masks + hamming-scored candidates
    * (ends with `q` and `bscored` in scope). */
  private def binaryCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |bq AS (SELECT query_id, ${packSignSql("qv", 0)} AS qhi,
      |    ${packSignSql("qv", 32)} AS qlo FROM q),
      |bc AS (SELECT vec_id, ${packSignSql("embedding", 0)} AS hi,
      |    ${packSignSql("embedding", 32)} AS lo FROM embeddings),
      |bscored AS (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    (bit_count(xor(qhi, hi)) + bit_count(xor(qlo, lo)))::BIGINT AS hamming
      |  FROM bq CROSS JOIN bc WHERE query_id <> vec_id)""".stripMargin

  /** IVF-binary mirror: the coarse train/assign/probe CTEs composed
    * with the sign-mask scoring, candidates restricted to each query's
    * probed lists (ends with `q` and `ibscored` in scope). The coarse
    * quantizer always trains on `embeddings` (the frozen contract);
    * `corpusRel` selects the LIST corpus — `corpus` for the union
    * forms (append / CDC settle). */
  private def ivfBinaryCtes(nProbe: Int, pre: String = "",
      corpusRel: String = "embeddings", trainRel: String = "embeddings",
      kSql: String = ivfKSql): String =
    s"""$pre${centTrainSql(kSql, 2, trainRel)},
      |casg AS (
      |  SELECT vec_id, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM $corpusRel CROSS JOIN cents),
      |lists AS (SELECT vec_id, cid AS list_id FROM casg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, cid AS list_id FROM (
      |    SELECT query_id, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pr WHERE cr <= $nProbe),
      |bq AS (SELECT query_id, ${packSignSql("qv", 0)} AS qhi,
      |    ${packSignSql("qv", 32)} AS qlo FROM q),
      |bc AS (SELECT vec_id, ${packSignSql("embedding", 0)} AS hi,
      |    ${packSignSql("embedding", 32)} AS lo FROM $corpusRel),
      |ibscored AS (
      |  SELECT p.query_id AS query_id, bc.vec_id AS neighbor_id,
      |    (bit_count(xor(qhi, hi)) + bit_count(xor(qlo, lo)))::BIGINT AS hamming
      |  FROM bc
      |  JOIN lists l ON l.vec_id = bc.vec_id
      |  JOIN probes p ON p.list_id = l.list_id
      |  JOIN bq ON bq.query_id = p.query_id
      |  WHERE p.query_id <> bc.vec_id)""".stripMargin

  private lazy val ivfBinaryOracleSql =
    s"""WITH ${ivfBinaryCtes(4)},
      |ranked AS (SELECT *, CAST(row_number() OVER
      |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rk
      |  FROM ibscored)
      |SELECT query_id, neighbor_id, hamming, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** The binary union mirror (append / CDC settle: lists over the
    * embeddings ∪ dup-batch corpus, frozen quantizer). */
  private[graft] lazy val ivfBinaryAppendOracleSql =
    s"""WITH ${ivfBinaryCtes(4, dupVectorsSql + ",\n", "corpus")},
      |ranked AS (SELECT *, CAST(row_number() OVER
      |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rk
      |  FROM ibscored)
      |SELECT query_id, neighbor_id, hamming, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfBinaryRecallOracleSql = recallOracleSql(
    preCtes = ivfBinaryCtes(2),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
        |    FROM ibscored""".stripMargin)

  /** Appended-generation binary recall: frozen quantizer, lists and
    * brute truth over the union corpus. */
  private lazy val ivfBinaryAppendRecallOracleSql = recallOracleSql(
    preCtes = ivfBinaryCtes(2, dupVectorsSql + ",\n", "corpus"),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
        |    FROM ibscored""".stripMargin,
    bruteRel = "corpus")

  /** Retrained binary mirror: train/assign AND serve over the union
    * corpus with K re-derived from its size. */
  private lazy val ivfBinaryRetrainOracleSql =
    s"""WITH ${ivfBinaryCtes(4, dupVectorsSql + ",\n", "corpus", "corpus", corpusKSql)},
      |ranked AS (SELECT *, CAST(row_number() OVER
      |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rk
      |  FROM ibscored)
      |SELECT query_id, neighbor_id, hamming, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  private lazy val ivfBinaryRetrainRecallOracleSql = recallOracleSql(
    preCtes = ivfBinaryCtes(2, dupVectorsSql + ",\n", "corpus", "corpus",
      corpusKSql),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
        |    FROM ibscored""".stripMargin,
    bruteRel = "corpus")

  private lazy val binaryOracleSql =
    s"""WITH $binaryCtes,
      |ranked AS (SELECT *, CAST(row_number() OVER
      |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rk
      |  FROM bscored)
      |SELECT query_id, neighbor_id, hamming, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Binary rerank mirror: hamming shortlist-32 → exact cosine over
    * the survivors (ends with `q` and `exact` in scope). */
  private def binaryRerankCtes: String =
    s"""$binaryCtes,
      |cand AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS ar
      |    FROM bscored) c WHERE ar <= 32),
      |exact AS (
      |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
      |    round(${cosSql("q.qv", "e.embedding")}, 6) AS cos_sim
      |  FROM cand c JOIN q ON q.query_id = c.query_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id)""".stripMargin

  private lazy val binaryRerankOracleSql =
    s"""WITH $binaryRerankCtes,
      |ranked AS (SELECT *, CAST(row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM exact)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  private lazy val binaryRerankRecallOracleSql = recallOracleSql(
    preCtes = binaryRerankCtes,
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM exact""".stripMargin)

  private lazy val binaryRecallOracleSql = recallOracleSql(
    preCtes = binaryCtes,
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
        |    FROM bscored""".stripMargin)

  /** The batch weighted-fusion mirror (VERDICT r13 #5): the semantic
    * leg ranks per query, the lexical list cross-joins onto every
    * query, and BOTH legs min-max-normalize within each query's own
    * candidate list (`PARTITION BY query_id` window) before the 70/30
    * integer combination ranks per query —
    * [[graft.operators.SearchOps.weightedFusePerQuery]] verbatim. */
  private lazy val hybridWeightedBatchOracleSql =
    s"""WITH ${hybridSemCtes("vec_id < 10")},
      |sems AS (SELECT query_id, doc_id, CAST(floor(cos_sim * 1000000.0) AS BIGINT) AS score
      |  FROM (SELECT query_id, neighbor_id AS doc_id, cos_sim, row_number() OVER
      |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      |    FROM vscored) r
      |  WHERE rk <= 20),
      |lexq AS (SELECT q.query_id AS query_id, l.doc_id AS doc_id, l.score AS score
      |  FROM (${TextQueries.searchBm25AnyList20Sql}) l CROSS JOIN q),
      |lexn AS (SELECT query_id, doc_id,
      |    (CASE WHEN mx = mn THEN 1000000
      |     ELSE CAST(floor((score - mn)::DOUBLE * 1000000.0 / (mx - mn)::DOUBLE)
      |       AS BIGINT) END) * 70 AS part
      |  FROM (SELECT query_id, doc_id, score,
      |      min(score) OVER (PARTITION BY query_id) AS mn,
      |      max(score) OVER (PARTITION BY query_id) AS mx FROM lexq) t),
      |semn AS (SELECT query_id, doc_id,
      |    (CASE WHEN mx = mn THEN 1000000
      |     ELSE CAST(floor((score - mn)::DOUBLE * 1000000.0 / (mx - mn)::DOUBLE)
      |       AS BIGINT) END) * 30 AS part
      |  FROM (SELECT query_id, doc_id, score,
      |      min(score) OVER (PARTITION BY query_id) AS mn,
      |      max(score) OVER (PARTITION BY query_id) AS mx FROM sems) t),
      |parts AS (SELECT query_id, doc_id, part FROM lexn
      |  UNION ALL SELECT query_id, doc_id, part FROM semn),
      |fused AS (SELECT query_id, doc_id, CAST(sum(part) AS BIGINT) AS wscore,
      |  CAST(count(*) AS BIGINT) AS n_lists FROM parts GROUP BY query_id, doc_id)
      |SELECT query_id, doc_id, wscore, n_lists, rk FROM (
      |  SELECT *, CAST(row_number() OVER
      |    (PARTITION BY query_id ORDER BY wscore DESC, doc_id) AS BIGINT) AS rk
      |  FROM fused) f
      |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  private def ivfPqOracleOver(pre: String, corpusRel: String,
      trainRel: String = "embeddings", kSql: String = ivfKSql): String =
    s"""WITH ${ivfPqCtes(pre, corpusRel, 4, trainRel, kSql)},
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  /** Retrain-verdict mirror over the appended epoch's frozen
    * assignment (union corpus, original centroids) — shared by the
    * float IVF and IVF-PQ monitors: the composite's list populations
    * are identical by construction (same corpus, same frozen coarse
    * quantizer), so one mirror gates both. */
  private[graft] lazy val ivfRetrainCheckOracleSql =
    s"""WITH $dupVectorsSql,
      |${centTrainSql(ivfKSql, 2)},
      |casg AS (
      |  SELECT vec_id, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM corpus CROSS JOIN cents),
      |${retrainVerdictSql("casg")}""".stripMargin

  /** MRL's verdict: prefix cells frozen from the build-time prefixes,
    * the union corpus' prefixes assigned. */
  private lazy val mrlRetrainVerdictOracleSql =
    s"""WITH $dupVectorsSql,
      |prefixes AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
      |${centTrainSql(ivfKSql, 2, "prefixes", dim = 32)},
      |cp AS (SELECT vec_id, embedding[1:32] AS p FROM corpus),
      |pasg AS (
      |  SELECT vec_id, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("p", "cv")}, 6) DESC, cid) AS cr
      |  FROM cp CROSS JOIN cents),
      |${retrainVerdictSql("pasg")}""".stripMargin

  /** The retrain verdict's integer-exact arithmetic over the list sizes
    * of assignment CTE `asg` (`cid`, best-first `cr`) — the mean-first
    * floored signals of [[VectorOps.retrainCheck]]. */
  private def retrainVerdictSql(asg: String): String =
    s"""sizes AS (SELECT cid, count(*) AS n FROM $asg WHERE cr = 1 GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_lists,
      |    CAST(sum(n) AS BIGINT) AS total_vectors,
      |    CAST(max(n) AS BIGINT) AS max_list FROM sizes),
      |d AS (SELECT *, total_vectors // n_lists AS mean_list FROM tot),
      |e AS (SELECT *, max_list * 1000 // mean_list AS max_over_mean_x1000,
      |    max_list * 1000 // total_vectors AS top_frac_x1000 FROM d)
      |SELECT n_lists, total_vectors, max_list, mean_list,
      |  max_over_mean_x1000, top_frac_x1000,
      |  (max_over_mean_x1000 >= 2000 OR top_frac_x1000 >= 200) AS retrain
      |FROM e""".stripMargin

  /** Retrained mirror: UNION corpus with K re-derived from its size —
    * the two things requantization refreshes. The PQ sample filter
    * (`vec_id < 16384`) makes the codebook training set identical over
    * `embeddings` and the union (dup ids sit at ≥ 100000), matching
    * the Spark side's sample-train contract exactly. */
  private lazy val ivfPqRetrainOracleSql =
    ivfPqOracleOver(dupVectorsSql + ",\n", "corpus", trainRel = "corpus",
      kSql = "(SELECT greatest(4, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM corpus)")

  private lazy val ivfPqRetrainRecallOracleSql = recallOracleSql(
    preCtes = ivfPqCtes(dupVectorsSql + ",\n", "corpus", 2,
      trainRel = "corpus",
      kSql = "(SELECT greatest(4, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM corpus)"),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin,
    bruteRel = "corpus")

  private lazy val ivfPqOracleSql = ivfPqOracleOver("", "embeddings")
  // private[graft]: the CDC-maintenance epoch's settled generation is
  // result-defined equal to the frozen-quantizer union build, so the
  // streaming gate shares this mirror (one oracle, N plans)
  private[graft] lazy val ivfPqAppendOracleSql =
    ivfPqOracleOver(dupVectorsSql + ",\n", "corpus")

  /** The appended/settled generation's recall mirror — truth is brute
    * force over the UNION corpus the generation serves. Shared by the
    * batch-append audit path and the CDC-settled audit. */
  private[graft] lazy val ivfPqAppendRecallOracleSql = recallOracleSql(
    preCtes = ivfPqCtes(dupVectorsSql + ",\n", "corpus", 2),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin,
    bruteRel = "corpus")

  private lazy val ivfPqRecallOracleSql = recallOracleSql(
    preCtes = ivfPqCtes("", "embeddings", 2),
    annSelect =
      """SELECT query_id, neighbor_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored""".stripMargin)

  /** The semantic-leg CTE prefix shared by every hybrid mirror: the
    * IVF candidate scoring (`vscored`) for the query set selected by
    * `qFilter` — one builder so the three fusion mirrors can't drift
    * from each other or from the IVF family's own shape. */
  private def hybridSemCtes(qFilter: String): String =
    s"""${centTrainSql(ivfKSql, 2)},
      |asg AS (
      |  SELECT vec_id, embedding, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM embeddings CROSS JOIN cents),
      |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $qFilter),
      |probes AS (
      |  SELECT query_id, qv, cid AS list_id FROM (
      |    SELECT query_id, qv, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq WHERE cr <= 4),
      |vscored AS (
      |  SELECT query_id, l.vec_id AS neighbor_id,
      |    round(${cosSql("qv", "l.embedding")}, 6) AS cos_sim
      |  FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id)""".stripMargin

  /** BM25 ∪ QLD rank fusion — both legs are the already-gated lexical
    * mirrors at k = 20, fused by the same floor(1e6/(60+rk)) fold. */
  private lazy val hybridQldRrfOracleSql =
    s"""WITH lex AS (SELECT doc_id, rk FROM (${TextQueries.searchBm25AnyList20Sql}) l),
      |qld AS (SELECT doc_id, rk FROM (${TextQueries.searchQldSql(20)}) m),
      |parts AS (
      |  SELECT doc_id, CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) AS rrf_part FROM lex
      |  UNION ALL
      |  SELECT doc_id, CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) FROM qld),
      |fused AS (SELECT doc_id, CAST(sum(rrf_part) AS BIGINT) AS rrf_x1e6,
      |  CAST(count(*) AS BIGINT) AS n_lists FROM parts GROUP BY doc_id)
      |SELECT doc_id, rrf_x1e6, n_lists, rk FROM (
      |  SELECT *, CAST(row_number() OVER
      |    (ORDER BY rrf_x1e6 DESC, doc_id) AS BIGINT) AS rk FROM fused) f
      |WHERE rk <= 10 ORDER BY rk""".stripMargin

  private lazy val hybridKendallOracleSql =
    s"""WITH lex AS (SELECT doc_id, rk AS rl
      |  FROM (${TextQueries.searchBm25AnyList20Sql}) l),
      |qld AS (SELECT doc_id, rk AS rq
      |  FROM (${TextQueries.searchQldSql(20)}) m),
      |common AS (SELECT lex.doc_id, rl, rq FROM lex JOIN qld USING (doc_id)),
      |p AS (SELECT ((a.rl - b.rl) * (a.rq - b.rq)) > 0 AS conc
      |  FROM common a JOIN common b ON a.doc_id < b.doc_id),
      |s AS (SELECT count(*)::BIGINT AS n_pairs,
      |    sum(CASE WHEN conc THEN 1 ELSE 0 END)::BIGINT AS concordant,
      |    sum(CASE WHEN conc THEN 0 ELSE 1 END)::BIGINT AS discordant
      |  FROM p)
      |SELECT n_pairs, concordant, discordant,
      |  CASE WHEN n_pairs = 0 THEN NULL ELSE
      |    (((concordant - discordant) * 1000000) -
      |      (((((concordant - discordant) * 1000000) % n_pairs)
      |        + n_pairs) % n_pairs)) // n_pairs END AS tau_e6
      |FROM s""".stripMargin

  private lazy val hybridRboOracleSql = {
    val wCase = (1 to 20).map { d =>
      val w = math.floor(1e9 * 0.1 * math.pow(0.9, d - 1)).toLong
      s"WHEN d = $d THEN CAST($w AS BIGINT)"
    }.mkString("CASE ", " ", " END")
    s"""WITH lex AS (SELECT doc_id, rk AS rl
      |  FROM (${TextQueries.searchBm25AnyList20Sql}) l),
      |qld AS (SELECT doc_id, rk AS rq
      |  FROM (${TextQueries.searchQldSql(20)}) m),
      |pairs AS (SELECT lex.doc_id, rl, rq FROM lex JOIN qld USING (doc_id)),
      |depths AS (SELECT CAST(t.d AS BIGINT) AS d FROM range(1, 21) t(d)),
      |ov AS (SELECT d, count(*)::BIGINT AS overlap
      |  FROM depths JOIN pairs ON rl <= d AND rq <= d GROUP BY d),
      |t AS (SELECT d, overlap, ($wCase) * overlap // d AS term_e9 FROM ov)
      |SELECT count(*)::BIGINT AS n_depths,
      |  sum(term_e9)::BIGINT AS rbo_e9 FROM t""".stripMargin
  }

  /** Hybrid-RRF mirror: the lexical leg nests the SHARED k=20
    * disjunctive BM25 builder ([[TextQueries.searchBm25AnyList20Sql]])
    * as a scoped subquery (its CTE names can't collide), the semantic
    * leg is the IVF mirror's CTE shape with `q` = doc 0 and rk ≤ 20,
    * and the fusion sums `floor(1e6/(60+rk))` integer contributions —
    * exact in both engines. */
  private lazy val hybridRrfOracleSql =
    s"""WITH ${hybridSemCtes("vec_id = 0")},
      |sem AS (SELECT neighbor_id AS doc_id, rk FROM (
      |    SELECT neighbor_id, row_number() OVER
      |      (ORDER BY cos_sim DESC, neighbor_id) AS rk FROM vscored) r
      |  WHERE rk <= 20),
      |lex AS (SELECT doc_id, rk FROM (${TextQueries.searchBm25AnyList20Sql}) l),
      |parts AS (
      |  SELECT doc_id, CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) AS rrf_part FROM lex
      |  UNION ALL
      |  SELECT doc_id, CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) FROM sem),
      |fused AS (SELECT doc_id, CAST(sum(rrf_part) AS BIGINT) AS rrf_x1e6,
      |  CAST(count(*) AS BIGINT) AS n_lists FROM parts GROUP BY doc_id)
      |SELECT doc_id, rrf_x1e6, n_lists, rk FROM (
      |  SELECT *, CAST(row_number() OVER
      |    (ORDER BY rrf_x1e6 DESC, doc_id) AS BIGINT) AS rk FROM fused) f
      |WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** The filtered IVF probe's CTE chain (trained quantizer → lists →
    * 4-cell probes → label-matched-BEFORE-rank scoring), ending in
    * `ranked` with `q (query_id, qv, qlabel)` in scope — shared by the
    * probe gate and its label-restricted recall audit (r18). */
  private lazy val ivfFilteredProbeCtes: String =
    s"""${centTrainSql(ivfKSql, 2)},
      |asg AS (
      |  SELECT vec_id, embedding, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM embeddings CROSS JOIN cents),
      |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
      |  FROM embeddings WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, qv, qlabel, cid AS list_id FROM (
      |    SELECT query_id, qv, qlabel, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq WHERE cr <= 4),
      |scored AS (
      |  SELECT query_id, l.vec_id AS neighbor_id,
      |    round(${cosSql("qv", "l.embedding")}, 6) AS cos_sim
      |  FROM lists l
      |  JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id
      |  JOIN embeddings el ON el.vec_id = l.vec_id
      |  WHERE el.label = p.qlabel),
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)""".stripMargin

  /** Mirror of [[VectorOps.mrlTopK]] (prefix 32, shortlist 100) ending
    * in `mrl (query_id, neighbor_id, cos_sim, rk)`; starts with the
    * standard `q` CTE so [[recallOracleSql]] composes directly.
    * Parameterized over the corpus relation (`embeddings` for the
    * build-time index and every result-invisible mutation epoch,
    * `corpus` for the append/CDC-settled generations) — one builder,
    * no drift. */
  private[graft] def mrlCtesOver(rel: String): String =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv,
      |    embedding[1:32] AS qp FROM embeddings WHERE vec_id < 10),
      |coarse AS (
      |  SELECT query_id, c.vec_id AS neighbor_id, qv, c.embedding AS nv,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      round(${cosSql("qp", "(c.embedding[1:32])")}, 6) DESC, c.vec_id) AS crk
      |  FROM $rel c CROSS JOIN q WHERE c.vec_id <> query_id),
      |mrl AS (
      |  SELECT query_id, neighbor_id,
      |    round(${cosSql("qv", "nv")}, 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      round(${cosSql("qv", "nv")}, 6) DESC, neighbor_id) AS rk
      |  FROM coarse WHERE crk <= 100)""".stripMargin

  private lazy val mrlCtes: String = mrlCtesOver("embeddings")

  private[graft] lazy val mrlOracleSql: String =
    s"""WITH $mrlCtes
      |SELECT query_id, neighbor_id, cos_sim, rk FROM mrl WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** The union-corpus MRL mirror — gates the append epoch AND the
    * CDC-settled generation (the settle is result-defined equal to the
    * frozen-derivation union build). */
  private[graft] lazy val mrlAppendOracleSql: String =
    s"""WITH $dupVectorsSql,
      |${mrlCtesOver("corpus")}
      |SELECT query_id, neighbor_id, cos_sim, rk FROM mrl WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  private[graft] lazy val mrlAppendRecallOracleSql: String =
    recallOracleSql(dupVectorsSql + ",\n" + mrlCtesOver("corpus"),
      "SELECT query_id, neighbor_id, rk FROM mrl", bruteRel = "corpus")

  /** Mirror of [[VectorOps.probeMrlIndexIvf]]: the prefix relation
    * trains its own coarse quantizer at the truncated width (dim 32 —
    * same Lloyd discipline, same derived K), cells rank per query by
    * prefix-vs-centroid cosine, the coarse shortlist scores only the
    * probed cells' prefix rows, and the exact full-dim re-rank joins
    * the corpus. */
  private lazy val mrlIvfHeaderCtes: String =
    s"""prefixes AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
      |${centTrainSql(ivfKSql, 2, "prefixes", dim = 32)},
      |pasg AS (
      |  SELECT vec_id, embedding AS prefix, cid, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
      |  FROM prefixes CROSS JOIN cents),
      |plists AS (SELECT cid AS list_id, vec_id, prefix FROM pasg WHERE cr = 1),
      |q AS (SELECT vec_id AS query_id, embedding[1:32] AS qp,
      |  embedding AS qv FROM embeddings WHERE vec_id < 10)""".stripMargin

  private def mrlIvfTailCtes(shortlist: Int): String =
    s"""coarse AS (
      |  SELECT query_id, l.vec_id AS neighbor_id, qv,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      round(${cosSql("qp", "l.prefix")}, 6) DESC, l.vec_id) AS crk
      |  FROM plists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
      |mrl AS (
      |  SELECT query_id, neighbor_id,
      |    round(${cosSql("qv", "e.embedding")}, 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      round(${cosSql("qv", "e.embedding")}, 6) DESC, neighbor_id) AS rk
      |  FROM coarse JOIN embeddings e ON e.vec_id = coarse.neighbor_id
      |  WHERE crk <= $shortlist)""".stripMargin

  private def mrlIvfCtes(nProbe: Int): String =
    s"""$mrlIvfHeaderCtes,
      |probes AS (
      |  SELECT query_id, qp, qv, cid AS list_id FROM (
      |    SELECT query_id, qp, qv, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qp", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq WHERE cr <= $nProbe),
      |${mrlIvfTailCtes(100)}""".stripMargin

  /** Mirror of [[VectorOps.probeMrlIndexIvfAdaptive]]: cells admit in
    * coarse-similarity order while the cumulative row mass of the
    * cells BEFORE them is still under the ppm target — the same
    * integer-exact `cum_before·1e6 < target·N` decision the Spark side
    * evaluates, so both engines probe identical cell sets. */
  private def mrlIvfAdaptiveCtes(targetPpm: Long, shortlist: Int): String =
    s"""$mrlIvfHeaderCtes,
      |mass AS (SELECT list_id, CAST(count(*) AS BIGINT) AS m
      |  FROM plists GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM plists),
      |pranked AS (
      |  SELECT pq.query_id, pq.qp, pq.qv, pq.cid, pq.cr,
      |    coalesce(ms.m, 0) AS m
      |  FROM (SELECT query_id, qp, qv, cid, row_number() OVER
      |      (PARTITION BY query_id ORDER BY round(${cosSql("qp", "cv")}, 6) DESC, cid) AS cr
      |    FROM q CROSS JOIN cents) pq
      |  LEFT JOIN mass ms ON ms.list_id = pq.cid),
      |probes AS (
      |  SELECT query_id, qp, qv, cid AS list_id FROM (
      |    SELECT *, coalesce(sum(m) OVER (PARTITION BY query_id ORDER BY cr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |    FROM pranked) pc CROSS JOIN tot
      |  WHERE cum_before * 1000000 < $targetPpm * n_total),
      |${mrlIvfTailCtes(shortlist)}""".stripMargin

  def oracle: Map[String, String] = Map[String, String](
    "sim_topk_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "c.embedding")}, 6) AS cos_sim
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> query_id),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "sim_ann_mmr" -> mmrOracleSql(shortlist = 20, k = 5),
    "sim_ann_mrl" -> mrlOracleSql,
    "sim_ann_mrl_recall" -> recallOracleSql(mrlCtes,
      s"SELECT query_id, neighbor_id, rk FROM mrl"),
    "sim_ann_mrl_indexed" -> mrlOracleSql,
    "sim_ann_mrl_ivf" ->
      s"""WITH ${mrlIvfCtes(4)}
        |SELECT query_id, neighbor_id, cos_sim, rk FROM mrl WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "sim_ann_mrl_ivf_adaptive" ->
      s"""WITH ${mrlIvfAdaptiveCtes(400000L, 200)}
        |SELECT query_id, neighbor_id, cos_sim, rk FROM mrl WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "sim_ann_mrl_ivf_recall" -> recallOracleSql(
      mrlIvfAdaptiveCtes(400000L, 200),
      "SELECT query_id, neighbor_id, rk FROM mrl"),
    // triplets = the brute-force positive ranking joined rank-wise
    // with the hard-negative mirror (both CTE chains already gate
    // standalone — the join can't drift from its parents)
    "sim_triplets" ->
      s"""WITH ${centTrainSql(ivfKSql, 2)},
        |asg AS (
        |  SELECT vec_id, embedding, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
        |  FROM embeddings CROSS JOIN cents),
        |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg WHERE cr = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv, cid AS list_id FROM (
        |    SELECT query_id, qv, cid, row_number() OVER
        |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
        |    FROM q CROSS JOIN cents) pq WHERE cr <= 4),
        |nscored AS (
        |  SELECT query_id, l.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "l.embedding")}, 6) AS cos_sim
        |  FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
        |nband AS (SELECT * FROM nscored
        |  WHERE cos_sim >= 0.30 AND cos_sim < 0.90),
        |neg AS (SELECT query_id, neighbor_id AS neg_id, cos_sim AS neg_cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rk FROM nband),
        |pscored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "c.embedding")}, 6) AS cos_sim
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> query_id),
        |pos AS (SELECT query_id, neighbor_id AS pos_id, cos_sim AS pos_cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rk FROM pscored)
        |SELECT pos.query_id, pos.rk, pos_id, pos_cos, neg_id, neg_cos,
        |  round(pos_cos - neg_cos, 6) AS margin
        |FROM pos JOIN neg ON pos.query_id = neg.query_id AND pos.rk = neg.rk
        |WHERE pos.rk <= 3 AND neg.rk <= 3
        |ORDER BY pos.query_id, pos.rk""".stripMargin,
    "sim_cluster_silhouette" ->
      s"""WITH ${centTrainSql(ivfKSql, 2)},
        |sc AS (SELECT vec_id, cid, round(${cosSql("embedding", "cv")}, 6) AS cs,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
        |  FROM embeddings CROSS JOIN cents),
        |top2 AS (SELECT a.vec_id, a.cid AS cluster_id, a.cs AS cs1, b.cs AS cs2
        |  FROM sc a JOIN sc b ON a.vec_id = b.vec_id AND a.cr = 1 AND b.cr = 2),
        |sil AS (SELECT cluster_id,
        |    CASE WHEN greatest(1.0 - cs1, 1.0 - cs2) = 0 THEN 0
        |      ELSE CAST(floor(1000000.0 * (cs1 - cs2) /
        |        greatest(1.0 - cs1, 1.0 - cs2)) AS BIGINT) END AS s_ppm
        |  FROM top2)
        |SELECT cluster_id, count(*) AS n,
        |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
        |  CAST(sum(s_ppm) AS BIGINT) // count(*) AS mean_s_ppm
        |FROM sil GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    ${bucketSql("embedding")} AS qbucket FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "c.embedding")}, 6) AS cos_sim
        |  FROM c JOIN q ON c.bucket = q.qbucket AND c.vec_id <> q.query_id),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
        |ORDER BY query_id, rk""".stripMargin,
    "sim_ann_pq" -> pqOracleSql,
    "sim_ann_pq_indexed" -> pqOracleSql,
    "sim_ann_ivf_probe_sweep" -> {
      val per = Seq(1, 2, 4, 8).map { np =>
        s"""SELECT CAST($np AS BIGINT) AS n_probe,
          |  (SELECT count(*)::BIGINT FROM brute JOIN (
          |     SELECT query_id, neighbor_id FROM (
          |       SELECT p.query_id AS query_id, l.vec_id AS neighbor_id,
          |         row_number() OVER (PARTITION BY p.query_id ORDER BY
          |           round(${cosSql("p.qv", "l.embedding")}, 6) DESC,
          |           l.vec_id) AS rk
          |       FROM lists l JOIN pr p ON l.list_id = p.cid
          |         AND p.cr <= $np AND l.vec_id <> p.query_id) r
          |     WHERE rk <= $recallK) a USING (query_id, neighbor_id))
          |    AS n_hit,
          |  (SELECT count(*)::BIGINT FROM lists l JOIN pr p
          |     ON l.list_id = p.cid AND p.cr <= $np
          |       AND l.vec_id <> p.query_id) AS n_candidates""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${centTrainSql(ivfKSql, 2)},
        |asg AS (
        |  SELECT vec_id, embedding, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
        |  FROM embeddings CROSS JOIN cents),
        |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg
        |  WHERE cr = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |brute AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, c2.vec_id AS neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY
        |      round(${cosSql("qv", "c2.embedding")}, 6) DESC, c2.vec_id) AS rk
        |  FROM embeddings c2 CROSS JOIN q WHERE c2.vec_id <> query_id) b
        |  WHERE rk <= $recallK),
        |pr AS (SELECT query_id, qv, cid, row_number() OVER
        |    (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
        |  FROM q CROSS JOIN cents)
        |SELECT n_probe, n_hit,
        |  n_hit * 1000000 // ${10 * recallK} AS recall_ppm, n_candidates
        |FROM ($per) ORDER BY n_probe""".stripMargin
    },
    "sim_embedding_drift" ->
      """WITH h AS (SELECT label, vec_id % 2 AS half, t.d AS dim,
        |    CAST(floor((embedding[t.d + 1])::DOUBLE * 1000000.0)
        |      AS BIGINT) AS xq
        |  FROM embeddings, range(0, 64) t(d)),
        |g AS (SELECT label, dim,
        |    CAST(sum(CASE WHEN half = 0 THEN xq ELSE 0 END)
        |      AS HUGEINT) AS a,
        |    CAST(sum(CASE WHEN half = 1 THEN xq ELSE 0 END)
        |      AS HUGEINT) AS b
        |  FROM h GROUP BY 1, 2),
        |c AS (SELECT label, sum(a * b) AS dot,
        |    sum(a * a) AS na, sum(b * b) AS nb
        |  FROM g GROUP BY 1),
        |n AS (SELECT label,
        |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_pre,
        |    sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_post
        |  FROM embeddings GROUP BY 1)
        |SELECT label, n_pre, n_post,
        |  round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6)
        |    AS cos_halves
        |FROM c JOIN n USING (label) ORDER BY label""".stripMargin,
    "sim_pq_distortion" ->
      s"""WITH ${pqPreCtes(8, 64, 8)},
        |dist AS (
        |  SELECT p.s AS s,
        |    floor(${pqL2Sql("sv.v", "c.cv")} * 1000000.0)::BIGINT AS q
        |  FROM sv JOIN pcodes p ON sv.vec_id = p.vec_id AND sv.s = p.s
        |  JOIN pcents c ON c.s = p.s AND c.cid = p.cid)
        |SELECT s, count(*)::BIGINT AS n, CAST(sum(q) AS BIGINT) AS sum_e6,
        |  CAST(sum(q) AS BIGINT) // count(*) AS mse_e6
        |FROM dist GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_ann_ivfpq" -> ivfPqOracleSql,
    "sim_ann_ivfpq_indexed" -> ivfPqOracleSql,
    "sim_ann_binary" -> binaryOracleSql,
    "sim_dim_stats" ->
      """WITH ex AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |q AS (
        |  SELECT dim,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
        |      + 1000000 AS xq
        |  FROM ex)
        |SELECT dim, count(*) AS n,
        |  min(xq) - 1000000 AS min_ppm, max(xq) - 1000000 AS max_ppm,
        |  CAST(sum(xq) AS BIGINT) // count(*) - 1000000 AS mean_ppm,
        |  CAST(sum(xq * xq) AS BIGINT) // count(*)
        |    - (CAST(sum(xq) AS BIGINT) // count(*))
        |      * (CAST(sum(xq) AS BIGINT) // count(*)) AS var_ppm2
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,
    "sim_eval_rank_quality" ->
      s"""WITH $binaryCtes,
        |sys AS (SELECT query_id, neighbor_id, rk_sys FROM (
        |    SELECT query_id, neighbor_id, CAST(row_number() OVER
        |      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rk_sys
        |    FROM bscored) s WHERE rk_sys <= 10),
        |brute AS (SELECT query_id, neighbor_id, rk_true FROM (
        |    SELECT query_id, c2.vec_id AS neighbor_id, CAST(row_number() OVER
        |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "c2.embedding")}, 6) DESC, c2.vec_id) AS BIGINT) AS rk_true
        |    FROM embeddings c2 CROSS JOIN q WHERE c2.vec_id <> query_id) b
        |  WHERE rk_true <= 10),
        |j AS (SELECT query_id, rk_sys,
        |    CAST(coalesce(11 - rk_true, 0) AS BIGINT) AS rel
        |  FROM sys LEFT JOIN brute USING (query_id, neighbor_id)),
        |g AS (SELECT query_id,
        |    CAST(sum(rel * list_extract([${rankDiscountPpm.mkString(", ")}], rk_sys)) AS BIGINT) AS dcg_ppm,
        |    CAST(coalesce(min(CASE WHEN rel > 0 THEN rk_sys END), 0) AS BIGINT) AS first_hit_rank
        |  FROM j GROUP BY query_id)
        |SELECT query_id, dcg_ppm, round(dcg_ppm / $idealDcgPpm.0, 6) AS ndcg,
        |  first_hit_rank,
        |  CASE WHEN first_hit_rank = 0 THEN 0.0
        |    ELSE round(1.0 / first_hit_rank, 6) END AS rr
        |FROM g ORDER BY query_id""".stripMargin,
    "sim_ann_binary_recall" -> binaryRecallOracleSql,
    "sim_ann_binary_indexed" -> ivfBinaryOracleSql,
    "sim_ann_binary_indexed_recall" -> ivfBinaryRecallOracleSql,
    "sim_ann_binary_rerank" -> binaryRerankOracleSql,
    "sim_ann_binary_rerank_recall" -> binaryRerankRecallOracleSql,
    "sim_ann_ivfpq_residual" -> ivfPqResidualOracleSql,
    "sim_ann_ivfpq_residual_recall" -> ivfPqResidualRecallOracleSql,
    "sim_ann_ivfpq_residual_rerank" -> ivfPqResidualRerankOracleSql,
    "sim_ann_ivfpq_residual_rerank_recall" -> ivfPqResidualRerankRecallOracleSql,
    "sim_ann_ivfpq_recall" -> ivfPqRecallOracleSql,
    "sim_ann_ivfpq_rerank" -> ivfPqRerankOracleSql,
    "sim_ann_ivfpq_rerank_recall" -> ivfPqRerankRecallOracleSql,
    "hybrid_search_rrf" -> hybridRrfOracleSql,
    "hybrid_qld_rrf" -> hybridQldRrfOracleSql,
    "hybrid_rank_kendall" -> hybridKendallOracleSql,
    "hybrid_rank_rbo" -> hybridRboOracleSql,
    "sim_norm_audit" ->
      // the 0.0 seed is prepended so an EMPTY embedding folds to 0 —
      // matching the Spark side's aggregate(…, 0.0, …) — instead of
      // list_reduce erroring on the empty list (engine-parity guard)
      """WITH nq AS (SELECT label,
        |    CAST(round(1000000 * list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(embedding, x -> CAST(x AS DOUBLE) *
        |          CAST(x AS DOUBLE))), (a, b) -> a + b)) AS BIGINT) AS nq
        |  FROM embeddings)
        |SELECT label, count(*)::BIGINT AS n,
        |  min(nq) AS min_nsq_e6, max(nq) AS max_nsq_e6,
        |  CAST(sum(nq) AS BIGINT) // count(*) AS mean_nsq_e6
        |FROM nq GROUP BY label ORDER BY label""".stripMargin,
    "sim_label_margin_audit" ->
      """WITH q AS (SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |w AS (SELECT vec_id, label, qe,
        |    CAST(list_dot_product((qe)::DOUBLE[], (qe)::DOUBLE[]) AS BIGINT)
        |      AS nsq
        |  FROM q),
        |p AS (SELECT a.label AS la, b.label AS lb,
        |    CAST(round(1000000.0
        |      * CAST(CAST(list_dot_product((a.qe)::DOUBLE[], (b.qe)::DOUBLE[])
        |          AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))))
        |      AS BIGINT) + 1000000 AS c6
        |  FROM w a JOIN w b ON a.vec_id < b.vec_id),
        |sym AS (SELECT la AS label, lb AS other, c6 FROM p
        |  UNION ALL SELECT lb, la, c6 FROM p),
        |a AS (SELECT label,
        |    CAST(sum(CASE WHEN label = other THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_intra,
        |    CAST(sum(CASE WHEN label = other THEN c6 END) AS BIGINT) AS si,
        |    CAST(sum(CASE WHEN label <> other THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_inter,
        |    CAST(sum(CASE WHEN label <> other THEN c6 END) AS BIGINT) AS sx
        |  FROM sym GROUP BY 1)
        |SELECT label, n_intra, si // n_intra - 1000000 AS intra_cos_e6,
        |  n_inter, sx // n_inter - 1000000 AS inter_cos_e6,
        |  si // n_intra - sx // n_inter AS margin_e6
        |FROM a ORDER BY label""".stripMargin,
    "sim_intrinsic_dim" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |w AS (SELECT vec_id, qe,
        |    CAST(list_dot_product((qe)::DOUBLE[], (qe)::DOUBLE[]) AS BIGINT)
        |      AS nsq
        |  FROM q),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    a.nsq + b.nsq - 2 * CAST(list_dot_product((a.qe)::DOUBLE[],
        |      (b.qe)::DOUBLE[]) AS BIGINT) AS dsq
        |  FROM w a JOIN w b ON a.vec_id <> b.vec_id),
        |rk AS (SELECT qid, dsq, row_number() OVER (PARTITION BY qid
        |    ORDER BY dsq, nid) AS rk FROM p),
        |two AS (SELECT qid,
        |    max(CASE WHEN rk = 1 THEN dsq END) AS d1,
        |    max(CASE WHEN rk = 2 THEN dsq END) AS d2
        |  FROM rk WHERE rk <= 2 GROUP BY 1),
        |li AS (SELECT CAST(floor(1000000.0
        |    * ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE))) AS BIGINT) AS li
        |  FROM two WHERE d1 > 0),
        |a AS (SELECT count(*)::BIGINT AS n_points,
        |    CAST(sum(li) AS BIGINT) AS sum_ln_ppm FROM li)
        |SELECT n_points, sum_ln_ppm // n_points AS mean_ln_ppm,
        |  4000000000 // (sum_ln_ppm // n_points) AS id_x1000
        |FROM a""".stripMargin,
    "sim_pair_cos2_histogram" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |p AS (SELECT
        |    CAST(list_dot_product((a.qe)::DOUBLE[], (b.qe)::DOUBLE[])
        |      AS BIGINT) AS dot,
        |    CAST(list_dot_product((a.qe)::DOUBLE[], (a.qe)::DOUBLE[])
        |      AS BIGINT) AS na,
        |    CAST(list_dot_product((b.qe)::DOUBLE[], (b.qe)::DOUBLE[])
        |      AS BIGINT) AS nb
        |  FROM q a JOIN q b ON b.vec_id = a.vec_id + 1),
        |s AS (SELECT ((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
        |    * CAST(CAST(dot AS HUGEINT) * dot * 1000000
        |      // (CAST(na AS HUGEINT) * nb) AS BIGINT) + 1000000)
        |    // 100000 AS bucket
        |  FROM p)
        |SELECT bucket, count(*)::BIGINT AS n_pairs
        |FROM s GROUP BY 1 ORDER BY bucket""".stripMargin,
    "sim_split_centroid_check" ->
      """WITH q AS (SELECT label, vec_id % 2 AS half,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
        |      AS BIGINT) AS xq
        |  FROM embeddings),
        |c AS (SELECT label, half, dim, CAST(sum(xq) AS BIGINT) AS sq
        |  FROM q GROUP BY 1, 2, 3),
        |j AS (SELECT a.label,
        |    sum(CAST(a.sq AS HUGEINT) * b.sq) AS dot,
        |    sum(CAST(a.sq AS HUGEINT) * a.sq) AS na,
        |    sum(CAST(b.sq AS HUGEINT) * b.sq) AS nb
        |  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
        |    AND a.half = 0 AND b.half = 1
        |  GROUP BY 1),
        |nv AS (SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM embeddings GROUP BY 1)
        |SELECT j.label, n_a, n_b,
        |  CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
        |    * ((dot * dot * 1000000) // (na * nb)) AS BIGINT)
        |    AS cos2_signed_ppm
        |FROM j JOIN nv ON j.label = nv.label ORDER BY j.label""".stripMargin,
    "hybrid_search_rrf_batch" -> hybridRrfBatchOracleSql,
    "hybrid_search_weighted" -> hybridWeightedOracleSql,
    "hybrid_search_weighted_batch" -> hybridWeightedBatchOracleSql,
    "sim_ann_pq_recall" -> pqRecallOracleSql,
    "sim_ann_pq_rerank" -> pqRerankOracleSql,
    "sim_ann_pq_rerank_recall" -> pqRerankRecallOracleSql,
    "sim_quantized_topk" ->
      s"""WITH qtab AS (SELECT vec_id, ${quantSql("embedding")} AS qe FROM embeddings),
        |q AS (SELECT vec_id AS query_id, qe AS qv FROM qtab WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(${cosQSql("qv", "c.qe")}, 6) AS cos_sim
        |  FROM qtab c CROSS JOIN q WHERE c.vec_id <> query_id),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "sim_quantized_recall" -> recallOracleSql(
      preCtes =
        s"""qtab AS (SELECT vec_id, ${quantSql("embedding")} AS qe FROM embeddings),
          |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, t.qe AS qqv
          |  FROM embeddings e JOIN qtab t ON e.vec_id = t.vec_id
          |  WHERE e.vec_id < 10)""".stripMargin,
      annSelect =
        s"""SELECT query_id, c.vec_id AS neighbor_id, row_number() OVER
          |      (PARTITION BY query_id ORDER BY
          |        round(${cosQSql("qqv", "c.qe")}, 6) DESC, c.vec_id) AS rk
          |    FROM qtab c CROSS JOIN q WHERE c.vec_id <> query_id""".stripMargin),
    // SemDeDup mirror: the SAME Lloyd CTE the IVF/cluster oracles use —
    // centroids trained over the ORIGINALS (the frozen-quantizer epoch),
    // assignment over the dup-injected corpus; pairs form within
    // (cid, 2-bit sign) cells, survivors are ids with no smaller
    // near-dup in their cell
    "dedup_semantic" -> {
      val sb2c = (0 until 2).map(i =>
        s"(CASE WHEN (c.embedding)[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
      s"""WITH $dupVectorsSql,
        |${centTrainSql(ivfKSql, 2)},
        |casg AS (
        |  SELECT vec_id, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
        |  FROM corpus CROSS JOIN cents),
        |clusters AS (SELECT vec_id, cid FROM casg WHERE cr = 1),
        |v AS (SELECT c.vec_id, c.embedding, cl.cid,
        |    cl.cid::VARCHAR || '#' || ($sb2c)::VARCHAR AS bucket
        |  FROM corpus c JOIN clusters cl USING (vec_id)),
        |dropped AS (SELECT DISTINCT b.vec_id
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.995)
        |SELECT cl.vec_id, cl.cid AS cluster_id FROM clusters cl
        |WHERE cl.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin
    },
    "sim_cosine_neardup" -> {
      val sb2 = (0 until 2).map(i =>
        s"(CASE WHEN (embedding)[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
      s"""WITH $dupVectorsSql,
        |v AS (SELECT label::VARCHAR || '#' || ($sb2)::VARCHAR AS bucket,
        |  vec_id, embedding FROM corpus)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos_sim
        |FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.995
        |ORDER BY id_a, id_b""".stripMargin
    },
    "sim_cosine_incremental" -> {
      val sb2 = (0 until 2).map(i =>
        s"(CASE WHEN (embedding)[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
      s"""WITH $dupVectorsSql,
        |v AS (SELECT label::VARCHAR || '#' || ($sb2)::VARCHAR AS bucket,
        |  vec_id, embedding FROM corpus)
        |SELECT b.vec_id AS new_id, a.vec_id AS old_id,
        |  round(${cosSql("b.embedding", "a.embedding")}, 6) AS cos_sim
        |FROM v a JOIN v b ON a.bucket = b.bucket
        |  AND a.vec_id < 100000 AND b.vec_id >= 100000
        |WHERE round(${cosSql("b.embedding", "a.embedding")}, 6) >= 0.995
        |ORDER BY new_id, old_id""".stripMargin
    },
    "sim_ann_ivf" -> ivfOracleSql,
    "sim_hard_negatives" ->
      s"""WITH ${centTrainSql(ivfKSql, 2)},
        |asg AS (
        |  SELECT vec_id, embedding, cid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY round(${cosSql("embedding", "cv")}, 6) DESC, cid) AS cr
        |  FROM embeddings CROSS JOIN cents),
        |lists AS (SELECT cid AS list_id, vec_id, embedding FROM asg WHERE cr = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv, cid AS list_id FROM (
        |    SELECT query_id, qv, cid, row_number() OVER
        |      (PARTITION BY query_id ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, cid) AS cr
        |    FROM q CROSS JOIN cents) pq WHERE cr <= 4),
        |scored AS (
        |  SELECT query_id, l.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "l.embedding")}, 6) AS cos_sim
        |  FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
        |band AS (SELECT * FROM scored
        |  WHERE cos_sim >= 0.30 AND cos_sim < 0.90),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM band)
        |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // the filtered probe: same coarse CTEs, candidates restricted to
    // the query's label before ranking
    "sim_ann_ivf_filtered" ->
      s"""WITH $ivfFilteredProbeCtes
        |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
        |ORDER BY query_id, rk""".stripMargin,
    // truth restricted to the query's label — the population the
    // filtered probe serves from
    "sim_ann_ivf_filtered_recall" ->
      s"""WITH $ivfFilteredProbeCtes,
        |bruteF AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(${cosSql("q.qv", "b.embedding")}, 6) DESC,
        |          b.vec_id) AS rk
        |    FROM q JOIN embeddings b
        |      ON b.label = q.qlabel AND b.vec_id <> q.query_id) t
        |  WHERE rk <= 3),
        |ann AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 3),
        |hits AS (SELECT bruteF.query_id, count(*)::BIGINT AS n_hit
        |  FROM bruteF JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM q LEFT JOIN hits ON hits.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    // the persisted lists are the k-means assignment partitioned out —
    // same shared CTE chain as sim_cluster_assignments, aggregated
    "sim_ann_ivf_stats" ->
      s"""WITH $clusterAssignCtes
        |SELECT cid AS list_id, count(*) AS n_vectors FROM clusters
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_cluster_assignments" ->
      s"""WITH $clusterAssignCtes
        |SELECT vec_id, cid AS cluster_id FROM clusters
        |ORDER BY vec_id""".stripMargin,
    // float centroid train/assign/probe CTEs shared with the plain IVF
    // mirror; only the list payload and the candidate score quantize
    "sim_ann_ivf_sq8" -> ivfSq8OracleSql,
    // the persisted-index probes are defined to be result-identical to
    // their in-memory passes (shared assignment/probe/rank code + the
    // same deterministic Lloyd training) — one oracle, two plans
    "sim_ann_ivf_indexed" -> ivfOracleSql,
    "sim_ann_ivf_sq8_indexed" -> ivfSq8OracleSql,
    "sim_ann_ivf_sq8_recall" -> ivfSq8RecallOracleSql,
    "sim_ann_ivf_sq8_indexed_recall" -> ivfSq8RecallOracleSql,
    "sim_ann_ivf_recall" ->
      ivfRecallOracleOver("", "embeddings", "embeddings", ivfKSql),
    "sim_ann_lsh_multiprobe" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    ${bucketSql("embedding")} AS qbucket FROM embeddings WHERE vec_id < 10),
        |pm AS (SELECT query_id, qv, xor(qbucket, m.m) AS probe
        |  FROM q, LATERAL unnest([0, 1, 2, 4, 8]) AS m(m)),
        |c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(${cosSql("qv", "c.embedding")}, 6) AS cos_sim
        |  FROM c JOIN pm ON c.bucket = pm.probe AND c.vec_id <> pm.query_id),
        |ranked AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 3
        |ORDER BY query_id, rk""".stripMargin,
    "sim_ann_lsh_multiprobe_recall" -> recallOracleSql(
      preCtes =
        s"""q AS (SELECT vec_id AS query_id, embedding AS qv,
          |    ${bucketSql("embedding")} AS qbucket FROM embeddings WHERE vec_id < 10),
          |pm AS (SELECT query_id, qv, xor(qbucket, m.m) AS probe
          |  FROM q, LATERAL unnest([0, 1, 2, 4, 8]) AS m(m)),
          |c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)""".stripMargin,
      annSelect =
        s"""SELECT pm.query_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER
          |      (PARTITION BY pm.query_id ORDER BY
          |        round(${cosSql("qv", "c.embedding")}, 6) DESC, c.vec_id) AS rk
          |    FROM c JOIN pm ON c.bucket = pm.probe AND c.vec_id <> pm.query_id""".stripMargin),
    "sim_ann_recall" -> recallOracleSql(
      preCtes =
        s"""q AS (SELECT vec_id AS query_id, embedding AS qv,
          |    ${bucketSql("embedding")} AS qbucket FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)""".stripMargin,
      annSelect =
        s"""SELECT query_id, c.vec_id AS neighbor_id, row_number() OVER
          |      (PARTITION BY query_id ORDER BY
          |        round(${cosSql("qv", "c.embedding")}, 6) DESC, c.vec_id) AS rk
          |    FROM c JOIN q ON c.bucket = q.qbucket AND c.vec_id <> q.query_id""".stripMargin)) ++
    servedFamilies.flatMap(lifecycleEntries).map {
      case (name, _, sql) => name -> sql }
}
