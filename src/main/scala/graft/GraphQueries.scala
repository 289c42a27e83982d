package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{GraphOps, IndexFamily, VectorOps}
import SimilarityQueries.{append, base, compact, delete, pointer, retrain}

/** Oracle-gated graph-analytics queries over the co-purchase graph
  * (see [[graft.operators.GraphOps]] for the graph model and the
  * integer-ppb quantization that keeps Spark and DuckDB bit-equal). */
object GraphQueries {

  /** The backbone + 3-iteration PageRank CTE chain shared by the
    * oracle. Every intermediate state is AS MATERIALIZED — DuckDB
    * inlines CTEs per reference, and each rank state is referenced
    * through both the join and the next state (the r15 exponential
    * blow-up trap). */
  private[graft] val backboneSql =
    """SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // degree distribution of the FULL co-purchase graph (epoch-read)
    "graph_degree" -> ((s, dir) =>
      GraphOps.degreeDistribution(s, dir)
        .orderBy(col("deg"))),
    // 3-iteration damped PageRank on the support>=2 backbone, top-50
    "graph_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(s, dir, iters = 3)
        .orderBy(col("rank_ppb").desc, col("node")).limit(50)),
    // ...and the WEIGHT-PROPORTIONAL surfer over the same backbone —
    // rank flows along each edge in proportion to its co-purchase
    // count (the ranking a recommender would actually serve); same
    // integer-ppb discipline, kept alongside the structural variant
    "graph_pagerank_weighted" -> ((s, dir) =>
      GraphOps.pageRankWeighted(s, dir, iters = 3)
        .orderBy(col("rank_ppb").desc, col("node")).limit(50)),
    // the weighted surfer's per-iteration convergence monitor: max and
    // total absolute rank movement in ppb — the observable a 100 TB
    // PageRank run stops on (both columns shrink monotonically here,
    // which is the gate's point)
    "graph_pagerank_delta" -> ((s, dir) =>
      GraphOps.pageRankWeightedDeltas(s, dir, iters = 3)
        .orderBy(col("iter"))),
    // PERSONALIZED PageRank from a 5-node seed basket (teleport mass on
    // the seeds only — rank = proximity to the basket, the graph
    // recommendation serving form; iteration state grows only along
    // real edges from the seeds, never materializing the full graph)
    "graph_ppr" -> ((s, dir) =>
      GraphOps.pageRankPersonalized(s, dir, iters = 3, nSeeds = 5)
        .orderBy(col("rank_ppb").desc, col("node")).limit(30)),
    // DEGREE ASSORTATIVITY: do hubs attach to hubs? Pearson corr of
    // endpoint degrees over the symmetric edge list — exact decimal
    // sums, one identical final double expression (corr discipline)
    "graph_assortativity" -> ((s, dir) =>
      GraphOps.assortativity(s, dir)),
    // POWER-LAW TAIL EXPONENT of the degree distribution — the Hill /
    // continuous-MLE estimator (Clauset, Shalizi & Newman 2009):
    // α = 1 + n / Σ ln(dᵢ/d_min) over the d ≥ d_min = 2 tail; the
    // one-number "is this graph scale-free?" diagnostic. Per-node ln
    // terms quantize floor(1e6·ln(d/2)) and group-fold over the
    // DEGREE-DISTRIBUTION rows (deg-bounded, not node-bounded);
    // n_tail·1e12 stays in BIGINT to ~9×10⁶ tail nodes — widen to
    // DECIMAL past that.
    "graph_powerlaw_alpha" -> ((s, dir) =>
      GraphOps.degreeDistribution(s, dir)
        .filter(col("deg") >= 2)
        .select(col("n_nodes"),
          (col("n_nodes") * floor(lit(1000000.0) *
            log(col("deg").cast("double") / lit(2.0))).cast("long"))
            .as("lterm"))
        .agg(sum(col("n_nodes")).as("n_tail"), sum(col("lterm")).as("lsum"))
        .select(col("n_tail"), col("lsum"),
          expr("""CASE WHEN lsum = 0 THEN NULL
            |ELSE 1000000 + (n_tail * 1000000000000) div lsum END"""
            .stripMargin).as("alpha_e6"))),
    // EDGE EMBEDDEDNESS: neighborhood-Jaccard tie strength of every
    // existing backbone edge — high = redundant intra-community tie,
    // zero = Granovetter bridge; the edge-level complement of the
    // link predictor (absent pairs) and triangles (nodes)
    "graph_edge_embeddedness" -> ((s, dir) =>
      GraphOps.edgeEmbeddedness(s, dir, k = 30)),
    // HITS hubs & authorities (2 iterations) on the DIRECTED backbone —
    // the mutual-reinforcement pair PageRank can't express; ppm-of-L1
    // integer normalization per half-iteration (see GraphOps.hits for
    // the BIGINT bound)
    "graph_hits" -> ((s, dir) =>
      GraphOps.hits(s, dir, iters = 2)
        .orderBy(col("auth_ppm").desc, col("node")).limit(40)),
    // Newman modularity of the 4-round LP partition — the one-number
    // "did the clustering find real structure?" verdict (Q > 0 ⇔ more
    // intra-community edges than a degree-preserving random rewiring);
    // exact BIGINT ratio quantized to ppm
    "graph_modularity" -> ((s, dir) =>
      GraphOps.modularity(s, dir, rounds = 4)),
    // link prediction by the resource-allocation index: non-adjacent
    // 2-hop pairs scored Σ 1e9 div deg(common neighbor) — "edges that
    // should exist next", the integer-exact common-neighbor scorer
    "graph_link_predict" -> ((s, dir) =>
      GraphOps.linkPredictRa(s, dir, k = 50)),
    // 2-CORE of the backbone via 8 synchronous peel rounds: per
    // surviving node, its within-core degree — the dense-cohesion cut
    // that strips the fringe before community detection
    "graph_kcore" -> ((s, dir) =>
      GraphOps.kCore(s, dir, kMin = 2, rounds = 8)
        .orderBy(col("node"))),
    // ...and the peel-depth audit: the last two rounds' edge counts
    // must agree (a shrinking sequence that stopped moving has
    // converged) — an under-provisioned round count is loud
    "graph_kcore_check" -> ((s, dir) =>
      GraphOps.kCoreCheck(s, dir, kMin = 2, rounds = 8)),
    // exact triangle enumeration on the backbone
    "graph_triangles" -> ((s, dir) =>
      GraphOps.triangles(s, dir).orderBy(col("a"), col("b"), col("c"))),
    // DEGREE GINI — inequality of connectivity (0 = regular graph,
    // → 1 = one hub owns every edge), the one-number skew summary
    // beside the power-law tail fit. Computed EXACTLY on the
    // deg-bounded DISTRIBUTION rows, never per-node ranks: a value v
    // with multiplicity m starting after cumulative count c
    // contributes v·(m·c + m(m+1)/2) to Σ rank·x (the closed-form
    // group rank-sum), then G = (2Σ − (n+1)·Σx)·1e6 div (n·Σx). The
    // cumulative window rides the degree grid. srx is rank-weighted
    // (bounded by n·Σdeg) so the accumulators and the 2·srx·1e6
    // product run in DECIMAL(38,0) (HUGEINT on the oracle) — the
    // stats_corr_matrix discipline; BIGINT would overflow near
    // Σ(deg·rank) ≈ 4.6e12, far below graph sizes the siblings claim.
    "graph_degree_gini" -> ((s, dir) => {
      val dd = GraphOps.degreeDistribution(s, dir)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("deg"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      dd.withColumn("c",
          coalesce(sum(col("n_nodes")).over(w), lit(0L)))
        .select(col("deg"), col("n_nodes"), col("c"))
        .agg(sum(col("n_nodes")).as("n"),
          sum(col("deg").cast("decimal(38,0)") * col("n_nodes")).as("sx"),
          sum(col("deg").cast("decimal(38,0)") * (col("n_nodes") * col("c") +
            expr("n_nodes * (n_nodes + 1) div 2"))).as("srx"))
        .select(col("n"), col("sx").cast("long").as("sx"),
          expr("(2 * srx - (n + 1) * sx) * 1000000 div (n * sx)")
            .as("gini_ppm"))
    }),
    // DEGREE–CLUSTERING PROFILE — mean local clustering per degree
    // value, the C(k) curve whose power-law decay signals HIERARCHY
    // (Ravasz–Barabási: flat C(k) = no modular nesting, C(k) ~ 1/k =
    // nested modules); the degree-conditional view the single global
    // transitivity number and the per-node LCC table both hide. One
    // degree-keyed agg over the already-computed LCC frame; mean is
    // the truncating ppm div (values non-negative).
    "graph_degree_clustering_profile" -> ((s, dir) =>
      GraphOps.localClustering(s, dir)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_nodes"),
          expr("sum(lcc_ppm) div count(1)").as("mean_lcc_ppm"))
        .orderBy(col("d"))),
    // COMPONENT-SIZE HISTOGRAM over the 4-round LP labels — the
    // summary a 100 TB operator reads BEFORE pulling the full label
    // table: "one giant component + dust, or fragmented?"; sizes from
    // a label-keyed count, histogram from a size-keyed count
    "graph_component_sizes" -> ((s, dir) =>
      GraphOps.labelPropagation(s, dir, rounds = 4)
        .groupBy(col("lab")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
        .orderBy(col("size"))),
    // RICH-CLUB coefficient over a small degree-cutoff grid — "do the
    // hubs wire to each other?" (the φ(k) > density signal beside the
    // assortativity number, which answers the same question as one
    // global correlation); cutoffs with < 2 qualifying nodes drop out
    "graph_rich_club" -> ((s, dir) =>
      GraphOps.richClub(s, dir, ks = Seq(1L, 2L, 4L, 8L))),
    // 4-hop BFS shell from the minimum part key — per-node hop
    // distance over the symmetric backbone (full reachable table
    // gated; PPR measures mass, this measures hops)
    "graph_bfs_depths" -> ((s, dir) =>
      GraphOps.bfsDepths(s, dir, maxDepth = 4)
        .orderBy(col("node"))),

    // bounded-horizon HARMONIC centrality of the 10 top-degree hubs:
    // H(r) = Σ 1/d(r,u) over 0 < d ≤ 4, 1/d as precomputed ppm
    // literals (integer-exact sums, no query-time division). Exact
    // harmonic needs all-pairs distances; the hub-probe bounded form
    // is the one that survives scale (k·frontier work per BFS level —
    // the bfs_depths machinery with the root threaded through).
    "graph_harmonic_centrality" -> ((s, dir) =>
      GraphOps.harmonicCentrality(s, dir, k = 10, maxDepth = 4)),
    // GLOBAL TRANSITIVITY — 3·triangles / wedges in ppm, the
    // one-number closure ratio beside the per-node LCC table (they
    // answer different questions: transitivity weights hubs by their
    // wedge count, mean-LCC weights every node equally)
    "graph_transitivity" -> ((s, dir) =>
      GraphOps.transitivity(s, dir)),
    // per-node LOCAL CLUSTERING COEFFICIENT — 2T(v)/(d(v)(d(v)−1)) ppm
    // from exact triangle corner counts; the per-node texture the
    // global transitivity number hides (full node table gated)
    "graph_local_clustering" -> ((s, dir) =>
      GraphOps.localClustering(s, dir).orderBy(col("node"))),
    // 4-round min-label propagation: per-node component label (the
    // full label table is the gate — one histogram row would hide
    // every mis-propagated node)
    "graph_components_lp" -> ((s, dir) =>
      GraphOps.labelPropagation(s, dir, rounds = 4)
        .orderBy(col("node"))),
    // k-means-cell-seeded, NN-descent-refined k-NN graph over the
    // embedding corpus (k=3, 4-cell seed probe, 2 descent rounds — the
    // 4-sign-bit LSH seed was rejected at recall 0.12, see GraphOps) —
    // the graph-construction half of graph-based semantic clustering;
    // full ranked edge table gated
    "graph_knn_edges" -> ((s, dir) =>
      GraphOps.knnEdges(s, dir)
        .select(col("src"), col("dst"), col("cos_sim"), col("rk"))
        .orderBy(col("src"), col("rk"))),
    // the kNN graph's recall audit (every approximate path carries
    // one): per-node overlap of the cell-seeded NN-descent edge set vs
    // the exact cosine top-3 — brute ground truth over the full node
    // set at fixture scale (a deployment audits a node SAMPLE the same
    // way)
    "graph_knn_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityQueries.recallAudit(emb, emb, GraphOps.knnEdges(s, dir)
        .select(col("src").as("query_id"), col("dst").as("neighbor_id")))
    }),
    // graph-based ANN serving (the HNSW-class family): greedy beam
    // search over the kNN graph — fixed entry sample, 3 expand-and-
    // rerank rounds at beam 8, final top-3; the corpus is never
    // scanned at serving time, the index IS the graph
    "sim_ann_graph" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      GraphOps.graphSearch(s, dir, q, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // ...and its recall audit against the exact top-3 (the family
    // discipline: every approximate serving path ships one)
    "sim_ann_graph_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityQueries.recallAudit(emb,
        GraphOps.graphSearch(s, dir, emb.filter(col("vec_id") < 10),
          k = SimilarityQueries.recallK))
    }),
    // semantic clusters: 4-round min-label propagation over the
    // MUTUAL-kNN edge set, seeded with every corpus vector (isolated
    // vectors = singleton clusters) — per-node label table gated
    "graph_knn_components" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("node"))
      GraphOps.labelPropagationOver(nodes,
          GraphOps.mutualKnnEdges(GraphOps.knnEdges(s, dir)), rounds = 4)
        .orderBy(col("node"))
    }),
    // incremental graph INSERT (the NSW append): each appended
    // vector's out-edges = its beam-walk top-3 over the frozen graph;
    // gate = the new nodes' full edge table vs the walk replayed in SQL
    "sim_ann_graph_appended" -> ((s, dir) => {
      s.read.parquet(GraphOps.knnAppendDir(s, dir))
        .filter(col("src") >= 100000)
        .select(col("src"), col("dst"), col("cos_sim"), col("rk"))
        .orderBy(col("src"), col("rk"))
    }),
    // ...and the insert's recall audit: the new nodes are exact dups,
    // so their true top-1 is the original twin — per-node overlap vs
    // the exact corpus top-3 gates that the walk actually found it
    "sim_ann_graph_appended_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val batch = SimilarityQueries.dupVectors(emb)
        .filter(col("vec_id") >= 100000)
      SimilarityQueries.recallAudit(batch, emb,
        s.read.parquet(GraphOps.knnAppendDir(s, dir))
          .filter(col("src") >= 100000)
          .select(col("src").as("query_id"), col("dst").as("neighbor_id")))
    }),
    // graph HEALTH monitor (the family's near-metadata check, like the
    // compaction/retrain checks the other serving families carry):
    // mutual-degree histogram — isolated nodes (degree 0) are vectors
    // the graph cannot route through; their share growing is the
    // rebuild signal
    "graph_knn_health" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("node"))
      val mut = GraphOps.mutualKnnEdges(GraphOps.knnEdges(s, dir))
      val sym = mut.select(col("src").as("node"))
        .unionAll(mut.select(col("dst").as("node")))
      val deg = sym.groupBy(col("node")).agg(count(lit(1)).as("degree"))
      nodes.join(deg, Seq("node"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),
    // cluster PURITY audit (the clustering twin of the recall audits):
    // per cluster, size + majority ground-truth label + its share —
    // embeddings carry a label column, so the semantic clusters can be
    // judged against it; majority tie-break = smaller label
    "graph_knn_purity" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir)
        .select(col("vec_id").as("node"), col("label"))
      val lab = GraphOps.labelPropagationOver(
        nodes.select(col("node")),
        GraphOps.mutualKnnEdges(GraphOps.knnEdges(s, dir)), rounds = 4)
      val cl = lab.join(nodes, Seq("node"))
        .groupBy(col("lab"), col("label")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lab")).orderBy(col("c").desc, col("label"))
      cl.withColumn("rn", row_number().over(w))
        .groupBy(col("lab"))
        .agg(sum(col("c")).as("n"),
          max(when(col("rn") === 1, col("label"))).as("majority_label"),
          max(when(col("rn") === 1, col("c"))).as("majority_n"))
        .select(col("lab").as("cluster_id"), col("n"),
          col("majority_label"),
          expr("majority_n * 1000000 div n").as("purity_ppm"))
        .orderBy(col("cluster_id"))
    }),

    // ------- the kNN-graph family's persisted-generation lifecycle
    // (r17, VERDICT r16 #1): the same gated entry set every other ANN
    // serving family carries -------

    // the SERVED generation: probe of the catalog graph index (edges +
    // nodes + cells + cents tables — the index CARRIES its vectors,
    // DiskANN-style, so the lake is never scanned) must hash-match the
    // session-epoch walk: same oracle, another plan
    "sim_ann_graph_indexed" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      GraphOps.probeGraphIndex(s, base(s, dir, graph), q, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // ...and through the atomic catalog pointer (Generations
    // .publishPointer over all four suffixes): promotion is ONE view
    // replace, probes resolve a whole generation or none of it
    "sim_ann_graph_published" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      GraphOps.probeGraphIndex(s, pointer(s, dir, graph), q, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // DELETE maintenance: hamming-0-class poison twins of the probe
    // queries admitted through the append walk (entry-cell members at
    // cos 1.0 — a leak IS the rank-1 result), then tombstoned; the
    // probe must hash-match the untouched base walk
    "sim_ann_graph_deleted" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      GraphOps.probeGraphIndex(s, delete(s, dir, graph), q, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // COMPACTION: the delete epoch's tombstones settled physically
    // (dead ids purged from nodes, cells, AND the adjacency both ways);
    // exclusion ≡ purge by construction, so the compacted probe shares
    // the deleted probe's oracle
    "sim_ann_graph_compacted" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      GraphOps.probeGraphIndex(s, compact(s, dir, graph), q, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // UPDATE maintenance: the %20==0 dup wave admitted CORRUPTED
    // (negated embeddings — flipped walk scores), then upserted with
    // the true vectors: the generation-step prunes the stale rows and
    // re-walks the wave over the pruned frozen graph, so the settled
    // out-edges must equal the clean append walk's (the heal gate)
    "sim_ann_graph_updated" -> ((s, dir) =>
      s.table(s"${graphUpdateIndexFor(s, dir)}_edges")
        .filter(col("src") >= 100000)
        .select(col("src"), col("dst"), col("cos_sim"), col("rk"))
        .orderBy(col("src"), col("rk"))),
    // the family's retrain DECISION over the appended generation's
    // entry cells — frozen assignment makes its populations identical
    // to the IVF families' appended lists, so they share one mirror
    "sim_ann_graph_retrain_check" -> ((s, dir) =>
      VectorOps.retrainCheck(s, append(s, dir, graph) + "_cells",
        rowsPerVector = 1)),
    // RETRAIN execution: full rebuild over the live corpus read back
    // from the appended generation's own nodes — fresh quantizer with
    // re-derived K, fresh cells, fresh NN-descent edges; the ranked
    // adjacency must equal a from-scratch build over the union corpus,
    // which is exactly what the corpus-parameterized mirror computes
    "sim_ann_graph_retrained" -> ((s, dir) =>
      s.table(s"${retrain(s, dir, graph)}_edges")
        .select(col("src"), col("dst"), col("cos_sim"), col("rk"))
        .orderBy(col("src"), col("rk"))),
    // METADATA-FILTERED walk (the production "vector search with
    // attribute filter", completing the family's probe symmetry with
    // sim_ann_ivf_filtered): candidates label-match BEFORE every rank
    // — the walk routes through the label's own subgraph
    "sim_ann_graph_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      GraphOps.probeGraphIndexFiltered(s, base(s, dir, graph),
          emb.filter(col("vec_id") < 10), emb, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // ...the filtered walk's recall audit vs the LABEL-RESTRICTED exact
    // top-3 (r18 — the filtered probes were the two approximate paths
    // without one; the unfiltered truth would count forbidden
    // neighbors as misses)
    "sim_ann_graph_filtered_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityQueries.filteredRecallAudit(emb,
        GraphOps.probeGraphIndexFiltered(s, base(s, dir, graph),
          emb.filter(col("vec_id") < 10), emb,
          k = SimilarityQueries.recallK))
    }),
    // the STITCHED filtered walk (r18 — the FilteredDiskANN-style fix
    // the filtered recall audit called for): frontier expansion routes
    // through the LABEL-AWARE adjacency (the union of per-label kNN
    // subgraphs, built in one pass — the seed join matches the label,
    // descent is label-closed), so beam slots stop burning on
    // inadmissible candidates; recall@3 0.70 → 0.93 at sf0.01 at the
    // same entry width
    "sim_ann_graph_filtered_stitched" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      GraphOps.graphSearchFilteredStitched(s, dir,
          emb.filter(col("vec_id") < 10), emb, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // ...its recall audit vs the label-restricted exact top-3
    "sim_ann_graph_filtered_stitched_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityQueries.filteredRecallAudit(emb,
        GraphOps.graphSearchFilteredStitched(s, dir,
          emb.filter(col("vec_id") < 10), emb,
          k = SimilarityQueries.recallK))
    }),
    // SHORTLIST → EXACT-RE-RANK serving (r18, VERDICT r17 #2 — the last
    // asymmetry in the seven-family serving matrix): a widened beam-16
    // walk produces the shortlist, the shortlist alone re-scores by
    // exact cosine against the index's own full-precision `_nodes`
    // rows, top-3 served — the PQ/IVF-PQ re-rank composition expressed
    // for the family whose index already carries its vectors
    "sim_ann_graph_rerank" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      GraphOps.probeGraphIndexRerank(s, base(s, dir, graph), q, k = 3)
        .orderBy(col("query_id"), col("rk"))
    }),
    // ...and its recall audit vs the exact top-3 (the family
    // discipline; the wider frontier must hold the serve floor)
    "sim_ann_graph_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityQueries.recallAudit(emb,
        GraphOps.probeGraphIndexRerank(s, base(s, dir, graph),
          emb.filter(col("vec_id") < 10), k = SimilarityQueries.recallK))
    }),
    // index MONITORING: per-cell member counts of the persisted graph
    // index — the entry-cost signal (the graph twin of
    // sim_ann_ivf_stats; the cells ARE the k-means assignment, so they
    // share its mirror)
    "sim_ann_graph_stats" -> ((s, dir) =>
      s.table(s"${base(s, dir, graph)}_cells")
        .groupBy(col("list_id")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("list_id"))),
    // compaction-cadence DECISION for the graph family (the shared
    // Generations.compactionCheck over the delete epoch's node
    // relation): ten poison tombstones against the corpus — ~1‰,
    // under the 50‰ threshold, so the FALSE branch gates (the same
    // fixture as the IVF families' monitors — shared mirror)
    "sim_ann_graph_compaction_check" -> ((s, dir) => {
      val gen = delete(s, dir, graph)
      graft.operators.Generations.compactionCheck(s, gen,
        s.table(s"${gen}_nodes"))
    }),
    // ...and the retrained generation's recall audit vs exact top-3
    // over the union corpus (the family discipline: every approximate
    // path carries one)
    "sim_ann_graph_retrained_recall" -> ((s, dir) => {
      val corpus = SimilarityQueries.dupVectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"))
      SimilarityQueries.recallAudit(corpus, corpus,
        s.table(s"${retrain(s, dir, graph)}_edges")
          .select(col("src").as("query_id"), col("dst").as("neighbor_id")))
    }))

  // ---------------- graph-index generation epochs (r17) ----------------

  /** The graph row of the family table: the SERVED generation copies
    * the session's kNN epoch artifacts (quantizer, cells, NN-descent
    * edges) to catalog tables plus the `_nodes` vector payload — the
    * kNN epochs resolve in `build`, BEFORE the base acquire (the
    * nested-computeIfAbsent flake). Compaction settles the delete
    * generation's tombstones (dead ids purged from nodes, cells AND the
    * adjacency both ways); retrain rebuilds from the appended
    * generation's own nodes ([[GraphOps.retrainGraphIndex]]). */
  private[graft] val graph: SimilarityQueries.Lifecycle =
    SimilarityQueries.Lifecycle("graph", IndexFamily.graph,
      build = (s, dir) => {
        val centsP = GraphOps.centsDir(s, dir)
        val cellsP = GraphOps.cellsDir(s, dir)
        val edgesP = GraphOps.knnGraphDir(s, dir)
        (table, path) => {
          s.read.parquet(centsP).write.mode("overwrite").format("parquet")
            .option("path", s"$path/cents").saveAsTable(s"${table}_cents")
          s.read.parquet(cellsP).select(col("vec_id"), col("list_id"))
            .write.mode("overwrite").format("parquet").partitionBy("list_id")
            .option("path", s"$path/cells").saveAsTable(s"${table}_cells")
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").format("parquet")
            .option("path", s"$path/nodes").saveAsTable(s"${table}_nodes")
          s.read.parquet(edgesP)
            .select(col("src"), col("dst"), col("cos_sim"), col("rk"))
            .write.mode("overwrite").format("parquet")
            .option("path", s"$path/edges").saveAsTable(s"${table}_edges")
        }
      },
      compactFrom = delete,
      retrain = Some((s, src, dest, path, _) =>
        GraphOps.retrainGraphIndex(s, src, dest, path)),
      derive = None)

  /** UPDATE epoch: the %20==0 dup wave admitted with NEGATED vectors
    * (corrupted scores), healed by the graph row's
    * [[IndexFamily.upsert]] with the true vectors. Returns the settled
    * generation. */
  private[graft] def graphUpdateIndexFor(s: SparkSession,
      dir: String): String = {
    val gen = base(s, dir, graph)
    EpochRegistry.acquire(s, "graph_update_index", dir) { () =>
      val src = "graft_graph_upd_src_" + EpochRegistry.freshId()
      val dest = "graft_graph_upd_" + EpochRegistry.freshId()
      val paths = Seq.fill(2)(EpochRegistry.tmpDir("graft_graph_upd_"))
      graph.family.cloneTo(s, gen, src, paths(0))
      val wave = SimilarityQueries.dupVectors(Tables.embeddings(s, dir))
        .filter(col("vec_id") >= 100000 && col("vec_id") % 20 === 0)
      graph.family.append(s, src,
        wave.select(col("vec_id"),
          expr("transform(embedding, x -> -x)").cast("array<float>")
            .as("embedding")))
      graph.family.upsert(s, src, dest, paths.drop(1),
        wave.select(col("vec_id"), col("embedding")))
      EpochRegistry.Resource(dest,
        dropTables = Seq(src, dest).flatMap(t =>
          IndexFamily.generationTables(graph.family).map(t + _)),
        deleteDirs = paths)
    }
  }

  def oracle: Map[String, String] = Map(
    "graph_degree" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT src AS node FROM pairs UNION ALL SELECT dst FROM pairs),
        |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node)
        |SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg""".stripMargin,
    "graph_pagerank" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |nn AS MATERIALIZED (SELECT count(DISTINCT src) AS n FROM sym),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM sym GROUP BY src),
        |r0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, 1000000000 // (SELECT n FROM nn) AS r FROM sym),
        |base AS MATERIALIZED (
        |  SELECT (150 * (1000000000 // n)) // 1000 AS b FROM nn),
        |r1 AS MATERIALIZED (
        |  SELECT s.dst AS node,
        |    (SELECT b FROM base) + CAST(SUM((850 * r0.r) // (1000 * d.outdeg)) AS BIGINT) AS r
        |  FROM sym s JOIN r0 ON s.src = r0.node JOIN deg d ON s.src = d.node
        |  GROUP BY s.dst),
        |r2 AS MATERIALIZED (
        |  SELECT s.dst AS node,
        |    (SELECT b FROM base) + CAST(SUM((850 * r1.r) // (1000 * d.outdeg)) AS BIGINT) AS r
        |  FROM sym s JOIN r1 ON s.src = r1.node JOIN deg d ON s.src = d.node
        |  GROUP BY s.dst),
        |r3 AS MATERIALIZED (
        |  SELECT s.dst AS node,
        |    (SELECT b FROM base) + CAST(SUM((850 * r2.r) // (1000 * d.outdeg)) AS BIGINT) AS r
        |  FROM sym s JOIN r2 ON s.src = r2.node JOIN deg d ON s.src = d.node
        |  GROUP BY s.dst)
        |SELECT node, r AS rank_ppb FROM r3
        |ORDER BY rank_ppb DESC, node LIMIT 50""".stripMargin,
    "graph_pagerank_weighted" ->
      s"""WITH $weightedPrCtes
        |SELECT node, r AS rank_ppb FROM r3
        |ORDER BY rank_ppb DESC, node LIMIT 50""".stripMargin,
    "graph_assortativity" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS d FROM sym GROUP BY 1),
        |s AS (SELECT count(*)::HUGEINT AS n,
        |    sum(CAST(dx.d AS HUGEINT)) AS sx,
        |    sum(CAST(dx.d AS HUGEINT) * dx.d) AS sxx,
        |    sum(CAST(dx.d AS HUGEINT) * dy.d) AS sxy
        |  FROM sym e JOIN deg dx ON e.src = dx.node
        |  JOIN deg dy ON e.dst = dy.node)
        |SELECT CAST(n AS BIGINT) AS n_directed_edges,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS assortativity
        |FROM s""".stripMargin,
    "graph_powerlaw_alpha" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT src AS node FROM pairs UNION ALL SELECT dst FROM pairs),
        |deg AS (SELECT node, count(*)::BIGINT AS deg FROM sym GROUP BY node),
        |dd AS (SELECT deg, count(*)::BIGINT AS n_nodes FROM deg GROUP BY deg),
        |t AS (SELECT n_nodes, n_nodes *
        |    CAST(floor(1000000 * ln(CAST(deg AS DOUBLE) / 2.0)) AS BIGINT)
        |      AS lterm
        |  FROM dd WHERE deg >= 2),
        |a AS (SELECT sum(n_nodes)::BIGINT AS n_tail,
        |    sum(lterm)::BIGINT AS lsum FROM t)
        |SELECT n_tail, lsum,
        |  CASE WHEN lsum = 0 THEN NULL
        |    ELSE 1000000 + (n_tail * 1000000000000) // lsum END AS alpha_e6
        |FROM a""".stripMargin,
    "graph_edge_embeddedness" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS d FROM sym GROUP BY 1),
        |cnb AS (SELECT e.src AS a, e.dst AS b, count(*)::BIGINT AS nc
        |  FROM backbone e JOIN sym x ON x.src = e.src
        |  JOIN sym y ON y.src = e.dst AND y.dst = x.dst
        |  GROUP BY 1, 2),
        |base AS (SELECT e.src AS a, e.dst AS b, coalesce(cnb.nc, 0) AS nc
        |  FROM backbone e LEFT JOIN cnb ON cnb.a = e.src AND cnb.b = e.dst)
        |SELECT base.a, base.b, nc AS n_common, da.d AS da, db.d AS db,
        |  nc * 1000000 // (da.d + db.d - 2 - nc) AS embed_ppm
        |FROM base JOIN deg da ON base.a = da.node
        |JOIN deg db ON base.b = db.node
        |WHERE da.d + db.d - 2 - nc > 0
        |ORDER BY embed_ppm DESC, a, b LIMIT 30""".stripMargin,
    "graph_hits" -> {
      // one normalized half-iteration: pull across key→out, L1-ppm
      def pull(out: String, in: String, key: String, dst: String) =
        s"""${out}raw AS MATERIALIZED (
          |  SELECT e.$dst AS node, CAST(sum($in.s) AS BIGINT) AS raw
          |  FROM backbone e JOIN $in ON e.$key = $in.node GROUP BY e.$dst),
          |${out}t AS (SELECT CAST(sum(raw) AS BIGINT) AS t FROM ${out}raw),
          |$out AS MATERIALIZED (
          |  SELECT node, (raw * 1000000) // (SELECT t FROM ${out}t) AS s
          |  FROM ${out}raw)""".stripMargin
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |h0 AS MATERIALIZED (
        |  SELECT node, CAST(1000000 AS BIGINT) AS s FROM (
        |    SELECT DISTINCT src AS node FROM backbone
        |    UNION SELECT DISTINCT dst FROM backbone)),
        |${pull("a1", "h0", "src", "dst")},
        |${pull("h1", "a1", "dst", "src")},
        |${pull("a2", "h1", "src", "dst")},
        |${pull("h2", "a2", "dst", "src")}
        |SELECT coalesce(a2.node, h2.node) AS node,
        |  coalesce(a2.s, 0) AS auth_ppm, coalesce(h2.s, 0) AS hub_ppm
        |FROM a2 FULL JOIN h2 ON a2.node = h2.node
        |ORDER BY auth_ppm DESC, node LIMIT 40""".stripMargin
    },
    "graph_modularity" -> {
      def round(k: Int) =
        s"""l$k AS MATERIALIZED (
          |  SELECT l.node AS node, least(l.lab, min(p.lab)) AS lab
          |  FROM l${k - 1} l JOIN sym s ON s.dst = l.node
          |  JOIN l${k - 1} p ON p.node = s.src
          |  GROUP BY l.node, l.lab)"""
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sym),
        |${(1 to 4).map(round).mkString(",\n")},
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM backbone),
        |deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
        |dsum AS (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS d_c
        |  FROM l4 l JOIN deg d ON d.node = l.node GROUP BY l.lab),
        |ein AS (SELECT la.lab, CAST(count(*) AS BIGINT) AS e_c
        |  FROM backbone b JOIN l4 la ON la.node = b.src
        |  JOIN l4 lb ON lb.node = b.dst
        |  WHERE la.lab = lb.lab GROUP BY la.lab),
        |per AS (SELECT dsum.lab, coalesce(e_c, 0) AS e_c, d_c
        |  FROM dsum LEFT JOIN ein ON dsum.lab = ein.lab)
        |SELECT (SELECT m FROM mm) AS m,
        |  CAST(count(*) AS BIGINT) AS n_communities,
        |  CAST(CAST(sum(4 * (SELECT m FROM mm) * e_c - d_c * d_c) AS BIGINT)
        |    * 1000000 // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
        |    AS BIGINT) AS q_ppm
        |FROM per""".stripMargin
    },
    "graph_link_predict" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
        |hop2 AS (SELECT e1.src AS a, e2.dst AS b, e1.dst AS z
        |  FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
        |  WHERE e1.src < e2.dst),
        |cand AS (SELECT h.a, h.b, h.z FROM hop2 h
        |  LEFT JOIN backbone e ON e.src = h.a AND e.dst = h.b
        |  WHERE e.src IS NULL),
        |scored AS (SELECT a, b,
        |    CAST(sum(CAST(1000000000 AS BIGINT) // d) AS BIGINT) AS ra_score,
        |    count(*) AS n_common
        |  FROM cand JOIN deg ON cand.z = deg.node GROUP BY a, b)
        |SELECT a, b, ra_score, n_common FROM scored
        |ORDER BY ra_score DESC, a, b LIMIT 50""".stripMargin,
    "graph_kcore" ->
      s"""WITH $kcoreCtes
        |SELECT src AS node, count(*) AS core_deg FROM e8
        |GROUP BY src ORDER BY node""".stripMargin,
    "graph_kcore_check" ->
      s"""WITH $kcoreCtes
        |SELECT (SELECT count(*) FROM e7) AS n_prev,
        |  (SELECT count(*) FROM e8) AS n_last,
        |  ((SELECT count(*) FROM e7) = (SELECT count(*) FROM e8)) AS converged""".stripMargin,
    "graph_ppr" -> {
      def step(k: Int) =
        s"""c$k AS MATERIALIZED (SELECT s.dst AS node,
          |    CAST(SUM((850 * p.r) // (1000 * d.outdeg)) AS BIGINT) AS cs
          |  FROM sym s JOIN r${k - 1} p ON s.src = p.node
          |  JOIN deg d ON s.src = d.node GROUP BY s.dst),
          |r$k AS MATERIALIZED (
          |  SELECT coalesce(c$k.node, sb.node) AS node,
          |    CAST(coalesce(cs, 0) + coalesce(b, 0) AS BIGINT) AS r
          |  FROM c$k FULL JOIN sb ON c$k.node = sb.node)""".stripMargin
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM sym GROUP BY src),
        |seeds AS MATERIALIZED (
        |  SELECT DISTINCT src AS node FROM sym ORDER BY node LIMIT 5),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) // 5 AS r FROM seeds),
        |sb AS (SELECT node,
        |  (150 * (CAST(1000000000 AS BIGINT) // 5)) // 1000 AS b FROM seeds),
        |${(1 to 3).map(step).mkString(",\n|")}
        |SELECT node, r AS rank_ppb FROM r3
        |ORDER BY rank_ppb DESC, node LIMIT 30""".stripMargin
    },
    "graph_pagerank_delta" -> {
      def delta(k: Int) =
        s"""d$k AS (SELECT CAST($k AS BIGINT) AS iter,
          |  CAST(max(abs(c.r - p.r)) AS BIGINT) AS max_delta_ppb,
          |  CAST(sum(abs(c.r - p.r)) AS BIGINT) AS sum_delta_ppb
          |  FROM r$k c JOIN r${k - 1} p ON p.node = c.node)""".stripMargin
      s"""WITH $weightedPrCtes,
        |${(1 to 3).map(delta).mkString(",\n|")}
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2
        |UNION ALL SELECT * FROM d3 ORDER BY iter""".stripMargin
    },
    "graph_components_lp" -> {
      def round(k: Int) =
        s"""l$k AS MATERIALIZED (
          |  SELECT l.node AS node, least(l.lab, min(p.lab)) AS lab
          |  FROM l${k - 1} l JOIN sym s ON s.dst = l.node
          |  JOIN l${k - 1} p ON p.node = s.src
          |  GROUP BY l.node, l.lab)"""
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sym),
        |${(1 to 4).map(round).mkString(",\n")}
        |SELECT node, lab FROM l4 ORDER BY node""".stripMargin
    },
    "graph_component_sizes" -> {
      def round(k: Int) =
        s"""l$k AS MATERIALIZED (
          |  SELECT l.node AS node, least(l.lab, min(p.lab)) AS lab
          |  FROM l${k - 1} l JOIN sym s ON s.dst = l.node
          |  JOIN l${k - 1} p ON p.node = s.src
          |  GROUP BY l.node, l.lab)"""
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sym),
        |${(1 to 4).map(round).mkString(",\n")},
        |sz AS (SELECT lab, count(*)::BIGINT AS size FROM l4 GROUP BY 1)
        |SELECT size, count(*)::BIGINT AS n_components
        |FROM sz GROUP BY 1 ORDER BY size""".stripMargin
    },
    "graph_triangles" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql)
        |SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |FROM backbone e1
        |JOIN backbone e2 ON e1.dst = e2.src
        |JOIN backbone e3 ON e3.src = e1.src AND e3.dst = e2.dst
        |ORDER BY a, b, c""".stripMargin,
    "graph_degree_gini" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT src AS node FROM pairs UNION ALL SELECT dst FROM pairs),
        |deg AS (SELECT node, count(*)::BIGINT AS deg FROM sym GROUP BY node),
        |dd AS (SELECT deg, count(*)::BIGINT AS n_nodes FROM deg GROUP BY deg),
        |cc AS (SELECT deg, n_nodes,
        |    coalesce(CAST(sum(n_nodes) OVER (ORDER BY deg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS c
        |  FROM dd),
        |a AS (SELECT sum(n_nodes)::BIGINT AS n,
        |    sum(CAST(deg AS HUGEINT) * n_nodes) AS sx,
        |    sum(CAST(deg AS HUGEINT) *
        |      (CAST(n_nodes AS HUGEINT) * c + n_nodes * (n_nodes + 1) // 2))
        |      AS srx
        |  FROM cc)
        |SELECT n, CAST(sx AS BIGINT) AS sx,
        |  CAST((2 * srx - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
        |    AS gini_ppm
        |FROM a""".stripMargin,
    "graph_rich_club" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS (SELECT src, dst FROM backbone
        |  UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS deg
        |  FROM sym GROUP BY 1),
        |ks AS (SELECT unnest([1, 2, 4, 8]::BIGINT[]) AS k),
        |nk AS (SELECT k, count(*)::BIGINT AS n_k
        |  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY 1),
        |ek AS (SELECT k, count(*)::BIGINT AS e_k
        |  FROM backbone b
        |  JOIN deg ds ON b.src = ds.node
        |  JOIN deg dd ON b.dst = dd.node
        |  CROSS JOIN ks WHERE ds.deg > k AND dd.deg > k GROUP BY 1)
        |SELECT nk.k, n_k, coalesce(e_k, 0)::BIGINT AS e_k,
        |  coalesce(e_k, 0) * 2000000 // (n_k * (n_k - 1)) AS phi_ppm
        |FROM nk LEFT JOIN ek ON nk.k = ek.k
        |WHERE n_k >= 2 ORDER BY nk.k""".stripMargin,
    "graph_bfs_depths" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (SELECT src, dst FROM backbone
        |  UNION ALL SELECT dst, src FROM backbone),
        |d0 AS (SELECT min(src) AS node FROM sym),
        |f1 AS (SELECT DISTINCT s.dst AS node FROM sym s
        |  JOIN d0 ON s.src = d0.node
        |  WHERE s.dst NOT IN (SELECT node FROM d0)),
        |f2 AS (SELECT DISTINCT s.dst AS node FROM sym s
        |  JOIN f1 ON s.src = f1.node
        |  WHERE s.dst NOT IN (SELECT node FROM d0)
        |    AND s.dst NOT IN (SELECT node FROM f1)),
        |f3 AS (SELECT DISTINCT s.dst AS node FROM sym s
        |  JOIN f2 ON s.src = f2.node
        |  WHERE s.dst NOT IN (SELECT node FROM d0)
        |    AND s.dst NOT IN (SELECT node FROM f1)
        |    AND s.dst NOT IN (SELECT node FROM f2)),
        |f4 AS (SELECT DISTINCT s.dst AS node FROM sym s
        |  JOIN f3 ON s.src = f3.node
        |  WHERE s.dst NOT IN (SELECT node FROM d0)
        |    AND s.dst NOT IN (SELECT node FROM f1)
        |    AND s.dst NOT IN (SELECT node FROM f2)
        |    AND s.dst NOT IN (SELECT node FROM f3))
        |SELECT node, 0::BIGINT AS depth FROM d0
        |UNION ALL SELECT node, 1 FROM f1
        |UNION ALL SELECT node, 2 FROM f2
        |UNION ALL SELECT node, 3 FROM f3
        |UNION ALL SELECT node, 4 FROM f4
        |ORDER BY node""".stripMargin,
    "graph_harmonic_centrality" -> {
      val levels = (1 to 4).map { d =>
        val prev = (0 until d).map(i => if (i == 0) "v0" else s"f$i")
        val anti = prev.map(p =>
          s"NOT EXISTS (SELECT 1 FROM $p p WHERE p.root = a.root AND p.node = s.dst)")
          .mkString("\n  AND ")
        s"""f$d AS (SELECT DISTINCT a.root AS root, s.dst AS node
          |  FROM ${if (d == 1) "v0" else s"f${d - 1}"} a
          |  JOIN sym s ON s.src = a.node
          |  WHERE $anti)""".stripMargin
      }.mkString(",\n")
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |sym AS MATERIALIZED (SELECT src, dst FROM backbone
        |  UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src, count(*)::BIGINT AS dg FROM sym GROUP BY 1),
        |roots AS (SELECT src AS root FROM (
        |    SELECT src, row_number() OVER (ORDER BY dg DESC, src) AS rk
        |    FROM deg) r WHERE rk <= 10),
        |v0 AS (SELECT root, root AS node FROM roots),
        |$levels,
        |u AS (SELECT root, node, 1 AS depth FROM f1
        |  UNION ALL SELECT root, node, 2 FROM f2
        |  UNION ALL SELECT root, node, 3 FROM f3
        |  UNION ALL SELECT root, node, 4 FROM f4)
        |SELECT root, count(*)::BIGINT AS n_reached,
        |  CAST(sum(CASE depth WHEN 1 THEN 1000000 WHEN 2 THEN 500000
        |    WHEN 3 THEN 333333 ELSE 250000 END) AS BIGINT) AS harmonic_ppm
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "graph_transitivity" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |tri AS (SELECT count(*)::BIGINT AS t
        |  FROM backbone e1
        |  JOIN backbone e2 ON e1.dst = e2.src
        |  JOIN backbone e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |sym AS (SELECT src, dst FROM backbone
        |  UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS d
        |  FROM sym GROUP BY 1),
        |wg AS (SELECT sum(d * (d - 1) // 2)::BIGINT AS wedges FROM deg)
        |SELECT t AS n_triangles, wedges,
        |  t * 3 * 1000000 // wedges AS transitivity_ppm
        |FROM tri CROSS JOIN wg""".stripMargin,
    "graph_local_clustering" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM backbone e1
        |  JOIN backbone e2 ON e1.dst = e2.src
        |  JOIN backbone e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |corners AS (SELECT node, count(*)::BIGINT AS t FROM (
        |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY 1),
        |sym AS (SELECT src, dst FROM backbone
        |  UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS d
        |  FROM sym GROUP BY 1)
        |SELECT deg.node AS node, d, coalesce(t, 0)::BIGINT AS n_triangles,
        |  coalesce(t, 0) * 2 * 1000000 // (d * (d - 1)) AS lcc_ppm
        |FROM deg LEFT JOIN corners ON deg.node = corners.node
        |WHERE d >= 2 ORDER BY deg.node""".stripMargin,
    "graph_degree_clustering_profile" ->
      s"""WITH backbone AS MATERIALIZED ($backboneSql),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM backbone e1
        |  JOIN backbone e2 ON e1.dst = e2.src
        |  JOIN backbone e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |corners AS (SELECT node, count(*)::BIGINT AS t FROM (
        |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY 1),
        |sym AS (SELECT src, dst FROM backbone
        |  UNION ALL SELECT dst, src FROM backbone),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS d
        |  FROM sym GROUP BY 1),
        |lcc AS (SELECT deg.node AS node, d,
        |    coalesce(t, 0) * 2 * 1000000 // (d * (d - 1)) AS lcc_ppm
        |  FROM deg LEFT JOIN corners ON deg.node = corners.node
        |  WHERE d >= 2)
        |SELECT d, count(*)::BIGINT AS n_nodes,
        |  CAST(sum(lcc_ppm) AS BIGINT) // count(*) AS mean_lcc_ppm
        |FROM lcc GROUP BY 1 ORDER BY d""".stripMargin,
    "graph_knn_edges" ->
      s"""WITH $knnSql
        |SELECT src, dst, cos_sim, rk FROM knn ORDER BY src, rk""".stripMargin,
    "sim_ann_graph" ->
      s"""WITH $graphSearchSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_ann_graph_recall" ->
      s"""WITH $graphSearchSql,
        |brute AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round($cosQSql, 6) DESC, b.vec_id) AS rk
        |    FROM qs q JOIN embeddings b ON b.vec_id <> q.query_id) t
        |  WHERE rk <= 3),
        |ann AS (SELECT query_id, node AS neighbor_id FROM g3 WHERE rk <= 3),
        |hits AS (SELECT brute.query_id, count(*)::BIGINT AS n_hit
        |  FROM brute JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM qs q LEFT JOIN hits ON hits.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    "graph_knn_recall" -> {
      val cos = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
        "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
      s"""WITH $knnSql,
        |brute AS (SELECT query_id, neighbor_id FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY round($cos, 6) DESC, b.vec_id) AS rk
        |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t
        |  WHERE rk <= 3),
        |hits AS (SELECT brute.query_id, count(*)::BIGINT AS n_hit
        |  FROM brute JOIN knn
        |    ON knn.src = brute.query_id AND knn.dst = brute.neighbor_id
        |  GROUP BY 1)
        |SELECT e.vec_id AS query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM embeddings e LEFT JOIN hits ON hits.query_id = e.vec_id
        |ORDER BY query_id""".stripMargin
    },
    "graph_knn_components" ->
      s"""WITH $knnComponentsSql
        |SELECT node, lab FROM l4 ORDER BY node""".stripMargin,
    "sim_ann_graph_appended" ->
      s"""WITH $graphAppendSql
        |SELECT query_id AS src, node AS dst, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY src, rk""".stripMargin,
    "sim_ann_graph_appended_recall" ->
      s"""WITH $graphAppendSql,
        |brute AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round($cosQSql, 6) DESC, b.vec_id) AS rk
        |    FROM qs q JOIN embeddings b ON b.vec_id <> q.query_id) t
        |  WHERE rk <= 3),
        |ann AS (SELECT query_id, node AS neighbor_id FROM g3 WHERE rk <= 3),
        |hits AS (SELECT brute.query_id, count(*)::BIGINT AS n_hit
        |  FROM brute JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM qs q LEFT JOIN hits ON hits.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    "graph_knn_health" ->
      s"""WITH $knnSql,
        |mut AS MATERIALIZED (
        |  SELECT k1.src, k1.dst FROM knn k1
        |  JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
        |  WHERE k1.src < k1.dst),
        |sym AS (SELECT src AS node FROM mut UNION ALL SELECT dst FROM mut),
        |deg AS (SELECT node, count(*)::BIGINT AS degree FROM sym GROUP BY 1)
        |SELECT coalesce(degree, 0)::BIGINT AS degree,
        |  count(*)::BIGINT AS n_nodes
        |FROM embeddings e LEFT JOIN deg ON deg.node = e.vec_id
        |GROUP BY 1 ORDER BY degree""".stripMargin,
    "graph_knn_purity" ->
      s"""WITH $knnComponentsSql,
        |cl AS (SELECT l.lab, e.label, count(*)::BIGINT AS c
        |  FROM l4 l JOIN embeddings e ON e.vec_id = l.node GROUP BY 1, 2),
        |rn AS (SELECT lab, label, c, row_number() OVER (
        |    PARTITION BY lab ORDER BY c DESC, label) AS rn FROM cl)
        |SELECT lab AS cluster_id, CAST(sum(c) AS BIGINT) AS n,
        |  max(CASE WHEN rn = 1 THEN label END) AS majority_label,
        |  CAST(max(CASE WHEN rn = 1 THEN c END) * 1000000 // sum(c) AS BIGINT)
        |    AS purity_ppm
        |FROM rn GROUP BY lab ORDER BY cluster_id""".stripMargin,

    // the persisted generation, the pointer-served generation, the
    // poison-deleted generation, and the compacted generation must all
    // hash-match the UNTOUCHED base walk — one oracle, four plans (the
    // delete gate is loud: a leaked poison twin is a rank-1 cos-1.0 row)
    "sim_ann_graph_indexed" ->
      s"""WITH $graphSearchSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_ann_graph_published" ->
      s"""WITH $graphSearchSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_ann_graph_deleted" ->
      s"""WITH $graphSearchSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_ann_graph_compacted" ->
      s"""WITH $graphSearchSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // the upserted wave's settled out-edges = the clean append walk's
    // rows for exactly that wave (the heal gate shares the append
    // walk's builder — drift between settle and append is impossible)
    "sim_ann_graph_updated" ->
      s"""WITH $graphAppendSql
        |SELECT query_id AS src, node AS dst, cos_sim, rk FROM g3
        |WHERE rk <= 3 AND query_id % 20 = 0 ORDER BY src, rk""".stripMargin,
    // frozen assignment ⇒ the appended generation's cell populations
    // are the IVF families' appended list populations — shared mirror
    "sim_ann_graph_retrain_check" ->
      SimilarityQueries.ivfRetrainCheckOracleSql,
    // the retrained adjacency = a from-scratch build over the union
    // corpus with re-derived K (trainRel/kSql-parameterized builder)
    "sim_ann_graph_retrained" ->
      s"""WITH ${knnSqlOver(SimilarityQueries.dupVectorsSql + ",\n",
             "corpus", SimilarityQueries.corpusKSql)}
        |SELECT src, dst, cos_sim, rk FROM knn ORDER BY src, rk""".stripMargin,
    // the label-partitioned walk: same beam chain, candidates matched
    // to the query's label before every rank
    "sim_ann_graph_filtered" ->
      s"""WITH $graphFilteredWalkSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // ...and its recall audit vs the label-restricted exact top-3
    "sim_ann_graph_filtered_recall" ->
      s"""WITH $graphFilteredWalkSql,
        |bruteF AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round($cosQSql, 6) DESC, b.vec_id) AS rk
        |    FROM qs q JOIN embeddings b
        |      ON b.label = q.qlabel AND b.vec_id <> q.query_id) t
        |  WHERE rk <= 3),
        |ann AS (SELECT query_id, node AS neighbor_id FROM g3 WHERE rk <= 3),
        |hits AS (SELECT bruteF.query_id, count(*)::BIGINT AS n_hit
        |  FROM bruteF JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM qs q LEFT JOIN hits ON hits.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    // the stitched walk: labeled adjacency (seed label equality — the
    // descent is label-closed), same label-partitioned walk
    "sim_ann_graph_filtered_stitched" ->
      s"""WITH $graphFilteredStitchedWalkSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM g3
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_ann_graph_filtered_stitched_recall" ->
      s"""WITH $graphFilteredStitchedWalkSql,
        |bruteF AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round($cosQSql, 6) DESC, b.vec_id) AS rk
        |    FROM qs q JOIN embeddings b
        |      ON b.label = q.qlabel AND b.vec_id <> q.query_id) t
        |  WHERE rk <= 3),
        |ann AS (SELECT query_id, node AS neighbor_id FROM g3 WHERE rk <= 3),
        |hits AS (SELECT bruteF.query_id, count(*)::BIGINT AS n_hit
        |  FROM bruteF JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM qs q LEFT JOIN hits ON hits.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    // the widened-beam shortlist re-scored by exact cosine — the walk
    // chain with beam = WalkRerankBeam, then the re-rank layer over the
    // final frontier (same rounded-cosine ranking, id tie-breaks)
    "sim_ann_graph_rerank" ->
      s"""WITH $graphRerankSql
        |SELECT query_id, node AS neighbor_id, cos_sim, rk FROM rr
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_ann_graph_rerank_recall" ->
      s"""WITH $graphRerankSql,
        |brute AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round($cosQSql, 6) DESC, b.vec_id) AS rk
        |    FROM qs q JOIN embeddings b ON b.vec_id <> q.query_id) t
        |  WHERE rk <= 3),
        |ann AS (SELECT query_id, node AS neighbor_id FROM rr WHERE rk <= 3),
        |hits AS (SELECT brute.query_id, count(*)::BIGINT AS n_hit
        |  FROM brute JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM qs q LEFT JOIN hits ON hits.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    // the cells ARE the k-means assignment partitioned out — the IVF
    // stats mirror verbatim
    "sim_ann_graph_stats" ->
      s"""WITH ${SimilarityQueries.clusterAssignCtes}
        |SELECT cid AS list_id, count(*) AS n_vectors FROM clusters
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same poison/tombstone population as the IVF compaction monitors:
    // nodes = corpus + the ten poison twins, tombstoned = the twins
    "sim_ann_graph_compaction_check" ->
      """WITH e AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        |q AS (SELECT CAST(count(*) AS BIGINT) AS t FROM embeddings
        |  WHERE vec_id < 10)
        |SELECT n + t AS n_rows, t AS n_tombstoned,
        |  t * 1000 // (n + t) AS tombstone_frac_x1000,
        |  (t * 1000 // (n + t) >= 50 OR t >= 1000000) AS compact
        |FROM e, q""".stripMargin,
    "sim_ann_graph_retrained_recall" -> {
      val cos = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
        "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
      s"""WITH ${knnSqlOver(SimilarityQueries.dupVectorsSql + ",\n",
             "corpus", SimilarityQueries.corpusKSql)},
        |brute AS (SELECT query_id, neighbor_id FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY round($cos, 6) DESC, b.vec_id) AS rk
        |    FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id) t
        |  WHERE rk <= 3),
        |hits AS (SELECT brute.query_id, count(*)::BIGINT AS n_hit
        |  FROM brute JOIN knn
        |    ON knn.src = brute.query_id AND knn.dst = brute.neighbor_id
        |  GROUP BY 1)
        |SELECT e.vec_id AS query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
        |FROM corpus e LEFT JOIN hits ON hits.query_id = e.vec_id
        |ORDER BY query_id""".stripMargin
    })

  /** Mirror of [[GraphOps.kCore]] (kMin 2, 8 peel rounds) — e0 is the
    * symmetric backbone, each round drops nodes with degree < 2 from
    * both endpoints; ends with `e7`/`e8` for the convergence check. */
  private lazy val kcoreCtes: String = {
    def peel(i: Int) =
      s"""d$i AS (SELECT src AS node, count(*) AS d FROM e${i - 1} GROUP BY src),
        |k$i AS (SELECT node FROM d$i WHERE d >= 2),
        |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
        |  JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)""".stripMargin
    s"""backbone AS MATERIALIZED ($backboneSql),
      |e0 AS MATERIALIZED (
      |  SELECT src, dst FROM backbone UNION ALL SELECT dst, src FROM backbone),
      |${(1 to 8).map(peel).mkString(",\n|")}""".stripMargin
  }

  /** The weighted-surfer CTE chain through `r3` — [[GraphOps
    * .pageRankWeighted]]'s mirror: rank flows per edge in proportion
    * to `w`, denominators are the node's total out-WEIGHT, every state
    * MATERIALIZED (each is referenced by the next state and, in the
    * delta monitor, by the iteration's join — the exponential-inlining
    * trap). Shared by the top-50 ranking and the convergence monitor
    * so the two can never drift. */
  private lazy val weightedPrCtes: String = {
    def iter(k: Int) =
      s"""r$k AS MATERIALIZED (
        |  SELECT s.dst AS node,
        |    (SELECT b FROM base) + CAST(SUM((850 * rp.r * s.w) // (1000 * d.wout)) AS BIGINT) AS r
        |  FROM symw s JOIN r${k - 1} rp ON s.src = rp.node
        |  JOIN wsum d ON s.src = d.node
        |  GROUP BY s.dst)"""
    s"""backbone AS MATERIALIZED ($backboneSql),
      |symw AS MATERIALIZED (
      |  SELECT src, dst, w FROM backbone
      |  UNION ALL SELECT dst, src, w FROM backbone),
      |nn AS MATERIALIZED (SELECT count(DISTINCT src) AS n FROM symw),
      |wsum AS MATERIALIZED (
      |  SELECT src AS node, CAST(sum(w) AS BIGINT) AS wout
      |  FROM symw GROUP BY src),
      |r0 AS MATERIALIZED (
      |  SELECT DISTINCT src AS node, 1000000000 // (SELECT n FROM nn) AS r FROM symw),
      |base AS MATERIALIZED (
      |  SELECT (150 * (1000000000 // n)) // 1000 AS b FROM nn),
      |${(1 to 3).map(iter).mkString(",\n|")}""".stripMargin
  }

  /** The mutual-kNN + 4-round label-propagation CTE chain (through
    * `l4`) shared by the components table and the purity audit. */
  private lazy val knnComponentsSql: String = {
    def round(k: Int) =
      s"""l$k AS MATERIALIZED (
        |  SELECT l.node AS node,
        |    least(l.lab, coalesce(min(p.lab), l.lab)) AS lab
        |  FROM l${k - 1} l LEFT JOIN msym s ON s.dst = l.node
        |  LEFT JOIN l${k - 1} p ON p.node = s.src
        |  GROUP BY l.node, l.lab)"""
    s"""$knnSql,
      |mut AS MATERIALIZED (
      |  SELECT k1.src, k1.dst FROM knn k1
      |  JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
      |  WHERE k1.src < k1.dst),
      |msym AS MATERIALIZED (
      |  SELECT src, dst FROM mut UNION ALL SELECT dst, src FROM mut),
      |l0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS lab FROM embeddings),
      |${(1 to 4).map(round).mkString(",\n")}""".stripMargin
  }

  /** cos(query vector `q.qv`, node embedding `b.embedding`) — shared by
    * the beam-walk scorer and the brute ground truth. */
  private val cosQSql: String =
    "list_dot_product(q.qv::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"

  /** The beam-walk CTE chain WITHOUT the graph-build prefix — CTE names
    * suffixed `sfx` and the candidate-scoring corpus / edge relations
    * parameterized, so TWO walks compose in one query (the CDC probe:
    * an append walk over the base graph, then a serving walk over the
    * settled union). Requires `$edgeRel (src, dst)` and `$corpusRel
    * (vec_id, embedding)` in scope; ends in `g3$sfx`. Beam width and
    * round count come from GraphOps' ONE parameter set (ADVICE r16). */
  private[graft] def walkCtes(qsSql: String, entSql: String,
      sfx: String = "", corpusRel: String = "embeddings",
      edgeRel: String = "knn", candPred: String = "TRUE",
      beam: Int = GraphOps.WalkBeam): String = {
    def scoreTop(candRel: String, out: String, width: Int): String =
      s"""$out AS MATERIALIZED (SELECT query_id, node, cos_sim, rk FROM (
        |    SELECT c.query_id, c.node, round($cosQSql, 6) AS cos_sim,
        |      CAST(row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY round($cosQSql, 6) DESC, c.node) AS BIGINT) AS rk
        |    FROM $candRel c JOIN $corpusRel b ON b.vec_id = c.node
        |    JOIN qs$sfx q ON q.query_id = c.query_id
        |    WHERE c.node <> c.query_id AND ($candPred)) s
        |  WHERE rk <= $width)""".stripMargin
    def round(r: Int): String =
      s"""gc$sfx$r AS MATERIALIZED (SELECT DISTINCT query_id, node FROM (
        |    SELECT query_id, node FROM gw$sfx${r - 1}
        |    UNION ALL SELECT f.query_id, e.dst AS node FROM gw$sfx${r - 1} f
        |      JOIN $edgeRel e ON e.src = f.node) t),
        |${scoreTop(s"gc$sfx$r", s"gw$sfx$r", beam)}""".stripMargin
    s"""qs$sfx AS MATERIALIZED ($qsSql),
      |ent$sfx AS ($entSql),
      |${scoreTop(s"ent$sfx", s"gw${sfx}0", beam)},
      |${(1 to GraphOps.WalkRounds).map(round).mkString(",\n|")},
      |g3$sfx AS (SELECT * FROM gw$sfx${GraphOps.WalkRounds})""".stripMargin
  }

  /** DuckDB mirror of [[GraphOps.graphSearch]] parameterized over the
    * query set: `qsSql` defines `qs (query_id, qv)`, `entSql` defines
    * `ent (query_id, node)` (the entry-cell members), then the three
    * expand-and-rerank beam rounds as MATERIALIZED CTE layers on top of
    * [[knnSql]]'s graph. The final frontier is `g3` (rk ≤ 8). */
  private def graphWalkSql(qsSql: String, entSql: String): String =
    s"""$knnSql,
      |${walkCtes(qsSql, entSql)}""".stripMargin

  /** The serving walk for the standard query set (vec_id < 10). */
  private lazy val graphSearchSql: String = graphWalkSql(
    qsSql = """SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id < 10""".stripMargin,
    entSql = s"""SELECT a.vec_id AS query_id, c.vec_id AS node
      |  FROM casg a JOIN clusters c ON c.cid = a.cid
      |  WHERE a.vec_id < 10 AND a.cr <= ${GraphOps.WalkEntryCells}""".stripMargin)

  /** The re-rank composition's mirror: the serving walk widened to
    * [[GraphOps.WalkRerankBeam]], then the final frontier re-scored by
    * exact cosine (identical rounded ranking, id tie-breaks) — ends in
    * `rr`. */
  private lazy val graphRerankSql: String = {
    val walk = walkCtes(
      qsSql = """SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10""".stripMargin,
      entSql = s"""SELECT a.vec_id AS query_id, c.vec_id AS node
        |  FROM casg a JOIN clusters c ON c.cid = a.cid
        |  WHERE a.vec_id < 10
        |    AND a.cr <= ${GraphOps.WalkRerankEntryCells}""".stripMargin,
      beam = GraphOps.WalkRerankBeam)
    s"""$knnSql,
      |$walk,
      |rr AS (SELECT query_id, node, cos_sim, rk FROM (
      |    SELECT c.query_id, c.node, round($cosQSql, 6) AS cos_sim,
      |      CAST(row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY round($cosQSql, 6) DESC, c.node) AS BIGINT) AS rk
      |    FROM (SELECT query_id, node FROM g3) c
      |    JOIN embeddings b ON b.vec_id = c.node
      |    JOIN qs q ON q.query_id = c.query_id) s)""".stripMargin
  }

  /** The label-partitioned walk (candidates matched to the query's
    * label before every rank) — shared by the filtered probe gate and
    * its label-restricted recall audit (r18). */
  private lazy val graphFilteredWalkSql: String =
    s"""$knnSql,
      |${walkCtes(
         qsSql = """SELECT vec_id AS query_id, embedding AS qv,
           |    label AS qlabel FROM embeddings WHERE vec_id < 10""".stripMargin,
         entSql = s"""SELECT a.vec_id AS query_id, c.vec_id AS node
           |  FROM casg a JOIN clusters c ON c.cid = a.cid
           |  WHERE a.vec_id < 10
           |    AND a.cr <= ${GraphOps.WalkFilteredEntryCells}""".stripMargin,
         candPred = "b.label = q.qlabel")}""".stripMargin

  /** The STITCHED filtered walk: the labeled kNN chain (seed matched
    * on label) as the adjacency, the same label-partitioned walk on
    * top — shared by the stitched probe gate and its recall audit. */
  private lazy val graphFilteredStitchedWalkSql: String =
    s"""${knnSqlOver("", "embeddings", SimilarityQueries.ivfKSql,
         labeled = true)},
      |${walkCtes(
         qsSql = """SELECT vec_id AS query_id, embedding AS qv,
           |    label AS qlabel FROM embeddings WHERE vec_id < 10""".stripMargin,
         entSql = s"""SELECT a.vec_id AS query_id, c.vec_id AS node
           |  FROM casg a JOIN clusters c ON c.cid = a.cid
           |  WHERE a.vec_id < 10
           |    AND a.cr <= ${GraphOps.WalkFilteredEntryCells}""".stripMargin,
         candPred = "b.label = q.qlabel")}""".stripMargin

  /** The INSERT walk for the append batch (the exact-dup vectors at
    * id+100000): each new vector's out-edges are its beam-walk top-3
    * over the frozen graph — the incremental NSW insert. The batch
    * vector equals its original, so its entry-cell ranks ARE the
    * original's casg rows. */
  private lazy val graphAppendSql: String = graphWalkSql(
    qsSql = """SELECT vec_id + 100000 AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id % 4 = 0""".stripMargin,
    entSql = s"""SELECT a.vec_id + 100000 AS query_id, c.vec_id AS node
      |  FROM casg a JOIN clusters c ON c.cid = a.cid
      |  WHERE a.vec_id % 4 = 0 AND a.cr <= ${GraphOps.WalkEntryCells}""".stripMargin)

  /** The CDC-settled graph generation's serving mirror (used by
    * [[StreamingQueries]] for `stream_graph_cdc*`): after the settle,
    * the generation = base graph ∪ the winner batch's append walk
    * (the graph row's upsert prunes every touched/tombstoned id back to
    * the base and walks the winners over it — the corrupt appends
    * vanish wholesale, the poison stays purged). Serving is a SECOND
    * walk (queries vec_id < 10) over that union: edges = knn ∪ the
    * appended out-edges, candidates score against the UNION corpus,
    * and the entry cells cover the appended ids (an appended vector is
    * reachable through entry — a dup twin is its query's rank-1 at
    * cos 1.0, which is what makes this gate loud). Two [[walkCtes]]
    * instantiations compose via their suffix. */
  private[graft] lazy val graphCdcProbeSql: String = {
    val appendWalk = walkCtes(
      qsSql = """SELECT vec_id + 100000 AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id % 4 = 0""".stripMargin,
      entSql = s"""SELECT a.vec_id + 100000 AS query_id, c.vec_id AS node
        |  FROM casg a JOIN clusters c ON c.cid = a.cid
        |  WHERE a.vec_id % 4 = 0 AND a.cr <= ${GraphOps.WalkEntryCells}""".stripMargin,
      sfx = "a")
    val serveWalk = walkCtes(
      qsSql = """SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10""".stripMargin,
      entSql = s"""SELECT a.vec_id AS query_id, u.vec_id AS node
        |  FROM casg a JOIN ucells u ON u.cid = a.cid
        |  WHERE a.vec_id < 10 AND a.cr <= ${GraphOps.WalkEntryCells}""".stripMargin,
      sfx = "s", corpusRel = "corpus", edgeRel = "uedges")
    s"""$knnSql,
      |${SimilarityQueries.dupVectorsSql},
      |$appendWalk,
      |uedges AS MATERIALIZED (
      |  SELECT src, dst FROM knn
      |  UNION ALL SELECT query_id, node FROM g3a
      |    WHERE rk <= ${GraphOps.KnnK}),
      |ucells AS (
      |  SELECT cid, vec_id FROM clusters
      |  UNION ALL SELECT cid, vec_id + 100000 FROM clusters
      |    WHERE vec_id % 4 = 0),
      |$serveWalk""".stripMargin
  }

  /** ...and its recall audit's mirror: exact top-3 over the union
    * corpus vs the settled generation's walk. */
  private[graft] lazy val graphCdcRecallSql: String =
    s"""$graphCdcProbeSql,
      |brute AS (SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY round($cosQSql, 6) DESC, b.vec_id) AS rk
      |    FROM qss q JOIN corpus b ON b.vec_id <> q.query_id) t
      |  WHERE rk <= 3),
      |ann AS (SELECT query_id, node AS neighbor_id FROM g3s WHERE rk <= 3),
      |hits AS (SELECT brute.query_id, count(*)::BIGINT AS n_hit
      |  FROM brute JOIN ann USING (query_id, neighbor_id) GROUP BY 1)
      |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
      |  round(coalesce(n_hit, 0) / 3.0, 6) AS recall
      |FROM qss q LEFT JOIN hits ON hits.query_id = q.query_id
      |ORDER BY q.query_id""".stripMargin

  /** [[knnSql]] parameterized over the corpus relation and the K
    * derivation (the trainRel/kSql discipline): quantizer training,
    * assignment, the seed self-join, and both descent rounds all read
    * `$rel` — the retrained graph generation's mirror runs it over the
    * UNION corpus. `pre` prepends corpus-defining CTEs. */
  private[graft] def knnSqlOver(pre: String, rel: String,
      kSql: String, labeled: Boolean = false): String = {
    // k, descent-round count, and the seed's probe width come from
    // GraphOps' ONE parameter set (ADVICE r16): the mirror can never
    // drift from knnGraphDir's defaults.
    // `labeled` mirrors GraphOps.buildEdges' stitched form (r18): the
    // SEED join additionally matches the label — the descent rounds
    // are label-closed by construction and stay untouched.
    val k = GraphOps.KnnK
    val cos = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
    def round(r: Int): String =
      s"""nd$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM k${r - 1}
        |    UNION ALL SELECT dst, src FROM k${r - 1}
        |    UNION ALL SELECT x.src, y.dst FROM k${r - 1} x
        |      JOIN k${r - 1} y ON x.dst = y.src) t
        |  WHERE src <> dst),
        |k$r AS MATERIALIZED (SELECT src, dst, cos_sim, rk FROM (
        |    SELECT c.src, c.dst, round($cos, 6) AS cos_sim,
        |      CAST(row_number() OVER (PARTITION BY c.src
        |        ORDER BY round($cos, 6) DESC, c.dst) AS BIGINT) AS rk
        |    FROM nd$r c JOIN $rel a ON a.vec_id = c.src
        |    JOIN $rel b ON b.vec_id = c.dst) s
        |  WHERE rk <= $k)""".stripMargin
    val ceLabel = if (labeled) ", e.label" else ""
    val seedLabel = if (labeled) " AND b.label = a.label" else ""
    s"""$pre${SimilarityQueries.clusterAssignCtesOver(rel, kSql)},
      |ce AS MATERIALIZED (SELECT e.vec_id, e.embedding, c.cid$ceLabel
      |  FROM $rel e JOIN clusters c USING (vec_id)),
      |src4 AS MATERIALIZED (SELECT vec_id AS src, cid FROM casg
      |  WHERE cr <= ${GraphOps.KnnSeedProbeCells}),
      |pr AS MATERIALIZED (
      |  SELECT s.src AS src, b.vec_id AS dst, round($cos, 6) AS cos_sim
      |  FROM src4 s JOIN $rel a ON a.vec_id = s.src
      |  JOIN ce b ON b.cid = s.cid AND b.vec_id <> s.src$seedLabel),
      |k0 AS MATERIALIZED (SELECT src, dst, cos_sim, rk FROM (
      |    SELECT src, dst, cos_sim, CAST(row_number() OVER (
      |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS BIGINT) AS rk
      |    FROM pr) s WHERE rk <= $k),
      |${(1 to GraphOps.KnnDescentRounds).map(round).mkString(",\n|")},
      |knn AS MATERIALIZED (SELECT src, dst, cos_sim, rk
      |  FROM k${GraphOps.KnnDescentRounds})""".stripMargin
  }

  /** DuckDB mirror of the [[GraphOps.knnGraphDir]] epoch: the k-means
    * cell assignment (SimilarityQueries.clusterAssignCtes — the same
    * trained-quantizer chain the IVF mirrors use), the in-cell seed
    * self-join + per-src cosine top-3, then the two NN-descent rounds
    * (edges ∪ reversed ∪ 2-hop, exact re-rank) as MATERIALIZED CTE
    * layers. */
  private lazy val knnSql: String =
    knnSqlOver("", "embeddings", SimilarityQueries.ivfKSql)
}
