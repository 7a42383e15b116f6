package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Graph, VectorOps}
import graft.sources.Tables

/** Oracle-checked queries for the embedding similarity suite (engine
  * extension — SURVEY.md §7.5(8)) over the `embeddings` table.
  *
  * The DuckDB oracle replicates the exact double arithmetic: both sides cast
  * each float element to double and sequentially fold the products
  * (Spark `aggregate(zip_with(...))` ↔ DuckDB `list_sum(list_transform(
  * list_zip(...)))`), then `round(..., 6)`. Hyperplane literals are inlined
  * from [[VectorOps.hyperplanes]] on both sides, so LSH buckets agree by
  * construction.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  val QueryVecId = 0L
  val K = 10
  val NumPlanes = 6
  val Dim = 64
  val NearDupThreshold = 0.3
  val KnnQueryMod = 50L
  val KnnK = 3
  val KClusters = 8
  val KmeansIters = 2
  val NProbe = 2
  val SemDedupThreshold = 0.3

  /** x89 kNN-PageRank: fixed node-id bound (constant gate size across SFs
    * — the exact kNN graph build is quadratic, the oracle-able baseline)
    * and iteration count for the ppm fixpoint. */
  val PrNodes = 256L
  val PrIters = 10

  /** x92 big-k coarse quantizer: k=256 cells sits ABOVE
    * [[VectorOps.ArgminLiteralMaxK]], so training and assignment route
    * through the broadcast-join argmin (round-13 verdict task 2 — the
    * production path where the literal form would be a plan/codegen
    * blow-up) while sharing the x72 composed-serve oracle shape. nprobe
    * widens with k (8 of 256 ≈ 3% of the corpus probed) so the candidate
    * pool stays comfortably above K even at the 500-vector scale where
    * 256 cells hold ~2 vectors each. */
  val KClustersBig = 256
  val NProbeBig = 8

  /** x93 big-ks PQ codebooks: ks=128 per subspace sits above
    * [[VectorOps.ArgminLiteralMaxK]], so codebook TRAINING (the fused
    * Lloyd iterations' per-subspace argmins), corpus ENCODE, and the
    * query-side ADC LUT build all route through the broadcast `__cb`
    * forms — the production-ks path where the literal forms would inline
    * m·ks expression trees. Shares the x70 serve oracle shape at the
    * bigger ks. */
  val PqKsBig = 128

  /** Per-cell quota for the cluster-balanced diversity sample (x60):
    * below the mean cell size (500/8 ≈ 62), so dense cells are capped
    * and sparse cells keep everything — the flattening that makes the
    * sample diverse. */
  val DiverseQuota = 25

  /** Fixed hyperplane set shared by the ANN query and its oracle. */
  val planes: Seq[Array[Double]] = VectorOps.hyperplanes(NumPlanes, Dim)

  /** JL projection target dimension and its plane matrix (x54) — its own
    * seed so the projection is independent of the LSH bucketing planes;
    * 16 = 64/4, the classic 4x byte cut, and 1/sqrt(16) = 0.25 is exact
    * in binary so the scale factor adds no float noise. */
  val ProjDim = 16
  val projPlanes: Seq[Array[Double]] =
    VectorOps.hyperplanes(ProjDim, Dim, seed = 11L)

  /** PQ geometry (x70/x71): 4 subspaces of 16 dims, 8-centroid codebooks,
    * fitted with the same deterministic k-means recipe as IVF. Small
    * enough that the oracle replays all 4 per-subspace k-means chains in
    * SQL; structurally identical to the m=16/ks=256 form a production
    * index runs (16 one-byte codes per 64-float vector — 16×). */
  val PqM = 8
  val PqKs = 16
  val PqSub: Int = Dim / PqM

  /** Arrival-batch membership for the PQ-append gate (x74): vec_id % 10
    * picks the batch, the rest is the standing base the codebooks are
    * trained on — the same modular split every incremental gate uses. */
  val PqAppendMod = 10L

  /** Stage-1 ADC candidate pool for the two-stage PQ kNN (x71). The
    * synthetic iid embeddings are PQ's ADVERSARIAL case, exactly as they
    * are JL's (x55): no cluster structure, neighbour distances barely
    * separated, so 8×16 codebooks (32 bits/vector, 64× compression)
    * recall ~0.27 ranking by raw ADC alone at sf0.01. The deployed form
    * shortlists by ADC and re-ranks exact — recall then only needs the
    * true neighbours to SURVIVE the cut. x71 audits both numbers. */
  val PqCandidates = 48

  /** pl15 training-pair export: device-batch packing budget in VECTORS
    * per bin (each unit = anchor + positive + KnnK negatives = 5), and
    * the shard fan-out of the packer. */
  val PairPackBudget = 16L
  val PairPackShards = 2

  /** x112 adaptive nprobe: the held-out query residue (disjoint from the
    * serving queries' residue 0 under the same mod) and the requested
    * recall floor the chosen nprobe must clear on the held-out curve. */
  val RecallHoldoutRes = 1L
  val RecallFloorPpm = 900000L

  /** OPQ alternation count (x115/x116): ONE R-step already captures the
    * bulk of the rotation gain on the correlated gate corpus (measured
    * 11.5% MSE cut in OpqSpec), and each extra iteration adds a full
    * codebook training + cross-matrix scan to BOTH engines' replays —
    * the oracle unrolls the whole fit, so the gate pins the cheapest
    * alternation that demonstrates the mechanism. */
  val OpqIters = 1

  /** Tombstone membership for the PQ-delete gate (x83): vec_id % 5 = 3
    * is the removed set — a different residue class than the query
    * vector (0) and the append batches (% 10 = 0), so the lifecycle
    * gates never interact. */
  val VecDeleteMod = 5L
  val VecDeleteRem = 3L

  /** Cluster geometry for the clustered-recall gate (x86): the iid test
    * embeddings are PQ's adversarial case (no cell structure — x82
    * honestly reports raw ≈ residual recall there), so this gate derives
    * a CLUSTERED corpus from the same table deterministically: group
    * g = vec_id % 8 shifts every vector by an integer offset pattern
    * c_g[j] = ((g·7 + j·3) mod 11) − 5 ∈ [−5, 5]. 7 is invertible mod
    * 11, so all 8 group centers are distinct, inter-center distances
    * (~20·64 squared) dwarf the within-group iid spread (~40), and every
    * offset is a small integer — exactly representable, so Spark's
    * double arithmetic and DuckDB's agree bit-for-bit. This is the
    * regime real text/image embeddings live in, and where the residual
    * form's codebook-capacity argument actually bites. */
  val ClusterGroups = 8L
  val ClusterOffMod = 11L
  val ClusterOffShift = 5L

  /** The raw-vs-residual routed recall measurement shared by x82 (the
    * iid corpus) and x86 (the clustered derivation): BOTH encodings at
    * equal m/ks/nprobe, routed through the SAME coarse cells, scored per
    * query against the exact L2 kNN — the Spark twin of the oracle
    * side's source-pluggable `residualRecallSqlFor`. */
  private def residualRecallReport(e: DataFrame): DataFrame = {
    val pred = col("vec_id") % KnnQueryMod === 0
    val cents = VectorOps.collectCentroids(VectorOps.kmeansCentroids(
      e, "vec_id", "embedding", KClusters, KmeansIters))
    val rawCbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      Dim, PqM, PqKs, KmeansIters)
    val resCbs = VectorOps.pqCodebooksResidual(e, "vec_id", "embedding",
      cents, Dim, PqM, PqKs, KmeansIters)
    val rawCodes = graft.GraftCache.persist(
      VectorOps.pqEncodeWithCells(e, "vec_id", "embedding", cents, rawCbs))
    val resCodes = graft.GraftCache.persist(
      VectorOps.residualEncodeWithCells(e, "vec_id", "embedding", cents,
        resCbs))
    val raw = VectorOps.pqKnnAgainstCodesRouted(e.filter(pred), "vec_id",
        "embedding", KnnK, NProbe, cents, rawCbs, rawCodes)
      .select("qid", "vec_id")
    val res = VectorOps.ivfPqResidualKnnOverCodes(e.filter(pred), "vec_id",
        "embedding", KnnK, NProbe, cents, resCbs, resCodes)
      .select("qid", "vec_id")
    val q = e.filter(pred)
      .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
    val exactP = e.select(col("vec_id"), col("embedding").as("__v"))
      .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.l2sq(col("__v"), col("__qv")).as("d2"))
    val exact = graft.plans.TopKPerKey.topKPerKey(exactP, Seq("qid"),
      Seq(col("d2"), col("vec_id")), KnnK).select("qid", "vec_id")
    // ONE pass over the ground truth (optimization r19): hit-flag left
    // joins against both serves, then a single per-qid aggregation —
    // the former n_exact + two overlap-join consumers each re-ran the
    // full exact-kNN scan (served ids are unique per (qid, vec_id), so
    // the left joins keep multiplicity 1 and count/sum land exactly
    // where the inner-join counts did).
    exact
      .join(raw.withColumn("__hr", lit(1L)), Seq("qid", "vec_id"), "left")
      .join(res.withColumn("__hs", lit(1L)), Seq("qid", "vec_id"), "left")
      .groupBy("qid").agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hr"), lit(0L))).as("__nraw"),
        sum(coalesce(col("__hs"), lit(0L))).as("__nres"))
      .select(col("qid"), col("n_exact"),
        col("__nraw").as("n_raw"),
        round(col("__nraw") / col("n_exact"), 4).as("raw_recall"),
        col("__nres").as("n_res"),
        round(col("__nres") / col("n_exact"), 4).as("res_recall"))
      .orderBy("qid")
  }

  /** The clustered derivation of the embeddings table (x86): element j
    * becomes embedding[j] + c_g[j] in exact double arithmetic. */
  def clusteredEmbeddings(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"), (x, j) => {
        // Whole offset in LONG arithmetic, then ONE double add — the
        // oracle does the same (BIGINT offset + one DOUBLE add), so
        // there is exactly one rounding on each side.
        val off = (((col("vec_id") % ClusterGroups) * 7L +
          j.cast("long") * 3L) % ClusterOffMod) - ClusterOffShift
        x.cast("double") + off
      }).as("embedding"))

  /** Cross-subspace CORRELATED derivation of the embeddings table
    * (x115/x116 — the regime OPQ's learned rotation exists for): element
    * j becomes x[j] + x[(j+8) mod 64] + x[(j+16) mod 64], left-associated
    * exact double adds identical on both engines (per-row scalar ops —
    * no aggregation, so no rounding is needed). Each output coordinate
    * mixes inputs 8 and 16 apart, giving corr ≈ 2/3 between coordinates
    * in ADJACENT contiguous subspaces (PqSub = 8) — shared energy the
    * unrotated split must quantize redundantly in every subspace it
    * straddles, and a rotation can concentrate. The iid table itself is
    * OPQ's null case (isotropy ⇒ no rotation helps), exactly as it is
    * PQ-residual's (x82 vs x86). */
  def correlatedEmbeddings(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"), (x, j) =>
        x.cast("double") +
          element_at(col("embedding"), pmod(j + lit(8), lit(Dim)) + 1)
            .cast("double") +
          element_at(col("embedding"), pmod(j + lit(16), lit(Dim)) + 1)
            .cast("double")).as("embedding"))

  /** Drift gate for the index-refresh pipeline (pl12): retrain when the
    * arriving batch's cell-share TVD against the standing corpus exceeds
    * this many parts per million (0.2). The in-distribution batch (a
    * 1/10 modular split of the same iid table) lands far below it at
    * every SF; the shifted batch (+3 on every coordinate — far outside
    * the [−1,1] data range, so assignments collapse onto the nearest
    * cells) lands far above. Integer ppm so both engines compare the
    * exact same number ([[VectorOps.cellShareTvdPpm]]). */
  val RefreshDriftPpm = 200000L
  val RefreshShift = 3

  /** Candidate pool per query for the two-stage JL kNN (x55). The
    * synthetic iid embeddings are JL's ADVERSARIAL case — no cluster
    * structure, true neighbours barely above the cosine noise floor — so
    * the pool is sized for measured 0.60 recall there (curve: 12→0.23,
    * 24→0.37, 48→0.60, 96→0.73 at sf0.001); real text embeddings
    * cluster, where the same pool recalls far more. Still a ~10x
    * candidate cut at sf0.001 and growing with corpus size. */
  val JlKnnCandidates = 48

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------ x6
    // Exact brute-force cosine top-k: the correctness baseline — one pass
    // over the table, broadcast single-row query side, TakeOrdered top-k.
    "x6_brute_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.bruteForceTopK(t.embeddings, "vec_id", "embedding", QueryVecId, K)
    }),

    // ------------------------------------------------------------------ x7
    // ANN top-k via random-hyperplane LSH: candidates share the query's
    // bucket (hash join on `bucket`), exact cosine within the bucket.
    "x7_ann_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.annTopK(t.embeddings, "vec_id", "embedding", QueryVecId, K, planes)
    }),

    // ----------------------------------------------------------------- x54
    // Johnson–Lindenstrauss projection: every embedding cut 64 → 16 dims
    // through the deterministic plane matrix — reported one row per
    // (vector, output dim) so the oracle hash-checks every coordinate
    // (the projected ARRAY would hide a transposed or misscaled dim).
    "x54_jl_projection" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.jlProject(t.embeddings, "embedding", projPlanes)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("dim", "coord")))
        .orderBy("vec_id", "dim")
    }),

    // ----------------------------------------------------------------- x11
    // IVF top-k: deterministic k-means coarse quantizer (first-k init,
    // 2 Lloyd iterations, round-6 centroids), nprobe nearest cells probed,
    // exact cosine within cells. The oracle replays the identical
    // iteration in SQL, so centroids, assignments, and the final top-k
    // must all agree.
    "x11_ivf_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cent = VectorOps.kmeansCentroids(
        t.embeddings, "vec_id", "embedding", KClusters, KmeansIters)
      VectorOps.ivfTopK(t.embeddings, "vec_id", "embedding",
        QueryVecId, K, cent, NProbe)
    }),

    // ------------------------------------------------------------------ x8
    // Embedding-cosine near-duplicate pairs, LSH-bucket-blocked so the
    // pairwise comparison is bounded per block (never all-pairs).
    "x8_embed_neardups" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.nearDupPairs(t.embeddings, "vec_id", "embedding", planes, NearDupThreshold)
        .orderBy("block", "id_a", "id_b")
    }),

    // ----------------------------------------------------------------- x27
    // Quantized brute-force top-k: the same scan as x6 but over int8 codes
    // (x22's quantizer) — the 4×-less-IO form a 100 TB index actually
    // scans; cosine on the dequantized codes, exact double parity with the
    // oracle's replayed quantization. Dequantized arrays materialize to an
    // attribute before the norm/dot projection references them 3×.
    "x27_quant_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val deq = t.embeddings.select(col("vec_id"),
        VectorOps.dequantize(VectorOps.quantizeInt8(col("embedding"))).as("dv"))
      val q = deq.filter(col("vec_id") === QueryVecId)
        .select(col("dv").as("__qv"), VectorOps.norm2(col("dv")).as("__qn"))
      deq.filter(col("vec_id") =!= QueryVecId)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorOps.dot(col("dv"), col("__qv"))
            / (VectorOps.norm2(col("dv")) * col("__qn")), 6).as("sim_q"))
        .orderBy(desc("sim_q"), col("vec_id"))
        .limit(K)
    }),

    // ----------------------------------------------------------------- x33
    // Semantic dedup clusters: the x8 near-dup pair list is only the edge
    // set — transitively connected embeddings cluster together (a~b, b~c
    // dedup as one group), canonical = minimum vec_id. Routed through the
    // O(log n)-round star-contraction CC (the text-side x28 keeps min-label
    // propagation, so both algorithms stay query-exercised; they are
    // property-proven equivalent).
    "x33_embed_clusters" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = VectorOps.nearDupPairs(t.embeddings, "vec_id", "embedding",
        planes, NearDupThreshold)
      graft.operators.Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("component"),
          (col("id") === col("component")).as("is_canonical"))
        .orderBy("vec_id")
    }),

    // ----------------------------------------------------------------- x35
    // SemDeDup semantic dedup: k-means clusters (x11's deterministic coarse
    // quantizer) block the candidate pairs; any vector with a smaller-id
    // cluster-mate at cosine ≥ 0.3 is dropped (greedy keep-lowest-id). The
    // cluster-blocked complement of x8/x33's LSH blocking — the oracle
    // replays clustering, assignment, and the drop set.
    "x35_semdedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cent = VectorOps.kmeansCentroids(
        t.embeddings, "vec_id", "embedding", KClusters, KmeansIters)
      VectorOps.semanticDedup(t.embeddings, "vec_id", "embedding",
          cent, SemDedupThreshold)
        .orderBy("vec_id")
    }),

    // ----------------------------------------------------------------- x60
    // Cluster-balanced diversity sample: k-means cells (x11's coarse
    // quantizer) as diversity strata, at most DiverseQuota vectors kept
    // per cell in deterministic hash order — dense regions of embedding
    // space are capped, sparse ones kept whole, the cluster-balanced
    // subsampling used to diversify fine-tuning corpora. The cap routes
    // through the native bounded-heap operator (cell cardinality is
    // structurally KClusters — the heap contract holds by construction).
    "x60_diverse_sample" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cent = VectorOps.kmeansCentroids(
        t.embeddings, "vec_id", "embedding", KClusters, KmeansIters)
      val assigned = VectorOps.assignToCentroids(
          t.embeddings, "vec_id", "embedding", cent)
        .select("cid", "vec_id")
      Curation.quotaCapNative(assigned, "cid", "vec_id", DiverseQuota)
        .orderBy("cid", "vec_id")
    }),

    // ----------------------------------------------------------------- x64
    // ANN recall measurement: the batch IVF kNN join (the approximate
    // scale path — each query probes nprobe cells instead of crossing
    // the full corpus) scored against the exact join, per query. The
    // recall a production ANN deployment must monitor, as an
    // oracle-checked artifact rather than a claim.
    "x64_ann_recall" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pred = col("vec_id") % KnnQueryMod === 0
      val cent = VectorOps.kmeansCentroids(
        t.embeddings, "vec_id", "embedding", KClusters, KmeansIters)
      val exact = VectorOps.knnJoin(t.embeddings, "vec_id", "embedding",
        pred, KnnK).select("qid", "vec_id")
      val approx = VectorOps.ivfKnnJoin(t.embeddings, "vec_id", "embedding",
        pred, KnnK, cent, NProbe).select("qid", "vec_id")
      // ONE pass over the ground truth (optimization r19): a hit-flag
      // left join + single per-qid aggregation replaces the n_exact +
      // overlap-join pair that each re-ran the exact-kNN scan (approx
      // ids are unique per (qid, vec_id) — multiplicity 1).
      exact
        .join(approx.withColumn("__h", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid").agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__h"), lit(0L))).as("__nh"))
        .select(col("qid"), col("n_exact"),
          col("__nh").as("n_overlap"),
          round(col("__nh") / col("n_exact"), 4).as("recall"))
        .orderBy("qid")
    }),

    // ----------------------------------------------------------------- x63
    // Semantic decontamination: eval vectors (vec_id % 10 = 0) with a
    // training-corpus neighbour at cosine >= threshold, LSH-bucket
    // blocked, CROSS pairs only — the embedding-space companion to the
    // n-gram decontamination forms (paraphrased contamination shares no
    // n-grams but lands in the same embedding region). Reported per
    // flagged eval vector (match count + best similarity).
    "x63_semantic_decontam" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      VectorOps.nearDupPairsAgainst(
          e.filter(col("vec_id") % 10 === 0),
          e.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", planes, NearDupThreshold)
        .groupBy("id_eval")
        .agg(count(lit(1)).as("n_matches"), max("sim_r").as("max_sim"))
        .orderBy("id_eval")
    }),

    // ----------------------------------------------------------------- x62
    // Embedding-space drift: centroids frozen on the OLD snapshot
    // (vec_id % 10 <> 0), both snapshots assigned to those cells, per
    // cell the population-share shift and mean squared dispersion — the
    // vector analogue of x51's corpus drift (a new embedding model or a
    // source shift shows as share deltas / a dispersion jump before it
    // degrades retrieval).
    "x62_embedding_drift" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.embeddingDrift(
          t.embeddings.filter(col("vec_id") % 10 =!= 0), t.embeddings,
          "vec_id", "embedding", KClusters, KmeansIters)
        .orderBy("cid")
    }),

    // ----------------------------------------------------------------- x30
    // Exact kNN JOIN for a sampled query subset (vec_id % KnnQueryMod):
    // top-KnnK neighbours of EVERY sampled vector in one pass — query side
    // broadcast, embeddings cut to (qid, id, sim) before the per-query
    // ranking shuffle.
    "x30_knn_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.knnJoin(t.embeddings, "vec_id", "embedding",
          col("vec_id") % KnnQueryMod === 0, KnnK)
        .orderBy("qid", "rk")
    }),

    // ---------------------------------------------------------------- x103
    // Hard-negative mining (DPR/ANCE recipe): for each sampled query
    // vector, the k most-similar candidates whose LABEL differs —
    // semantically close yet wrong, the negatives that teach a
    // contrastive encoder its boundary. The label-mismatch predicate
    // applies BEFORE the heap cut so every returned row is a true
    // negative and each query still gets k of them; ranking rides the
    // native bounded-heap operator (x43's plan) — map-side heaps cut
    // |Q|×N to ≤ k·|Q| before the only exchange.
    "x103_hard_negatives" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.hardNegatives(t.embeddings, "vec_id", "embedding", "label",
          col("vec_id") % KnnQueryMod === 0, KnnK)
        .orderBy("qid", "rk")
    }),

    // ----------------------------------------------------------------- x43
    // x30's kNN join with the per-query ranking routed through the native
    // bounded-heap top-k operator: the |Q|×N similarity frame is cut to
    // ≤ k per (qid × partition) before the exchange instead of window-
    // sorting every query's full candidate list. Identical rows, same
    // oracle as x30 — the heap operator under its realest consumer.
    "x43_knn_native" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.knnJoinNative(t.embeddings, "vec_id", "embedding",
          col("vec_id") % KnnQueryMod === 0, KnnK)
        .orderBy("qid", "rk")
    }),

    // ----------------------------------------------------------------- x55
    // Two-stage kNN through the JL projection: candidates by projected-
    // space L2 (16 of 64 dims — 1/4 the distance-pass bytes, heap-cut
    // before any exchange), exact cosine re-rank on the full vectors for
    // survivors only. The oracle replays BOTH stages — projected coords,
    // round-6 distances, id tie-breaks, candidate cut, exact re-rank — so
    // the two-stage computation itself is the verified contract.
    "x55_jl_knn" -> ((s, dir) => {
      val t = Tables(s, dir)
      VectorOps.knnJoinProjected(t.embeddings, "vec_id", "embedding",
          col("vec_id") % KnnQueryMod === 0, KnnK, JlKnnCandidates,
          projPlanes)
        .orderBy("qid", "rk")
    }),

    // ----------------------------------------------------------------- x70
    // Product-quantization ADC top-k: per-subspace codebooks fitted by the
    // deterministic k-means recipe, vectors encoded to m codes, the scan
    // ranking by asymmetric distance (query subvectors vs reconstructed
    // centroids). The compressed-scan ANN form — codes are m bytes/vector
    // at ks=256 vs 4·dim for the raw floats. The oracle replays all four
    // k-means chains, the per-subspace argmin encode, and the ADC sum.
    "x70_pq_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cbs = VectorOps.pqCodebooks(t.embeddings, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      VectorOps.pqTopK(t.embeddings, "vec_id", "embedding", QueryVecId, K, cbs)
    }),

    // ----------------------------------------------------------------- x73
    // The PQ index as a STORED artifact (the band-index/DSIR-model move
    // for ANN): train → write codes+codebooks parquet → rehydrate → serve
    // the top-k off the STORED codes with zero corpus re-encoding — the
    // nightly steady state. The oracle is x70's: the round trip through
    // storage must be invisible in the results (doubles are exact through
    // parquet).
    "x73_pq_indexed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x73_pq_index")
      VectorOps.writePqIndex(e, "vec_id", "embedding", cbs, idx)
      VectorOps.pqTopKOverCodes(e, "vec_id", "embedding", QueryVecId, K,
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ----------------------------------------------------------------- x74
    // Incremental PQ-index maintenance — the nightly half of x73: the
    // standing base trains the codebooks and writes the index once; the
    // arriving batch is encoded with the STORED codebooks and appended
    // (O(|batch|) — the standing codes are never read), and the query
    // serves base ∪ batch off the index. The oracle trains the chains on
    // the base split only and encodes the whole table with them: the
    // append path must land exactly where encode-everything-with-base-
    // codebooks lands, proving appended codes are first-class citizens
    // of the served index.
    "x74_pq_append" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batch = e.filter(col("vec_id") % PqAppendMod === 0)
      val cbs = VectorOps.pqCodebooks(base, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x74_pq_index")
      VectorOps.writePqIndex(base, "vec_id", "embedding", cbs, idx)
      VectorOps.appendPqIndex(batch, "vec_id", "embedding", idx)
      VectorOps.pqTopKOverCodes(e, "vec_id", "embedding", QueryVecId, K,
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ----------------------------------------------------------------- x72
    // IVF-PQ composed: the coarse quantizer routes the query to nprobe
    // cells (x11's machinery), ADC over the PQ codes ranks within the
    // probed cells (x70's) — the standard billion-scale layout where a
    // query touches nprobe/k of the corpus AND reads m bytes per touched
    // vector. The oracle replays both quantizer chains, the probe cut,
    // and the composed ADC ranking.
    "x72_ivfpq_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      VectorOps.ivfPqTopK(e, "vec_id", "embedding", QueryVecId, K,
        cent, NProbe, cbs)
    }),

    // ----------------------------------------------------------------- x93
    // The x70 ADC serve at PRODUCTION codebook size: ks=128 entries per
    // subspace puts PQ training, corpus encode, and the query LUT build
    // on the broadcast __cb forms (no m·ks literal trees anywhere — the
    // encode-side twin of x92's coarse-quantizer claim). The oracle
    // replays the identical ks=128 per-subspace chains — codebooks,
    // codes, and the ADC top-k all hash-match, proving the broadcast
    // forms ARE the literal forms' arithmetic.
    "x93_pq_bigks" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKsBig, KmeansIters)
      VectorOps.pqTopK(e, "vec_id", "embedding", QueryVecId, K, cbs)
    }),

    // ----------------------------------------------------------------- x94
    // The FULL production geometry composed: k=256 coarse cells AND
    // ks=128 codebook entries per subspace in one IVF-PQ serve — every
    // quantizer-touching arrow (coarse training, cell assignment, PQ
    // training, encode, probe ranking, LUT build) runs its broadcast
    // large-k form simultaneously, the configuration a real deployment
    // ships. Oracle replays both parameterized chains at the big sizes.
    "x94_ivfpq_bigk_bigks" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClustersBig, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKsBig, KmeansIters)
      VectorOps.ivfPqTopK(e, "vec_id", "embedding", QueryVecId, K,
        cent, NProbeBig, cbs)
    }),

    // ----------------------------------------------------------------- x92
    // The x72 composed serve at PRODUCTION coarse-quantizer size: k=256
    // cells puts every k-means iteration's assignment AND the final cell
    // assignment on the broadcast-join argmin path (no whole-codebook
    // literal in any plan — the literal form's k×dim inlining is the one
    // 100×-scale hazard round 13 named), probed wider (nprobe=8) so the
    // candidate pool stays above K. The oracle replays the identical
    // k=256 chain — bit-identical centroids, assignments, and ADC top-k
    // prove the join form IS the literal form's arithmetic.
    "x92_ivfpq_bigk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClustersBig, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      VectorOps.ivfPqTopK(e, "vec_id", "embedding", QueryVecId, K,
        cent, NProbeBig, cbs)
    }),

    // ----------------------------------------------------------------- x75
    // The composed IVF-PQ index as a STORED artifact — the billion-scale
    // serving layout: cells + codes range-laid by cid (a probe's
    // `cid IN (…)` prunes whole files on parquet min/max stats),
    // centroids and codebooks parquet. Train both quantizers → write →
    // rehydrate → serve: the probe routing and ADC ranking must land
    // exactly where the live x72 form lands (shared oracle), with the
    // read path touching ~nprobe/k of the codes and no corpus vectors.
    "x75_ivfpq_indexed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x75_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      VectorOps.ivfPqTopKOverIndex(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, s.read.parquet(s"$idx/centroids"),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ----------------------------------------------------------------- x76
    // Routed BATCH kNN over the stored composed index — the production
    // batch-ANN join: each query row computes its nprobe cells as a
    // zero-shuffle literal projection and the candidate set is an EQUI
    // JOIN on the cell id (probe rows broadcast; the index is never
    // fanned out per query the way the all-codes ADC join is), ADC-
    // ranked and heap-cut per query. The oracle replays both quantizer
    // chains, the per-query probe ranking, and the cell-joined ADC
    // top-k.
    "x76_pq_routed_knn" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x76_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      VectorOps.pqKnnAgainstCodesRouted(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          KnnK, NProbe, s.read.parquet(s"$idx/centroids"),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .orderBy("qid", "adc_d2", "vec_id")
    }),

    // ----------------------------------------------------------------- x77
    // Incremental maintenance of the COMPOSED index — x74's pattern
    // applied to IVF-PQ: the standing base trains BOTH quantizers and
    // writes the range-laid index once; the arriving batch assigns to the
    // STORED centroids and encodes with the STORED codebooks in one
    // projection, appending O(|batch|) rows; the query serves base ∪
    // batch off the index. The oracle trains both chains on the base
    // split only and assigns/encodes the whole table with them: append
    // must land exactly where write-everything-with-base-quantizers
    // lands.
    "x77_ivfpq_append" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batch = e.filter(col("vec_id") % PqAppendMod === 0)
      val cent = VectorOps.kmeansCentroids(base, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(base, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x77_ivfpq_index")
      VectorOps.writeIvfPqIndex(base, "vec_id", "embedding", cent, cbs, idx)
      VectorOps.appendIvfPqIndex(batch, "vec_id", "embedding", idx)
      VectorOps.ivfPqTopKOverIndex(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, s.read.parquet(s"$idx/centroids"),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ----------------------------------------------------------------- x81
    // The periodic half of x77's append-then-compact lifecycle: appended
    // files are not range-laid (cid file pruning degrades gracefully),
    // so a compact re-lays the codes by cid from their own skinny bytes
    // — no corpus pass, no re-encode — and the serve off the COMPACTED
    // codes must land exactly where x77's serve lands (shared oracle:
    // compaction is result-invisible; the spec pins that the re-laid
    // files are cid-range-disjoint again).
    "x81_ivfpq_compact" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batch = e.filter(col("vec_id") % PqAppendMod === 0)
      val cent = VectorOps.kmeansCentroids(base, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(base, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x81_ivfpq_index")
      VectorOps.writeIvfPqIndex(base, "vec_id", "embedding", cent, cbs, idx)
      VectorOps.appendIvfPqIndex(batch, "vec_id", "embedding", idx)
      val compacted = SinkQueries.sinkDir("x81_ivfpq_codes_compacted")
      graft.sinks.LayoutSink.compact(s, s"$idx/codes", compacted,
        32L * 1024, Some("cid"))
      VectorOps.ivfPqTopKOverIndex(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, s.read.parquet(s"$idx/centroids"),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(compacted))
    }),

    // ----------------------------------------------------------------- x78
    // RESIDUAL IVF-PQ — the standard FAISS IVFPQ form the raw-vector
    // composition (x72) documents as its gap: PQ codebooks train on
    // v − centroid(cell), concentrating codebook capacity on WITHIN-cell
    // variance, and the serve compares the QUERY'S per-cell residual
    // against the probed cells' codes (per-probe-cell LUTs). The oracle
    // replays the coarse chain, the residual computation, the
    // residual-trained chains, the residual encode, and the per-cell
    // query-residual ADC.
    "x78_ivfpq_residual" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cents = VectorOps.collectCentroids(VectorOps.kmeansCentroids(
        e, "vec_id", "embedding", KClusters, KmeansIters))
      val cbs = VectorOps.pqCodebooksResidual(e, "vec_id", "embedding",
        cents, Dim, PqM, PqKs, KmeansIters)
      VectorOps.ivfPqResidualTopK(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, cents, cbs)
    }),

    // ----------------------------------------------------------------- x80
    // Routed-serve recall audit (the x64 pattern over the STORED
    // composed index): the production routed batch kNN (x76's deployed
    // form) scored against the exact L2 kNN join, per query — probe
    // misses compound quantization loss, and this measures the composed
    // number a deployed IVF-PQ index must monitor, off the same stored
    // artifact it serves from.
    "x80_routed_recall" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val pred = col("vec_id") % KnnQueryMod === 0
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x80_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      val q = e.filter(pred)
        .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
      val exactP = e.select(col("vec_id"), col("embedding").as("__v"))
        .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.l2sq(col("__v"), col("__qv")).as("d2"))
      val exact = graft.plans.TopKPerKey.topKPerKey(exactP, Seq("qid"),
        Seq(col("d2"), col("vec_id")), KnnK).select("qid", "vec_id")
      val routed = VectorOps.pqKnnAgainstCodesRouted(e.filter(pred),
          "vec_id", "embedding", KnnK, NProbe,
          s.read.parquet(s"$idx/centroids"),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .select("qid", "vec_id")
      // ONE pass over the ground truth (optimization r19): hit-flag left
      // join + single per-qid aggregation — the n_exact + overlap pair
      // each re-ran the brute-force pair scan (routed ids unique per
      // (qid, vec_id) — multiplicity 1).
      exact
        .join(routed.withColumn("__h", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid").agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__h"), lit(0L))).as("__nh"))
        .select(col("qid"), col("n_exact"),
          col("__nh").as("n_routed"),
          round(col("__nh") / col("n_exact"), 4).as("recall"))
        .orderBy("qid")
    }),

    // ----------------------------------------------------------------- x82
    // Residual-vs-raw recall — the measurement behind x78's design
    // claim: BOTH encodings at equal m/ks/nprobe, routed through the
    // SAME coarse cells, scored per query against the exact L2 kNN.
    // Residual encoding removes the between-cell component before
    // quantization, so at fixed code budget the codebooks spend their
    // capacity on within-cell variance — the aggregate res_recall /
    // raw_recall pair is the oracle-checked artifact of that trade on
    // these (adversarially iid) embeddings.
    "x82_residual_recall" -> ((s, dir) =>
      residualRecallReport(Tables(s, dir).embeddings)),

    // ----------------------------------------------------------------- x86
    // x82 on CLUSTERED data — the regime the residual form exists for.
    // The iid embeddings are PQ's adversarial case (x82: raw ≈ residual
    // recall, honestly inside sampling noise), so this gate derives a
    // deterministically clustered corpus from the same table
    // ([[clusteredEmbeddings]]: 8 integer-offset group centers, exact in
    // double on both engines) and reruns the identical raw-vs-residual
    // routed-recall measurement. Here the between-cell component
    // DOMINATES the signal, the coarse quantizer captures it, and the
    // residual codebooks spend their entire m/ks budget on the
    // within-cell remainder — the recall gap the MSE spec predicts
    // becomes measurable, as an oracle-checked artifact.
    "x86_clustered_recall" -> ((s, dir) =>
      // The clustered DERIVATION (per-coordinate group-center adds) is
      // re-paid on each of the report's ~10 corpus scans without the
      // persist; x82's raw-parquet corpus stays unpersisted — re-scanning
      // the page-cached file is cheaper than the cache round-trip
      // (optimization r19, measured).
      residualRecallReport(graft.GraftCache.persist(
        clusteredEmbeddings(Tables(s, dir).embeddings)))),

    // ----------------------------------------------------------------- x88
    // The deployed HIGH-RECALL serve off the stored index — x71 measures
    // two-stage's recall step-up (0.27 ADC → 0.73 refined) on the live
    // codebooks; this gates the same shape a production index actually
    // runs: ADC shortlist from the STORED codes (candidates per query,
    // heap-cut), then exact re-rank fetching only the survivors' full
    // vectors (an id equi join, candidate-pool-sized). Closes the
    // {two-stage} × {stored} serving cell.
    "x88_two_stage_indexed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x88_pq_index")
      VectorOps.writePqIndex(e, "vec_id", "embedding", cbs, idx)
      VectorOps.pqKnnAgainstCodesRefined(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          e, KnnK, PqCandidates, VectorOps.readPqCodebooks(s, idx),
          s.read.parquet(s"$idx/codes"))
        .orderBy("qid", "d2", "vec_id")
    }),

    // ---------------------------------------------------------------- x107
    // Hard-negative mining OFF the stored index — x103's filter-before-
    // heap semantics composed with x88's two-stage indexed serve (the
    // 100 TB mining form; x103's exact scan is one full corpus pass per
    // mining batch): the index stores the LABEL beside each vector's m
    // codes (written once at build), the ADC shortlist applies the
    // label-mismatch predicate BEFORE its heap cut so every query's
    // candidate pool is all true negatives, and the exact cosine re-rank
    // touches only the survivors' full vectors. The oracle replays the
    // whole chain — codebooks, encode, label-filtered ADC cut, cosine
    // re-rank.
    "x107_hard_negatives_indexed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x107_pq_index")
      VectorOps.writePqIndex(e, "vec_id", "embedding", cbs, idx,
        carry = Seq("label"))
      VectorOps.hardNegativesIndexed(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          "label", e, KnnK, PqCandidates,
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .orderBy("qid", "rk")
    }),

    // ---------------------------------------------------------------- x108
    // The honesty number for x107, alongside x80/x82: per-query recall of
    // the indexed hard-negative miner against the exact-scan miner
    // (identical final metric — rounded cosine — so the only divergence
    // channel is shortlist misses in the label-filtered ADC cut). The
    // oracle replays BOTH miners and the recall arithmetic.
    "x108_hard_negative_recall" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val pred = col("vec_id") % KnnQueryMod === 0
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x108_pq_index")
      VectorOps.writePqIndex(e, "vec_id", "embedding", cbs, idx,
        carry = Seq("label"))
      val exact = VectorOps.hardNegatives(e, "vec_id", "embedding", "label",
        pred, KnnK).select("qid", "vec_id")
      val indexed = VectorOps.hardNegativesIndexed(e.filter(pred), "vec_id",
          "embedding", "label", e, KnnK, PqCandidates,
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .select("qid", "vec_id")
      // ONE pass over the ground truth (optimization r19): hit-flag left
      // join + single per-qid aggregation — the n_exact + overlap pair
      // each re-ran the exact mining scan (indexed ids unique per
      // (qid, vec_id) — multiplicity 1).
      exact
        .join(indexed.withColumn("__h", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid").agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__h"), lit(0L))).as("__nh"))
        .select(col("qid"), col("n_exact"),
          col("__nh").as("n_indexed"),
          round(col("__nh") / col("n_exact"), 4).as("recall"))
        .orderBy("qid")
    }),

    // ---------------------------------------------------------------- x109
    // The ROUTED hard-negative miner — x107 with x76's cell routing as
    // stage 1: a mining batch reads ~nprobe/k of the range-laid index
    // (cid equi join behind parquet min/max pruning; m bytes + one label
    // per touched vector) instead of x107's all-codes ADC scan, with the
    // label-mismatch predicate still BEFORE the per-query heap cut and
    // the exact cosine re-rank touching only survivors. The deployed
    // 100 TB mining form; oracle replays k-means routing, codebooks,
    // encode, the label-filtered routed ADC cut, and the re-rank.
    "x109_hard_negatives_routed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x109_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx,
        carry = Seq("label"))
      VectorOps.hardNegativesRouted(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          "label", e, KnnK, PqCandidates, NProbe,
          VectorOps.collectCentroids(s.read.parquet(s"$idx/centroids")),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .orderBy("qid", "rk")
    }),

    // ---------------------------------------------------------------- x112
    // RECALL-TARGETED adaptive nprobe (round-15 verdict #6): the recall
    // harness existed (x80/x82/x108) but serving took nprobe as a
    // constant guess. Here the index build fits a recall-vs-nprobe curve
    // on a HELD-OUT query sample (integer ppm — exactly replayable),
    // stores it with the index, and the serve derives its nprobe as the
    // smallest value clearing the requested floor (fallback: probe
    // everything). The gate's output is the SERVE at the chosen nprobe
    // with the choice as a column — the oracle replays the exact top-k,
    // all maxProbe routed serves, the curve arithmetic, the floor choice,
    // AND the served rows, so a one-off error anywhere in the chain
    // shifts nprobe_used or the rows.
    "x112_adaptive_nprobe" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x112_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      val cents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val codes = s.read.parquet(s"$idx/codes")
      val holdout = e.filter(col("vec_id") % KnnQueryMod === RecallHoldoutRes)
      VectorOps.fitRecallCurve(holdout, "vec_id", "embedding", e,
          KnnK, KClusters, cents, cb, codes)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$idx/recall_curve")
      val chosen = VectorOps.chooseNprobe(
        s.read.parquet(s"$idx/recall_curve"), RecallFloorPpm, KClusters)
      VectorOps.pqKnnAgainstCodesRouted(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          KnnK, chosen, cents, cb, codes)
        .withColumn("nprobe_used", lit(chosen))
        .orderBy("qid", "adc_d2", "vec_id")
    }),

    // ---------------------------------------------------------------- x114
    // The adaptive knob MAINTAINED through index maintenance: x112 fits
    // the recall curve once at build, but the curve is a property of the
    // index it was fitted on — an append changes the cell population and
    // silently invalidates the stored choice. Here the x77 append
    // lifecycle composes with the x112 fit: curve + choice on the base
    // index, appended batch encoded with the STORED quantizers, curve
    // REFIT on the post-append index (same held-out queries, exact
    // ground truth over the served corpus of each phase), choice
    // re-derived. Oracle replays both phases' curves bit-for-bit (the
    // appended codes are provably where encode-everything-with-base-
    // quantizers lands — x77's premise), so a stale-curve serve cannot
    // hide.
    "x114_adaptive_nprobe_refresh" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batch = e.filter(col("vec_id") % PqAppendMod === 0)
      val cent = VectorOps.kmeansCentroids(base, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(base, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x114_ivfpq_index")
      VectorOps.writeIvfPqIndex(base, "vec_id", "embedding", cent, cbs, idx)
      val cents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val holdout = e.filter(col("vec_id") % KnnQueryMod === RecallHoldoutRes)
      def phase(name: String, corpus: DataFrame): DataFrame = {
        // localCheckpoint (eager), NOT persist: the append that follows
        // phase 1 goes through DataFrameWriter, which RECACHES every
        // cached plan reading the codes path against a refreshed file
        // listing — a persisted phase-1 curve would silently re-
        // materialize over the post-append index. The checkpoint cuts
        // lineage to materialized blocks (8 rows), leaving no path
        // reference for the recache to rewrite.
        val curve = graft.GraftCache.checkpoint(VectorOps.fitRecallCurve(
          holdout, "vec_id", "embedding", corpus, KnnK, KClusters,
          cents, cb, s.read.parquet(s"$idx/codes")))
        val chosen = VectorOps.chooseNprobe(curve, RecallFloorPpm, KClusters)
        curve.select(lit(name).as("phase"), col("nprobe"),
          col("recall_ppm"), (col("nprobe") === chosen).as("chosen"))
      }
      val p1 = phase("1_base", base)
      VectorOps.appendIvfPqIndex(batch, "vec_id", "embedding", idx)
      val p2 = phase("2_appended", e)
      p1.unionByName(p2).orderBy("phase", "nprobe")
    }),

    // ---------------------------------------------------------------- x117
    // x114's maintenance contract closed over the OTHER lifecycle arc:
    // delete (x85's tombstone prune, re-laid by cid) then compact
    // (x81's layout fold) also change the cell population, so the
    // stored curve/choice from build time is stale after them exactly
    // as it is after an append. Phase 1 fits on the full index; the
    // delete prunes, the compaction folds; phase 2 REFITS on the
    // compacted codes with the survivors as exact ground truth and
    // re-derives the choice. The oracle replays both phases' curves —
    // delete narrows the served rows, never the quantizers (x85's
    // premise), and compaction is result-invisible (x81's), so a
    // stale-curve serve cannot hide behind either.
    "x117_adaptive_nprobe_lifecycle" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x117_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      val cents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val holdout = e.filter(col("vec_id") % KnnQueryMod === RecallHoldoutRes)
      def phase(name: String, corpus: DataFrame, codes: String): DataFrame = {
        // localCheckpoint for the same DataFrameWriter-recache reason as
        // x114: the delete/compact writes that follow phase 1 must not
        // re-materialize a lazily-cached phase-1 curve over the pruned
        // index
        val curve = graft.GraftCache.checkpoint(VectorOps.fitRecallCurve(
          holdout, "vec_id", "embedding", corpus, KnnK, KClusters,
          cents, cb, s.read.parquet(codes)))
        val chosen = VectorOps.chooseNprobe(curve, RecallFloorPpm, KClusters)
        curve.select(lit(name).as("phase"), col("nprobe"),
          col("recall_ppm"), (col("nprobe") === chosen).as("chosen"))
      }
      val p1 = phase("1_full", e, s"$idx/codes")
      val removed = e.filter(col("vec_id") % VecDeleteMod === VecDeleteRem)
        .select("vec_id")
      val pruned = SinkQueries.sinkDir("x117_codes_pruned")
      VectorOps.deletePqCodes(s, idx, removed, "vec_id", pruned)
      val compacted = SinkQueries.sinkDir("x117_codes_compacted")
      graft.sinks.LayoutSink.compact(s, pruned, compacted, 32L * 1024,
        Some("cid"))
      val survivors = e.filter(col("vec_id") % VecDeleteMod =!= VecDeleteRem)
      val p2 = phase("2_pruned", survivors, compacted)
      p1.unionByName(p2).orderBy("phase", "nprobe")
    }),

    // ---------------------------------------------------------------- x118
    // The SERVE half of x117's arc — the deployed read after a
    // delete+compact maintenance window: refit on the compacted index,
    // re-derive the choice, serve the production batch queries through
    // it (x112's serve shape), nprobe_used stamped so the artifact
    // records which knob setting actually answered. The oracle replays
    // the post-maintenance curve, the floor choice, and the routed ADC
    // ranking over the survivors end to end.
    "x118_adaptive_nprobe_lifecycle_serve" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x118_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      val cents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val removed = e.filter(col("vec_id") % VecDeleteMod === VecDeleteRem)
        .select("vec_id")
      val pruned = SinkQueries.sinkDir("x118_codes_pruned")
      VectorOps.deletePqCodes(s, idx, removed, "vec_id", pruned)
      val compacted = SinkQueries.sinkDir("x118_codes_compacted")
      graft.sinks.LayoutSink.compact(s, pruned, compacted, 32L * 1024,
        Some("cid"))
      val survivors = e.filter(col("vec_id") % VecDeleteMod =!= VecDeleteRem)
      val holdout = e.filter(col("vec_id") % KnnQueryMod === RecallHoldoutRes)
      val curve = VectorOps.fitRecallCurve(holdout, "vec_id", "embedding",
        survivors, KnnK, KClusters, cents, cb, s.read.parquet(compacted))
      val chosen = VectorOps.chooseNprobe(curve, RecallFloorPpm, KClusters)
      VectorOps.pqKnnAgainstCodesRouted(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          KnnK, chosen, cents, cb, s.read.parquet(compacted))
        .withColumn("nprobe_used", lit(chosen))
        .orderBy("qid", "adc_d2", "vec_id")
    }),

    // ---------------------------------------------------------------- x113
    // Recall-honesty gate for the POSITIVE miner — x108's contract
    // applied to the same-label side: the routed positive miner (pl15's
    // deploy path) and the exact one share the final rounded cosine and
    // tie order, so the only divergence channel is shortlist misses,
    // measured here per query against the exact scan. Oracle replays
    // both miners end to end.
    "x113_hard_positive_recall" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val pred = col("vec_id") % KnnQueryMod === 0
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x113_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx,
        carry = Seq("label"))
      val exact = VectorOps.hardPositives(e, "vec_id", "embedding", "label",
        pred, KnnK).select("qid", "vec_id")
      val routed = VectorOps.hardPositivesRouted(e.filter(pred), "vec_id",
          "embedding", "label", e, KnnK, PqCandidates, NProbe,
          VectorOps.collectCentroids(s.read.parquet(s"$idx/centroids")),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .select("qid", "vec_id")
      // ONE pass over the ground truth (optimization r19): hit-flag left
      // join + single per-qid aggregation — the n_exact + overlap pair
      // each re-ran the exact mining scan (routed ids unique per
      // (qid, vec_id) — multiplicity 1).
      exact
        .join(routed.withColumn("__h", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid").agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__h"), lit(0L))).as("__nh"))
        .select(col("qid"), col("n_exact"),
          col("__nh").as("n_routed"),
          round(col("__nh") / col("n_exact"), 4).as("recall"))
        .orderBy("qid")
    }),

    // ---------------------------------------------------------------- pl15
    // Training-pair EXPORT pipeline (round-15 verdict #5) — the tiers that
    // existed separately, chained into the artifact a contrastive trainer
    // actually consumes: mine hard negatives AND each anchor's positive
    // (nearest same-label neighbor) off the STORED IVF-PQ index — both
    // sides of every unit go through the routed path (~nprobe/k of the
    // index read per mining batch; x108/x113 are the per-side recall
    // honesty gates), assemble (anchor, positive, negatives) units,
    // split LEAKAGE-SAFE
    // over the mined association graph (any vector reachable from an
    // anchor through a mined edge shares its split — x52's
    // connected-components key, so an eval anchor's positive or negative
    // can never appear in train), pack the train units into fixed-size
    // device batches (x66's packer on vectors-per-unit), and export the
    // packed assignment to parquet. Reported as a pl8-style funnel
    // (units + vectors per stage) whose conservation laws the oracle
    // replays end to end: mining, positive choice, CC split arithmetic,
    // hash-bucket split, bin assignment.
    "pl15_training_pairs" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val anchorPred = col("vec_id") % KnnQueryMod === 0
      val anchors = e.filter(anchorPred)
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("pl15_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx,
        carry = Seq("label"))
      val cents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val codes = s.read.parquet(s"$idx/codes")
      // fused mining pass (optimization r19): both sides off ONE ADC
      // candidate scan — identical candidates/ranking to the two
      // independent routed miners (x108/x113 keep gating those)
      val (posAll, negAll) = VectorOps.minedPairsRouted(
        e.filter(anchorPred), "vec_id", "embedding", "label", e,
        1, KnnK, PqCandidates, NProbe, cents, cb, codes)
      val positives = graft.GraftCache.persist(
        posAll.select(col("qid"), col("vec_id").as("pos_id")))
      val negatives = graft.GraftCache.persist(
        negAll.select(col("qid"), col("vec_id").as("neg_id")))
      val units = positives.join(
        negatives.groupBy("qid").agg(count(lit(1)).as("n_negs")), Seq("qid"))
      val edges = positives
        .select(col("qid").as("id_a"), col("pos_id").as("id_b"))
        .unionByName(negatives
          .select(col("qid").as("id_a"), col("neg_id").as("id_b")))
      val splits = Curation.assignSplitsLeakageSafe(e.select("vec_id"),
        "vec_id", edges, "id_a", "id_b", CurationQueries.SplitWeights)
      val unitSplits = graft.GraftCache.persist(units
        .join(splits.select(col("vec_id").as("qid"), col("split")),
          Seq("qid"))
        .withColumn("n_vecs", col("n_negs") + lit(2L)))
      val train = unitSplits.filter(col("split") === "train")
      val packed = Curation.packSequences(
        train.select("qid", "pos_id", "n_vecs"), "qid", "n_vecs",
        PairPackBudget, PairPackShards)
      val outDir = SinkQueries.sinkDir("pl15_train_pairs")
      packed.write.mode("overwrite").parquet(outDir)
      val exported = s.read.parquet(outDir)
      def stage(name: String, df: DataFrame, vecs: Column): DataFrame =
        df.agg(count(lit(1)).as("n_units"),
            coalesce(sum(vecs), lit(0L)).as("n_vecs"))
          .select(lit(name).as("stage"), col("n_units"), col("n_vecs"))
      val bins = packed.groupBy("shard", "bin")
        .agg(sum("n_vecs").as("bin_vecs"))
      stage("1_anchors", anchors, lit(1L))
        .unionByName(stage("2_paired", unitSplits, col("n_vecs")))
        .unionByName(stage("3_train", train, col("n_vecs")))
        .unionByName(stage("4_pack_bins", bins, col("bin_vecs")))
        .unionByName(stage("5_exported", exported, col("n_vecs")))
        .orderBy("stage")
    }),

    // ----------------------------------------------------------------- x87
    // The residual twin of x76 — routed BATCH kNN served off the STORED
    // residual index: every sampled query's probe cells compute as a
    // zero-shuffle projection, per-probed-cell query residuals and
    // their ADC LUTs broadcast onto one equi join against the stored
    // codes (the corpus side pays exactly what raw routed ADC pays),
    // heap-cut per query before any exchange. Closes the
    // {residual} × {routed batch serve} × {stored} cell of the
    // lifecycle matrix with its own oracle replay.
    "x87_residual_routed_knn" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cents = VectorOps.collectCentroids(VectorOps.kmeansCentroids(
        e, "vec_id", "embedding", KClusters, KmeansIters))
      val cbs = VectorOps.pqCodebooksResidual(e, "vec_id", "embedding",
        cents, Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x87_ivfpq_res_index")
      VectorOps.writeIvfPqResidualIndex(e, "vec_id", "embedding", cents,
        cbs, idx)
      VectorOps.ivfPqResidualKnnOverCodes(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          KnnK, NProbe, VectorOps.readCentroids(s, idx),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
        .orderBy("qid", "adc_d2", "vec_id")
    }),

    // ----------------------------------------------------------------- x89
    // PageRank over the exact-kNN digraph — random-walk centrality as a
    // PROTOTYPICALITY score (hubs of the neighbour graph sit in dense
    // regions; the inverse of x60's diversity signal, and the typicality
    // proxy coreset-selection pipelines rank by). Oracle-checkable
    // because the whole fixpoint runs in BIGINT ppm ([[Graph.pageRankPpm]]
    // — the pl12 TVD move applied to an iterative recurrence; float
    // PageRank cannot be hash-gated, per-node in-sums reorder under
    // shuffle). The node set is a FIXED id range: the exact kNN graph is
    // the oracle-able baseline (quadratic build — x30's caveat), so the
    // gate bounds it; at corpus scale the edges come from the LSH/IVF
    // candidate paths and the iteration cost is |E| ppm-joins, which is
    // what the operator's shape is built for.
    "x89_knn_pagerank" -> ((s, dir) => {
      val t = Tables(s, dir)
      val sub = t.embeddings.filter(col("vec_id") < PrNodes)
      val edges = VectorOps.knnJoin(sub, "vec_id", "embedding",
          lit(true), KnnK)
        .select(col("qid").as("src"), col("vec_id").as("dst"))
      val nodes = sub.select(col("vec_id").as("id"))
      Graph.pageRankPpm(nodes, edges, PrIters)
        .select(col("id").as("vec_id"), col("rank_ppm"))
        .orderBy(desc("rank_ppm"), col("vec_id"))
    }),

    // ---------------------------------------------------------------- pl12
    // Drift-triggered index maintenance — the one lifecycle arrow the
    // build/append/compact/delete gates leave open: WHEN does the
    // standing quantizer get retrained? The pipeline measures the
    // arriving batch's cell-share TVD against the standing corpus under
    // the CURRENT coarse quantizer (integer-ppm arithmetic, so the
    // decision number is exact on both engines), then executes the
    // decided action and serves a probe query through the result:
    // an in-distribution batch (1/10 modular split) stays under the
    // threshold → append (serve through the STANDING quantizer over
    // base ∪ batch, x77's semantics); a shifted batch (+3 per
    // coordinate) blows past it → retrain (fresh k-means over the
    // merged corpus, serve through the NEW cells). One report row per
    // scenario: the drift number, the decision it forced, and the
    // served top-1 as evidence the decided index actually answers.
    "pl12_index_refresh" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batchA = e.filter(col("vec_id") % PqAppendMod === 0)
      val batchB = batchA.select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(RefreshShift.toDouble)).as("embedding"))
      val cents = VectorOps.kmeansCentroids(base, "vec_id", "embedding",
        KClusters, KmeansIters)
      def toD(df: DataFrame) = df.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      def scenario(name: String, batch: DataFrame): DataFrame = {
        val ppm = VectorOps.cellShareTvdPpm(base, batch, "vec_id",
          "embedding", cents)
        val retrain = ppm > RefreshDriftPpm
        val corpus = graft.GraftCache.persist(
          toD(base).unionByName(toD(batch)))
        val serveCents =
          if (retrain) VectorOps.kmeansCentroids(corpus, "vec_id",
            "embedding", KClusters, KmeansIters)
          else cents
        // the serving cells changed (retrain) or their population did
        // (append) — either way the stored probe choice is stale
        // (x114/x117's contract), so the pipeline REFITS the coarse
        // recall curve on the decided index and re-derives the knob
        // before serving, instead of serving a fixed nprobe constant
        val cseq = VectorOps.collectCentroids(serveCents)
        val holdout = corpus.filter(
          col("vec_id") % KnnQueryMod === RecallHoldoutRes)
        val chosen = VectorOps.chooseNprobe(
          VectorOps.fitCoarseRecallCurve(holdout, "vec_id", "embedding",
            corpus, KnnK, KClusters, cseq),
          RecallFloorPpm, KClusters)
        val q = corpus.filter(col("vec_id") === QueryVecId)
          .select(col("embedding").as("__qv"))
        val probeCells = serveCents.crossJoin(broadcast(q))
          .select(col("cid"), VectorOps.l2sq(col("__qv"), col("c")).as("__d"))
          .orderBy(col("__d"), col("cid")).limit(chosen).select("cid")
        VectorOps.assignToCentroids(corpus, "vec_id", "embedding", serveCents)
          .filter(col("vec_id") =!= QueryVecId)
          .join(broadcast(probeCells), "cid")
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(VectorOps.l2sq(col("v"), col("__qv")), 6).as("d2"))
          .orderBy(col("d2"), col("vec_id")).limit(1)
          .select(lit(name).as("scenario"), lit(ppm).as("drift_ppm"),
            lit(if (retrain) "retrain" else "append").as("decision"),
            lit(chosen).as("nprobe_used"),
            col("vec_id").as("top1_vec_id"), col("d2").as("top1_d2"))
      }
      scenario("1_indist", batchA).unionByName(scenario("2_shifted", batchB))
        .orderBy("scenario")
    }),

    // ----------------------------------------------------------------- x84
    // The RESIDUAL composed index as a STORED artifact — x75's move
    // applied to x78: residual codes range-laid by cid, centroids +
    // codebooks parquet; the serve rehydrates both quantizers, pushes
    // the probe's `cid IN` to the codes scan, and must land exactly
    // where the live residual form lands (shared oracle — the storage
    // round trip is result-invisible).
    "x84_ivfpq_residual_indexed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cents = VectorOps.collectCentroids(VectorOps.kmeansCentroids(
        e, "vec_id", "embedding", KClusters, KmeansIters))
      val cbs = VectorOps.pqCodebooksResidual(e, "vec_id", "embedding",
        cents, Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x84_ivfpq_res_index")
      VectorOps.writeIvfPqResidualIndex(e, "vec_id", "embedding", cents,
        cbs, idx)
      VectorOps.ivfPqResidualTopKOverIndex(e, "vec_id", "embedding",
        QueryVecId, K, NProbe, VectorOps.readCentroids(s, idx),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ----------------------------------------------------------------- x90
    // Incremental append on the RESIDUAL index — x77's lifecycle on the
    // residual form, closing the {residual} × {append} matrix cell: both
    // quantizer families train on the standing base (coarse cells, then
    // residual codebooks on the base's residuals), the index stores the
    // base, the arriving batch appends through the STORED tables
    // (assign → subtract cell centroid → encode, one projection,
    // O(|batch|)), and the serve over base ∪ batch must land exactly
    // where the oracle's base-trained whole-table replay lands.
    "x90_ivfpq_residual_append" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batch = e.filter(col("vec_id") % PqAppendMod === 0)
      val cents = VectorOps.collectCentroids(VectorOps.kmeansCentroids(
        base, "vec_id", "embedding", KClusters, KmeansIters))
      val cbs = VectorOps.pqCodebooksResidual(base, "vec_id", "embedding",
        cents, Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x90_ivfpq_res_index")
      VectorOps.writeIvfPqResidualIndex(base, "vec_id", "embedding", cents,
        cbs, idx)
      VectorOps.appendIvfPqResidualIndex(batch, "vec_id", "embedding", idx)
      VectorOps.ivfPqResidualTopKOverIndex(e, "vec_id", "embedding",
        QueryVecId, K, NProbe, VectorOps.readCentroids(s, idx),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ----------------------------------------------------------------- x85
    // Tombstone delete on the COMPOSED index, served end to end — x83's
    // lifecycle at the billion-scale layout: the pruned codes keep their
    // cid range layout (deletePqCodes re-lays), and the serve off the
    // pruned index equals the full-corpus-trained ranking over the
    // survivors (the oracle narrows the served rows only — delete is
    // never a retrain).
    "x85_ivfpq_delete" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x85_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx)
      val removed = e.filter(col("vec_id") % VecDeleteMod === VecDeleteRem)
        .select("vec_id")
      val pruned = SinkQueries.sinkDir("x85_ivfpq_codes_pruned")
      VectorOps.deletePqCodes(s, idx, removed, "vec_id", pruned)
      VectorOps.ivfPqTopKOverIndex(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, s.read.parquet(s"$idx/centroids"),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(pruned))
    }),

    // ----------------------------------------------------------------- x83
    // Tombstone maintenance for the stored PQ index — the takedown/
    // re-crawl path: write the index, discover the removed ids, drop
    // their rows from the skinny codes (never touching the corpus
    // vectors or the quantizers), and serve off the pruned codes. The
    // oracle trains on the FULL corpus (delete is not retrain) and
    // serves only the survivors — the SQL image of
    // delete-without-rebuild; the spec separately pins pruned codes ==
    // encode(survivors) with the stored codebooks.
    "x83_pq_delete" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x83_pq_index")
      VectorOps.writePqIndex(e, "vec_id", "embedding", cbs, idx)
      val removed = e.filter(col("vec_id") % VecDeleteMod === VecDeleteRem)
        .select("vec_id")
      val pruned = SinkQueries.sinkDir("x83_pq_codes_pruned")
      VectorOps.deletePqCodes(s, idx, removed, "vec_id", pruned)
      VectorOps.pqTopKOverCodes(e, "vec_id", "embedding", QueryVecId, K,
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(pruned))
    }),

    // ----------------------------------------------------------------- x71
    // PQ recall audit (the x64 pattern for the PQ path): both the raw ADC
    // kNN join AND the deployed two-stage form (ADC shortlist → exact
    // re-rank) scored against the exact L2 kNN join, per query —
    // quantization error measured metric-consistently (both sides rank by
    // L2; cosine vs ADC-L2 would confound metric disagreement with
    // quantization loss). The recall a deployed PQ index must monitor, as
    // an oracle-checked artifact rather than a claim.
    "x71_pq_recall" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val pred = col("vec_id") % KnnQueryMod === 0
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val q = e.filter(pred)
        .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
      val exactP = e.select(col("vec_id"), col("embedding").as("__v"))
        .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.l2sq(col("__v"), col("__qv")).as("d2"))
      val exact = graft.plans.TopKPerKey.topKPerKey(exactP, Seq("qid"),
        Seq(col("d2"), col("vec_id")), KnnK).select("qid", "vec_id")
      val adc = VectorOps.pqKnnJoin(e, "vec_id", "embedding", pred,
        KnnK, cbs).select("qid", "vec_id")
      val refined = VectorOps.pqKnnJoinRefined(e, "vec_id", "embedding",
        pred, KnnK, PqCandidates, cbs).select("qid", "vec_id")
      // ONE pass over the ground truth (optimization r19): hit-flag left
      // joins against both serves + a single per-qid aggregation — the
      // former n_exact + two overlap-join consumers each re-ran the
      // brute-force pair scan (served ids unique per (qid, vec_id) —
      // multiplicity 1).
      exact
        .join(adc.withColumn("__ha", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .join(refined.withColumn("__hf", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid").agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__ha"), lit(0L))).as("__nadc"),
          sum(coalesce(col("__hf"), lit(0L))).as("__nref"))
        .select(col("qid"), col("n_exact"),
          col("__nadc").as("n_adc"),
          round(col("__nadc") / col("n_exact"), 4).as("adc_recall"),
          col("__nref").as("n_refined"),
          round(col("__nref") / col("n_exact"), 4).as("refined_recall"))
        .orderBy("qid")
    }),

    // ---------------------------------------------------------------- x115
    // OPQ end-to-end: fit the learned rotation on the correlated corpus
    // (the regime cross-subspace correlation exists for — see
    // [[correlatedEmbeddings]]), materialize the composed index WITH the
    // rotation as a stored artifact, rehydrate everything, and serve the
    // routed top-k through the rotate-at-the-boundary seam. The oracle
    // replays the ENTIRE fit — identity-lattice chains, Procrustes
    // cross-matrix, the 40 unrolled Newton–Schulz polar steps, the
    // rotated-space chains — then the probe cut and ADC, so the learned
    // rotation itself is the verified contract, not just the serve.
    "x115_opq_serve" -> ((s, dir) => {
      // Persist the correlated corpus (scanned by the OPQ fit, the
      // rotate, and the serve) and the final-rotation frame: without the
      // persists rotate(e) — a dim×dim matmul per row on top of the
      // correlated derivation — re-ran once per Lloyd iteration of the
      // coarse fit PLUS once for the index write (optimization r19: one
      // rotate pass; writeOpqIvfPqIndex inlined to its two steps so the
      // write reads the same persisted frame — identical artifacts).
      val e = graft.GraftCache.persist(
        correlatedEmbeddings(Tables(s, dir).embeddings))
      val (r, cbs) = VectorOps.fitOpq(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters, OpqIters)
      val rotE = graft.GraftCache.persist(
        VectorOps.rotate(e, "embedding", r))
      val cents = VectorOps.kmeansCentroids(rotE, "vec_id", "embedding",
        KClusters, KmeansIters)
      val idx = SinkQueries.sinkDir("x115_opq_index")
      VectorOps.writeIvfPqIndex(rotE, "vec_id", "embedding", cents, cbs, idx)
      VectorOps.writeRotation(s, r, idx)
      VectorOps.opqTopKOverIndex(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, VectorOps.readRotation(s, idx),
        s.read.parquet(s"$idx/centroids"),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"))
    }),

    // ---------------------------------------------------------------- x116
    // The measured WHY of x115 — the x82/x86-style honesty pair for the
    // learned rotation: plain PQ vs OPQ at EQUAL m/ks/nprobe on the
    // correlated corpus, reporting quantization MSE (the objective the
    // R-step minimizes) and mean routed recall vs the exact L2 kNN (the
    // number a deployed index monitors). One row, four round-pinned
    // values; the oracle replays both branches — the identity lattice IS
    // the PQ branch, so the fit replay is shared, not doubled.
    "x116_opq_gain" -> ((s, dir) => {
      // The correlated derivation feeds two full OPQ fits, two rotates
      // and the exact pair scan — persist it once (optimization r19;
      // x129 already does this).
      val e = graft.GraftCache.persist(
        correlatedEmbeddings(Tables(s, dir).embeddings))
      val qpred = col("vec_id") % KnnQueryMod === 0
      val q = e.filter(qpred)
        .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
      val exactP = e.select(col("vec_id"), col("embedding").as("__v"))
        .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.l2sq(col("__v"), col("__qv")).as("d2"))
      val exact = graft.plans.TopKPerKey.topKPerKey(exactP, Seq("qid"),
        Seq(col("d2"), col("vec_id")), KnnK).select("qid", "vec_id")
      // opqIters = 0 degenerates to plain PQ on the same round-6 lattice
      // the rotated branch trains on — the controlled baseline.
      def branch(opqIters: Int, t: String): (DataFrame, DataFrame) = {
        val (r, cbs) = VectorOps.fitOpq(e, "vec_id", "embedding",
          Dim, PqM, PqKs, KmeansIters, opqIters)
        val rot = graft.GraftCache.persist(VectorOps.rotate(e, "embedding", r))
        val enc = VectorOps.pqEncode(rot, "vec_id", "embedding", cbs,
          carry = Seq("embedding"))
        val mse = VectorOps.quantMse(enc, "embedding", cbs)
          .select(col("mse").as(s"${t}_mse"))
        val cents = VectorOps.collectCentroids(VectorOps.kmeansCentroids(
          rot, "vec_id", "embedding", KClusters, KmeansIters))
        val codes = VectorOps.pqEncodeWithCells(rot, "vec_id", "embedding",
          cents, cbs)
        val served = VectorOps.pqKnnAgainstCodesRouted(rot.filter(qpred),
          "vec_id", "embedding", KnnK, NProbe, cents, cbs, codes)
          .select("qid", "vec_id")
        (mse, served)
      }
      val (msePq, servedPq) = branch(0, "pq")
      val (mseOpq, servedOpq) = branch(OpqIters, "opq")
      // ONE pass over the ground truth for BOTH branches' recalls
      // (optimization r19): hit-flag left joins + one per-qid
      // aggregation replace the former four consumers (nx + hits per
      // branch), each of which re-ran the brute-force pair scan
      // (served ids unique per (qid, vec_id) — multiplicity 1; per-qid
      // nh/nx values identical, so the rounded averages match).
      val recs = exact
        .join(servedPq.withColumn("__hp", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .join(servedOpq.withColumn("__ho", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid").agg(count(lit(1)).as("nx"),
          sum(coalesce(col("__hp"), lit(0L))).as("nhp"),
          sum(coalesce(col("__ho"), lit(0L))).as("nho"))
        .agg(round(avg(col("nhp") / col("nx")), 4).as("pq_recall"),
          round(avg(col("nho") / col("nx")), 4).as("opq_recall"))
      msePq.crossJoin(broadcast(mseOpq)).crossJoin(broadcast(recs))
    }),

    // ---------------------------------------------------------------- x122
    // OPQ index MAINTENANCE — the lifecycle arrow x115 leaves open,
    // closed the x77/x81 way: the standing base fits the rotation and
    // both quantizers and writes the composed artifact once; the
    // arriving batch rotates through the STORED rotation (never a
    // refit) and appends in O(|batch|); a compact re-lays the codes by
    // cid from their own skinny bytes; the query serves base ∪ batch
    // off the compacted index. The oracle fits everything on the base
    // split and rotate-assigns-encodes the whole corpus — append and
    // compact must land exactly where fit-on-base-encode-everything
    // lands. Delete and the adaptive-nprobe refit inherit unchanged
    // (rotated-space codes are plain IVF-PQ codes — x85/x117's passes
    // operate on the same artifact shape).
    "x122_opq_append" -> ((s, dir) => {
      // Same persists as x115 (optimization r19): the correlated corpus
      // once, and the rotated BASE once instead of per-Lloyd-iteration
      // plus per index write (writeOpqIvfPqIndex inlined to its two
      // steps — identical artifacts).
      val e = graft.GraftCache.persist(
        correlatedEmbeddings(Tables(s, dir).embeddings))
      val base = e.filter(col("vec_id") % PqAppendMod =!= 0)
      val batch = e.filter(col("vec_id") % PqAppendMod === 0)
      val (r, cbs) = VectorOps.fitOpq(base, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters, OpqIters)
      val rotBase = graft.GraftCache.persist(
        VectorOps.rotate(base, "embedding", r))
      val cents = VectorOps.kmeansCentroids(rotBase, "vec_id", "embedding",
        KClusters, KmeansIters)
      val idx = SinkQueries.sinkDir("x122_opq_index")
      VectorOps.writeIvfPqIndex(rotBase, "vec_id", "embedding", cents, cbs,
        idx)
      VectorOps.writeRotation(s, r, idx)
      VectorOps.appendOpqIvfPqIndex(batch, "vec_id", "embedding", idx)
      val compacted = SinkQueries.sinkDir("x122_opq_codes_compacted")
      graft.sinks.LayoutSink.compact(s, s"$idx/codes", compacted,
        32L * 1024, Some("cid"))
      VectorOps.opqTopKOverIndex(e, "vec_id", "embedding", QueryVecId, K,
        NProbe, VectorOps.readRotation(s, idx),
        s.read.parquet(s"$idx/centroids"),
        VectorOps.readPqCodebooks(s, idx), s.read.parquet(compacted))
    }),

    // ---------------------------------------------------------------- x129
    // x117's delete→compact→refit lifecycle ON the OPQ index (round-17
    // verdict #4): the claim "rotated-space codes are plain IVF-PQ codes
    // so maintenance inherits" was an argument, not a gate — this is the
    // gate. Fit rotation + quantizers on the full correlated corpus,
    // write the composed OPQ artifact, fit the recall curve through the
    // STORED rotation (phase 1), delete a modular slice from the stored
    // codes, compact the survivors, refit the curve post-maintenance
    // (phase 2) — both phases' exact ground truth ranks in the rotated
    // space the index serves in (rotation is an isometry; the integer
    // fit replays bit-exactly). Oracle = fit-on-corpus,
    // rotate-rank-survivors, per-nprobe recall + floor choice.
    "x129_opq_lifecycle" -> ((s, dir) => {
      val e = graft.GraftCache.persist(
        correlatedEmbeddings(Tables(s, dir).embeddings))
      val (r, cbs) = VectorOps.fitOpq(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters, OpqIters)
      // Fit-phase persist (optimization r19, same as x115/x122): the
      // rotated corpus once instead of per-Lloyd-iteration plus the index
      // write (writeOpqIvfPqIndex inlined — identical artifacts). The
      // serve phases below still rotate through the STORED rotation.
      val rotFit = graft.GraftCache.persist(
        VectorOps.rotate(e, "embedding", r))
      val cents = VectorOps.kmeansCentroids(rotFit, "vec_id", "embedding",
        KClusters, KmeansIters)
      val idx = SinkQueries.sinkDir("x129_opq_index")
      VectorOps.writeIvfPqIndex(rotFit, "vec_id", "embedding", cents, cbs,
        idx)
      VectorOps.writeRotation(s, r, idx)
      // everything below runs off the STORED artifact — rotation,
      // centroids, codebooks re-read, never the in-memory fit
      val storedR = VectorOps.readRotation(s, idx)
      val storedCents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val rotAll = graft.GraftCache.persist(
        VectorOps.rotate(e, "embedding", storedR))
      val holdout = rotAll
        .filter(col("vec_id") % KnnQueryMod === RecallHoldoutRes)
      def phase(name: String, corpus: org.apache.spark.sql.DataFrame,
                codes: String): org.apache.spark.sql.DataFrame = {
        val curve = graft.GraftCache.checkpoint(VectorOps.fitRecallCurve(
          holdout, "vec_id", "embedding", corpus, KnnK, KClusters,
          storedCents, cb, s.read.parquet(codes)))
        val chosen = VectorOps.chooseNprobe(curve, RecallFloorPpm, KClusters)
        curve.select(lit(name).as("phase"), col("nprobe"),
          col("recall_ppm"), (col("nprobe") === chosen).as("chosen"))
      }
      val p1 = phase("1_full", rotAll, s"$idx/codes")
      val removed = e.filter(col("vec_id") % VecDeleteMod === VecDeleteRem)
        .select("vec_id")
      val pruned = SinkQueries.sinkDir("x129_codes_pruned")
      VectorOps.deletePqCodes(s, idx, removed, "vec_id", pruned)
      val compacted = SinkQueries.sinkDir("x129_codes_compacted")
      graft.sinks.LayoutSink.compact(s, pruned, compacted, 32L * 1024,
        Some("cid"))
      val survivors = rotAll
        .filter(col("vec_id") % VecDeleteMod =!= VecDeleteRem)
      val p2 = phase("2_pruned", survivors, compacted)
      p1.unionByName(p2).orderBy("phase", "nprobe")
    }),

    // ---------------------------------------------------------------- x132
    // The serve-time knob for FILTERED workloads — x112's adaptive
    // nprobe composed with x126's predicate pushdown: the recall grid
    // fits on a HELD-OUT query sample for the workload's predicate
    // (x128's machinery, one ADC scan), the serve derives its nprobe as
    // the smallest grid row clearing the floor (fallback: probe
    // everything), and the production queries serve filtered at that
    // nprobe with the choice stamped. The oracle replays the quantizer
    // chains, the holdout grid, the floor choice, AND the served rows —
    // a one-off anywhere shifts nprobe_used or the rows.
    "x132_filtered_adaptive_serve" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x132_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx,
        carry = Seq("label"))
      val cents = VectorOps.collectCentroids(
        s.read.parquet(s"$idx/centroids"))
      val cb = VectorOps.readPqCodebooks(s, idx)
      val codes = s.read.parquet(s"$idx/codes")
      val pred = col("label") % 5 === 0
      val holdout = e.filter(col("vec_id") % KnnQueryMod === RecallHoldoutRes)
      val grid = VectorOps.filteredRecallGrid(holdout, "vec_id", "embedding",
        e, KnnK, KClusters, cents, cb, codes, Seq("label"),
        Seq("fifth" -> pred))
      val chosen = VectorOps.chooseNprobe(
        grid.select("nprobe", "recall_ppm"), FilteredFloorPpm, KClusters)
      VectorOps.filteredKnnRouted(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          KnnK, chosen, cents, cb, codes, pred)
        .withColumn("nprobe_used", lit(chosen))
        .orderBy("qid", "adc_d2", "vec_id")
    }),

    // ---------------------------------------------------------------- x126
    // FILTERED routed serve — the production "top-k among rows WHERE p"
    // query shape (round-17 verdict #2): the predicate evaluates over a
    // CARRIED column of the stored codes (written once at build, the
    // x107 mechanism generalized from label-mismatch to an arbitrary
    // row-local predicate), applied to the codes SCAN below the probe
    // join and the heap cut — pushable shapes reach PushedFilters beside
    // the cid pruning, and a filtered query still reads ~nprobe/k of the
    // index. The oracle replays both quantizer chains,
    // the probe ranking, and the predicate-filtered cell-joined ADC
    // top-k.
    "x126_filtered_knn" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x126_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx,
        carry = Seq("label"))
      VectorOps.filteredKnnRouted(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          KnnK, NProbe,
          VectorOps.collectCentroids(s.read.parquet(s"$idx/centroids")),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"),
          col("label") % 3 === 1)
        .orderBy("qid", "adc_d2", "vec_id")
    }),

    // ---------------------------------------------------------------- x128
    // The selectivity×nprobe HONESTY GRID for the filtered serve — the
    // x108 discipline applied across predicate strength: recall@k of
    // x126's serve shape vs the EXACT filtered kNN, per (predicate,
    // nprobe) cell, integer ppm. A stricter predicate pushes the k-th
    // true filtered neighbour farther out, so at fixed nprobe more of
    // the exact top-k lives outside the probed cells — the grid makes
    // the interaction a measured contract instead of folklore; x132 is
    // the serve that READS the knob off this grid (holdout fit + floor
    // choice + stamped serve). One ADC scan at maxProbe serves all 24
    // cells.
    "x128_filtered_knn_recall" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = graft.GraftCache.persist(t.embeddings)
      val cent = VectorOps.kmeansCentroids(e, "vec_id", "embedding",
        KClusters, KmeansIters)
      val cbs = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        Dim, PqM, PqKs, KmeansIters)
      val idx = SinkQueries.sinkDir("x128_ivfpq_index")
      VectorOps.writeIvfPqIndex(e, "vec_id", "embedding", cent, cbs, idx,
        carry = Seq("label"))
      VectorOps.filteredRecallGrid(
          e.filter(col("vec_id") % KnnQueryMod === 0), "vec_id", "embedding",
          e, KnnK, KClusters,
          VectorOps.collectCentroids(s.read.parquet(s"$idx/centroids")),
          VectorOps.readPqCodebooks(s, idx), s.read.parquet(s"$idx/codes"),
          Seq("label"), FilteredSels.map { case (tag, p) => tag -> p() })
        .orderBy("sel", "nprobe")
    })
  )

  /** The x126/x128 predicate family over the carried label column, as
    * (tag, Spark predicate thunk, SQL predicate) triples shared by the
    * queries and their oracles — selectivities ~1/2, ~1/5, ~1/10. */
  private val FilteredSelsSql = Seq(
    ("half", "label % 2 = 0"),
    ("fifth", "label % 5 = 0"),
    ("tenth", "label = 7"))

  /** x132's recall floor for the FILTERED serve: raw-ADC recall on the
    * adversarial iid gate embeddings sits far below the unfiltered
    * pipelines' 0.9 floor (x71 measured 0.27 raw ADC), so the filtered
    * knob targets a floor the curve actually crosses — the point of the
    * gate is the CHOICE arithmetic, not the absolute recall (x128 is
    * the honesty measurement). */
  val FilteredFloorPpm = 250000L
  private def FilteredSels: Seq[(String, () => org.apache.spark.sql.Column)] =
    Seq(
      ("half", () => col("label") % 2 === 0),
      ("fifth", () => col("label") % 5 === 0),
      ("tenth", () => col("label") === 7))

  // --------------------------------------------------------- oracle SQL gen

  /** DuckDB sequential-fold double dot product of two list expressions. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))"

  private def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, v -> v::DOUBLE * v::DOUBLE)))"

  private def planeLit(p: Array[Double]): String =
    p.map(v => f"$v%.3f").mkString("[", ", ", "]")

  /** DuckDB LSH bucket id for a vector expression (bit i ⇔ dot > 0). */
  private def bucketSql(vec: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(vec, planeLit(p))} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}), 6)"

  /** Squared L2 in the same algebraic form as [[VectorOps.l2sq]]. */
  private def l2Sql(a: String, b: String): String =
    s"(${dotSql(a, a)} - 2*${dotSql(a, b)} + ${dotSql(b, b)})"

  /** The deterministic k-means replay: CTEs c0..c{iters}, each iteration =
    * assign (row_number over distance, cid) + per-coordinate round-6 mean. */
  private def kmeansSql: String = kmeansSqlFor("embeddings")

  /** The k-means CTE chain over an arbitrary source relation (a table
    * name or a parenthesized subquery) — x62 fits centroids on the OLD
    * snapshot only, so the source must be pluggable; the PQ oracles (x70/
    * x71) additionally fit per-SUBSPACE codebooks, so the vector
    * dimension, cluster count, and a CTE-name tag are pluggable too
    * (tagged chains coexist in one WITH clause). */
  private def kmeansSqlFor(src: String, dim: Int = Dim, k: Int = KClusters,
                           tag: String = ""): String = {
    val init =
      s"""c${tag}0 AS (
         |  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS c
         |  FROM $src WHERE vec_id < $k)""".stripMargin
    val iterations = (1 to KmeansIters).map { t =>
      s"""a$tag$t AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.c")}, c.cid) AS rn
         |    FROM $src e CROSS JOIN c$tag${t - 1} c) WHERE rn = 1),
         |m$tag$t AS (
         |  SELECT cid, j, round(avg(embedding[j]::DOUBLE), 6) AS mj
         |  FROM a$tag$t, range(1, ${dim + 1}) r(j) GROUP BY cid, j),
         |c$tag$t AS (
         |  SELECT cid, list(mj ORDER BY j) AS c FROM m$tag$t GROUP BY cid)""".stripMargin
    }
    (init +: iterations).mkString(",\n")
  }

  /** Assignment with the 6-rounded squared distance over an arbitrary
    * source, against the final c$KmeansIters centroids — the SQL replay
    * of [[VectorOps.assignToCentroidsWithDist]]. */
  private def assignDistCteFor(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id, cid, d2 FROM (
       |    SELECT e.vec_id, c.cid,
       |      round(${l2Sql("e.embedding", "c.c")}, 6) AS d2,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2Sql("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM $src e CROSS JOIN c$KmeansIters c) WHERE rn = 1)""".stripMargin

  /** Nearest-centroid assignment CTE over the final k-means centroids —
    * the SQL replay of [[VectorOps.assignToCentroids]] (row_number over
    * (l2sq, cid) ≡ the argmin-with-lowest-cid-tie-break projection).
    * Shared by the x11 and x35 oracles; source pluggable for the
    * clustered-recall gate (x86). */
  private def assignCteFor(src: String, name: String = "assign",
                           chain: String = s"c$KmeansIters"): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2Sql("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM $src e CROSS JOIN $chain c) WHERE rn = 1)""".stripMargin

  private def assignCte: String = assignCteFor("embeddings")

  /** The PQ oracle's per-subspace k-means chains (tagged CTE names) and
    * the per-subspace argmin encode CTEs — the SQL replay of
    * [[VectorOps.pqCodebooks]] + [[VectorOps.pqEncode]]. */
  private def pqChainsSql: String = pqChainsSqlFor("embeddings")

  /** The per-subspace chains over an arbitrary base relation — x74 trains
    * on the standing base split only, so the source must be pluggable
    * like [[kmeansSqlFor]]'s. The tag prefix `t` namespaces the CTE
    * chain (`p` = raw-vector codebooks, `r` = residual codebooks) so the
    * residual-recall oracle can carry BOTH quantizer families in one
    * WITH clause. */
  private def pqChainsSqlFor(baseRel: String, t: String = "p",
                             ks: Int = PqKs): String =
    (0 until PqM).map { j =>
      val lo = j * PqSub + 1
      val hi = (j + 1) * PqSub
      kmeansSqlFor(
        s"(SELECT vec_id, embedding[$lo:$hi] AS embedding FROM $baseRel)",
        dim = PqSub, k = ks, tag = s"$t$j")
    }.mkString(",\n")

  /** Per-subspace argmin encode CTEs `enc$t$j` of relation `src`
    * (vec_id, embedding) against the `$t`-tagged chains. */
  private def pqEncodeSqlFor(src: String = "embeddings",
                             t: String = "p"): String =
    (0 until PqM).map { j =>
      val lo = j * PqSub + 1
      val hi = (j + 1) * PqSub
      s"""enc$t$j AS (
         |  SELECT vec_id, cid AS code FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${l2Sql(s"e.embedding[$lo:$hi]", "c.c")}, c.cid) AS rn
         |    FROM $src e CROSS JOIN c$t$j$KmeansIters c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def pqEncodeSql: String = pqEncodeSqlFor()

  /** ADC distance of query-vector expression `qv` against the joined
    * codebook rows cc$t0..cc$t{m-1} — left-associated sum, matching the
    * Spark side's `reduce(_ + _)`. */
  private def pqAdcSql(qv: String, t: String = "p"): String =
    (0 until PqM).map { j =>
      val lo = j * PqSub + 1
      val hi = (j + 1) * PqSub
      l2Sql(s"$qv[$lo:$hi]", s"cc$t$j.c")
    }.mkString(" + ")

  /** Joins attaching each vector's per-subspace code and its centroid. */
  private def pqJoinsSql(t: String = "p"): String =
    (0 until PqM).map(j =>
      s"JOIN enc$t$j e$t$j USING (vec_id) " +
        s"JOIN c$t$j$KmeansIters cc$t$j ON e$t$j.code = cc$t$j.cid").mkString("\n")

  /** Single-query ADC top-k replay over a pluggable SERVED id set —
    * shared by x70 (live index), x73 (stored index, verbatim), and x83
    * (post-delete serve: the survivors' predicate narrows the served
    * rows while the codebooks still train on the full corpus, the SQL
    * image of delete-without-retrain). */
  private def pqTopkSqlServing(servedPred: String, ks: Int = PqKs): String = {
    val where = if (servedPred.isEmpty) "" else s" WHERE $servedPred"
    s"""WITH ${pqChainsSqlFor("embeddings", "p", ks)},
       |$pqEncodeSql,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
       |SELECT b.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |FROM (SELECT vec_id FROM embeddings$where) b
       |${pqJoinsSql()}
       |CROSS JOIN q
       |WHERE b.vec_id <> $QueryVecId
       |ORDER BY adc_d2, b.vec_id LIMIT $K""".stripMargin
  }

  private lazy val pqTopkSql: String = pqTopkSqlServing("")

  /** Composed IVF-PQ top-k replay over a pluggable TRAINING source —
    * shared by x72 (live quantizers, trained on everything), x75 (stored
    * index, verbatim), and x77/x81 (append/compact lifecycle: both
    * quantizer families train on the standing BASE split only, then the
    * whole corpus — base ∪ appended batch — assigns, encodes, and
    * serves, the SQL image of write-then-append). */
  private def ivfPqTopkSqlFor(trainSrc: String,
                              servedPred: String = ""): String = {
    val where = if (servedPred.isEmpty) "" else s" WHERE $servedPred"
    s"""WITH ${kmeansSqlFor(trainSrc)},
       |$assignCte,
       |${pqChainsSqlFor(trainSrc)},
       |$pqEncodeSql,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |probes AS (
       |  SELECT c.cid FROM c$KmeansIters c CROSS JOIN q
       |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid LIMIT $NProbe)
       |SELECT a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |FROM (SELECT vec_id, cid FROM assign$where) a
       |JOIN probes p ON a.cid = p.cid
       |${pqJoinsSql()}
       |CROSS JOIN q
       |WHERE a.vec_id <> $QueryVecId
       |ORDER BY adc_d2, a.vec_id LIMIT $K""".stripMargin
  }

  private lazy val ivfPqTopkSql: String = ivfPqTopkSqlFor("embeddings")

  /** The x92 oracle: the x72 replay with the coarse chain at k=256 (the
    * `g`-tagged CTE namespace so the parameterized chain coexists with
    * nothing — same generator, bigger k) and the wider probe cut. The
    * Spark side runs the broadcast-join argmin above
    * [[VectorOps.ArgminLiteralMaxK]]; this oracle proves that path lands
    * bit-identically where the replayed literal recurrence lands. */
  private def ivfPqBigkSqlFor(ks: Int): String =
    s"""WITH ${kmeansSqlFor("embeddings", Dim, KClustersBig, "g")},
       |${assignCteFor("embeddings", "assign", s"cg$KmeansIters")},
       |${pqChainsSqlFor("embeddings", "p", ks)},
       |$pqEncodeSql,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |probes AS (
       |  SELECT c.cid FROM cg$KmeansIters c CROSS JOIN q
       |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid LIMIT $NProbeBig)
       |SELECT a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |FROM (SELECT vec_id, cid FROM assign) a
       |JOIN probes p ON a.cid = p.cid
       |${pqJoinsSql()}
       |CROSS JOIN q
       |WHERE a.vec_id <> $QueryVecId
       |ORDER BY adc_d2, a.vec_id LIMIT $K""".stripMargin

  private lazy val ivfPqBigkSql: String = ivfPqBigkSqlFor(PqKs)

  /** The x77/x81 shared oracle: quantizers trained on the base split. */
  private lazy val ivfPqAppendSql: String = ivfPqTopkSqlFor(
    s"(SELECT * FROM embeddings WHERE vec_id % $PqAppendMod != 0)")

  /** Residual CTE: every vector minus its assigned cell's centroid —
    * the SQL image of [[VectorOps.residuals]] (exact double arithmetic:
    * float element cast to double, minus the round-6 centroid
    * coordinate). */
  private def residualCte: String =
    s"""res AS (
       |  SELECT a.vec_id, a.cid,
       |    list_transform(list_zip(a.embedding, c.c),
       |      x -> x[1]::DOUBLE - x[2]) AS embedding
       |  FROM assign a JOIN c$KmeansIters c USING (cid))""".stripMargin

  private val ResidualSrc = "(SELECT vec_id, embedding FROM res)"

  /** x78/x90: the residual IVF-PQ replay — coarse chain, per-vector
    * residuals, r-tagged codebook chains TRAINED ON RESIDUALS, residual
    * encode, and a serve whose ADC compares the QUERY'S RESIDUAL
    * against each probed cell (qres is per probe cell). Training sources
    * pluggable: x78 trains both quantizer families on everything; x90
    * (append lifecycle) trains the coarse chain on the base split and
    * the residual chains on the BASE'S residuals, then the whole corpus
    * assigns, residual-encodes, and serves — the SQL image of
    * write-residual-index-then-append. */
  private def ivfPqResidualTopkSqlFor(coarseTrainSrc: String,
                                      resTrainSrc: String): String =
    s"""WITH ${kmeansSqlFor(coarseTrainSrc)},
       |$assignCte,
       |$residualCte,
       |${pqChainsSqlFor(resTrainSrc, "r")},
       |${pqEncodeSqlFor(ResidualSrc, "r")},
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |probes AS (
       |  SELECT c.cid FROM c$KmeansIters c CROSS JOIN q
       |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid LIMIT $NProbe),
       |qres AS (
       |  SELECT p.cid,
       |    list_transform(list_zip(q.qv, c.c), x -> x[1]::DOUBLE - x[2]) AS qr
       |  FROM probes p JOIN c$KmeansIters c USING (cid) CROSS JOIN q)
       |SELECT a.vec_id, round(${pqAdcSql("qr.qr", "r")}, 6) AS adc_d2
       |FROM (SELECT vec_id, cid FROM assign) a
       |JOIN qres qr ON a.cid = qr.cid
       |${pqJoinsSql("r")}
       |WHERE a.vec_id <> $QueryVecId
       |ORDER BY adc_d2, a.vec_id LIMIT $K""".stripMargin

  private lazy val ivfPqResidualTopkSql: String =
    ivfPqResidualTopkSqlFor("embeddings", ResidualSrc)

  /** The x90 oracle: both quantizer families trained on the base split
    * (the residual chains on the base's residuals specifically —
    * `res` holds every vector's residual, so the training source narrows
    * it), everything encoded and served. */
  private lazy val ivfPqResidualAppendSql: String =
    ivfPqResidualTopkSqlFor(
      s"(SELECT * FROM embeddings WHERE vec_id % $PqAppendMod != 0)",
      s"(SELECT vec_id, embedding FROM res WHERE vec_id % $PqAppendMod != 0)")

  /** Shared CTE block for the batch-query recall oracles: the sampled
    * query set, the exact L2 kNN ranking, and the per-query probe cells
    * against the coarse chain. Source pluggable for x86 (the clustered
    * derivation serves as both corpus and query set there). */
  private def recallBaseCtesFor(src: String): String =
    s"""q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM $src
       |  WHERE vec_id % $KnnQueryMod = 0),
       |exactp AS (
       |  SELECT q.qid, e.vec_id, ${l2Sql("e.embedding", "q.qv")} AS d2
       |  FROM $src e, q WHERE e.vec_id <> q.qid),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, vec_id) AS rk FROM exactp)
       |  WHERE rk <= $KnnK),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= $NProbe)""".stripMargin

  private def recallBaseCtes: String = recallBaseCtesFor("embeddings")

  /** The routed ADC ranking cut to KnnK per query — raw (`t = "p"`, LUT
    * from the query vector itself) or residual (`t = "r"`, LUT from the
    * per-cell query residual via the qres CTE). */
  private def routedKCte(name: String, t: String): String = {
    val (qRel, qv, qid) =
      if (t == "r") ("qres qr ON a.cid = qr.cid", "qr.qr", "qr.qid")
      else ("probes p ON a.cid = p.cid JOIN q ON q.qid = p.qid", "q.qv", "q.qid")
    s"""${name}_ranked AS (
       |  SELECT $qid AS qid, a.vec_id, round(${pqAdcSql(qv, t)}, 6) AS adc_d2
       |  FROM (SELECT vec_id, cid FROM assign) a
       |  JOIN $qRel
       |  ${pqJoinsSql(t)}
       |  WHERE a.vec_id <> $qid),
       |$name AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM ${name}_ranked)
       |  WHERE rk <= $KnnK)""".stripMargin
  }

  /** x80: the routed serve (x76's form) recall vs the exact L2 kNN. */
  private lazy val routedRecallSql: String =
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |$recallBaseCtes,
       |${routedKCte("routed", "p")},
       |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
       |nr AS (
       |  SELECT qid, count(*) AS n_routed
       |  FROM exact JOIN routed USING (qid, vec_id) GROUP BY 1)
       |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(n_routed, 0) AS BIGINT) AS n_routed,
       |  round(coalesce(n_routed, 0) / n_exact::DOUBLE, 4) AS recall
       |FROM ne LEFT JOIN nr USING (qid)
       |ORDER BY qid""".stripMargin

  /** x82/x86: raw vs residual routed recall at equal m/ks/nprobe — both
    * quantizer families in one WITH clause via the tag namespaces. The
    * corpus is pluggable (`lead` prepends derivation CTEs): x82 runs it
    * over the raw iid table, x86 over the clustered derivation. */
  private def residualRecallSqlFor(src: String, lead: String = ""): String =
    s"""WITH $lead${kmeansSqlFor(src)},
       |${assignCteFor(src)},
       |${pqChainsSqlFor(src)},
       |${pqEncodeSqlFor(src)},
       |$residualCte,
       |${pqChainsSqlFor(ResidualSrc, "r")},
       |${pqEncodeSqlFor(ResidualSrc, "r")},
       |${recallBaseCtesFor(src)},
       |qres AS (
       |  SELECT p.qid, p.cid,
       |    list_transform(list_zip(q.qv, c.c), x -> x[1]::DOUBLE - x[2]) AS qr
       |  FROM probes p JOIN c$KmeansIters c USING (cid)
       |  JOIN q ON q.qid = p.qid),
       |${routedKCte("rawk", "p")},
       |${routedKCte("resk", "r")},
       |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
       |na AS (
       |  SELECT qid, count(*) AS n_raw
       |  FROM exact JOIN rawk USING (qid, vec_id) GROUP BY 1),
       |ns AS (
       |  SELECT qid, count(*) AS n_res
       |  FROM exact JOIN resk USING (qid, vec_id) GROUP BY 1)
       |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(n_raw, 0) AS BIGINT) AS n_raw,
       |  round(coalesce(n_raw, 0) / n_exact::DOUBLE, 4) AS raw_recall,
       |  CAST(coalesce(n_res, 0) AS BIGINT) AS n_res,
       |  round(coalesce(n_res, 0) / n_exact::DOUBLE, 4) AS res_recall
       |FROM ne LEFT JOIN na USING (qid)
       |LEFT JOIN ns USING (qid)
       |ORDER BY qid""".stripMargin

  private lazy val residualRecallSql: String =
    residualRecallSqlFor("embeddings")

  /** x86's corpus derivation — the SQL image of [[clusteredEmbeddings]]:
    * BIGINT offset arithmetic, then exactly one DOUBLE add per element
    * (mirroring the Spark side's single rounding). DuckDB's
    * list_transform lambda has no index parameter, so the list is
    * rebuilt positionally via the range join the k-means mean CTEs
    * already use; (j-1) converts its 1-based index to the 0-based one
    * Spark's transform lambda sees. */
  private def clusteredCte: String =
    s"""cemb AS (
       |  SELECT vec_id,
       |    list(embedding[j]::DOUBLE +
       |      (((vec_id % $ClusterGroups) * 7 + (j - 1) * 3)
       |        % $ClusterOffMod - $ClusterOffShift) ORDER BY j) AS embedding
       |  FROM embeddings, range(1, ${Dim + 1}) r(j)
       |  GROUP BY vec_id)""".stripMargin

  private lazy val clusteredRecallSql: String =
    residualRecallSqlFor("cemb", clusteredCte + ",\n")

  /** x115/x116's corpus derivation — the SQL image of
    * [[correlatedEmbeddings]]: three left-associated DOUBLE adds per
    * element (per-row scalar arithmetic — exact on both engines), the
    * list rebuilt positionally via the range join with (j−1) converting
    * to Spark's 0-based lambda index. */
  private def correlatedCte: String =
    s"""corr AS MATERIALIZED (
       |  SELECT vec_id,
       |    list(embedding[j]::DOUBLE
       |      + embedding[((j - 1 + 8) % $Dim) + 1]::DOUBLE
       |      + embedding[((j - 1 + 16) % $Dim) + 1]::DOUBLE
       |      ORDER BY j) AS embedding
       |  FROM embeddings, range(1, ${Dim + 1}) r(j)
       |  GROUP BY vec_id)""".stripMargin

  /** Round-half-away-from-zero integer division — the SQL image of
    * VectorOps' `rdiv` (DuckDB `//` truncates toward zero exactly like
    * Scala Long `/`, so adding ±b/2 toward the sign then truncating is
    * the same rule on both engines; b is always even here). */
  private def rdivSql(a: String, b: String): String =
    s"CAST((($a) + CASE WHEN ($a) < 0 THEN -(($b) // 2) ELSE ($b) // 2 END)" +
      s" // ($b) AS BIGINT)"

  /** SQL replay of [[VectorOps.polarFactorInt]] — the Newton–Schulz
    * polar iteration unrolled as INTEGER matmul CTEs over (i, j, v)
    * relations: `$src` holds M on the 1e6 lattice, X₀ = M·1e8/isqrt(ΣM²)
    * (exact integer sqrt via double-sqrt plus a ±1 fix-up), then per
    * step Y = X·Xᵀ, Z = Y·X, X ← (3X − Z)/2, every rescale the shared
    * rdiv rule at [[VectorOps.PolarScale]]. Integer sums are
    * order-independent, so the chain is bit-identical to the driver's
    * sequential loops BY CONSTRUCTION — double matmuls rounded per entry
    * are not (the polar map amplifies ulp-level sum-order noise by
    * 1/σmin; measured 1e-4 rotation divergence on the correlated
    * corpus's ill-conditioned cross-matrix). Emits rr = rot$iters as
    * doubles (v/1e8 — exact-input correctly-rounded division, identical
    * on both engines). */
  private def polarSqlFor(src: String, iters: Int): String = {
    val ps = VectorOps.PolarScale
    // AS MATERIALIZED on every step: each step references its
    // predecessor THREE times, so DuckDB's default single-reference
    // inlining would expand the 40-step chain 3^40-fold (measured: 5
    // inlined steps already take 10s; 40 materialized take 0.5s). The
    // hint is the Postgres-shared CTE-fence syntax, not a DuckDB-ism.
    val init =
      s"""frt AS MATERIALIZED (
         |  SELECT CASE WHEN (t0 + 1) * (t0 + 1) <= f2 THEN t0 + 1
         |              WHEN t0 * t0 > f2 THEN t0 - 1
         |              ELSE t0 END AS t
         |  FROM (SELECT f2, CAST(floor(sqrt(f2::DOUBLE)) AS BIGINT) AS t0
         |        FROM (SELECT CAST(sum(v * v) AS BIGINT) AS f2 FROM $src))),
         |rot0 AS MATERIALIZED (
         |  SELECT i, j, ${rdivSql(s"v * $ps", "(SELECT t FROM frt)")} AS v
         |  FROM $src)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""ns${t}y AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS k, ${rdivSql("sum(a.v * b.v)", s"$ps")} AS v
         |  FROM rot${t - 1} a JOIN rot${t - 1} b ON a.j = b.j GROUP BY 1, 2),
         |ns${t}z AS MATERIALIZED (
         |  SELECT y.i, x.j, ${rdivSql("sum(y.v * x.v)", s"$ps")} AS v
         |  FROM ns${t}y y JOIN rot${t - 1} x ON y.k = x.i GROUP BY 1, 2),
         |rot$t AS MATERIALIZED (
         |  SELECT x.i, x.j, ${rdivSql("3 * x.v - z.v", "2")} AS v
         |  FROM rot${t - 1} x JOIN ns${t}z z ON z.i = x.i AND z.j = x.j)"""
        .stripMargin
    }
    val fin =
      s"""rr AS MATERIALIZED (
         |  SELECT i, j, v::DOUBLE / $ps AS v FROM rot$iters)""".stripMargin
    ((init +: steps) :+ fin).mkString(",\n")
  }

  /** The OPQ fit replay shared by x115 and x116 (opqIters = 1): the
    * correlated corpus (R₀ = I rotates it to itself exactly — zero
    * terms add exactly in the fold); the p-tagged chains + encode on
    * corr; the Procrustes cross-matrix on the exact 1e6 integer lattice
    * (y = decode(encode(corr)) centroid lattice ints × the original
    * vector's round-6 lattice ints, integer-summed — order-independent,
    * so bit-identical to the Spark scan by construction); the unrolled
    * integer polar solve; the fitted-rotation image rx1 = R·corr
    * (UNROUNDED — see rotateCol's scaladoc: a rotated-coordinate
    * lattice would make every downstream centroid mean a half-boundary
    * coin flip); and the o-tagged final chains + encode on rx1.
    *
    * `fitPred` (x122): restrict every FIT input — the p chains, the
    * p-encode feeding the cross-matrix, the o chains — to the rows
    * matching it, while xj/rx1 and the o-encode stay corpus-wide: the
    * SQL image of fit-on-base, rotate-and-encode-everything, which is
    * exactly what write-then-append with stored artifacts must equal. */
  private def opqFitCtesFor(fitPred: String): String = {
    val corrFit =
      if (fitPred.isEmpty) "corr"
      else s"(SELECT * FROM corr WHERE $fitPred)"
    val rx1Fit =
      if (fitPred.isEmpty) "rx1"
      else s"(SELECT * FROM rx1 WHERE $fitPred)"
    val cs = VectorOps.CrossScale
    val yparts = (0 until PqM).map { j =>
      s"""  SELECT e.vec_id, ${j * PqSub} + d.di - 1 AS i,
         |    CAST(round(cc.c[d.di] * $cs, 0) AS BIGINT) AS yl
         |  FROM encp$j e JOIN cp$j$KmeansIters cc ON e.code = cc.cid,
         |    range(1, ${PqSub + 1}) d(di)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    // corr/rx1/xj are each referenced by dozens of downstream chain
    // CTEs — MATERIALIZED keeps every reference a table read instead of
    // a re-execution (and keeps the parquet leaf opened once).
    s"""$correlatedCte,
       |${pqChainsSqlFor(corrFit, "p")},
       |${pqEncodeSqlFor(corrFit, "p")},
       |xj AS MATERIALIZED (
       |  SELECT vec_id, j - 1 AS j, embedding[j] AS xj,
       |    CAST(round(round(embedding[j], 6) * $cs, 0) AS BIGINT) AS xl
       |  FROM corr, range(1, ${Dim + 1}) r(j)),
       |yparts AS MATERIALIZED (
       |$yparts),
       |mm AS MATERIALIZED (
       |  SELECT y.i, x.j,
       |    ${rdivSql("sum(y.yl * x.xl)", s"count(*) * $cs")} AS v
       |  FROM yparts y JOIN xj x USING (vec_id) GROUP BY 1, 2),
       |${polarSqlFor("mm", VectorOps.NewtonSchulzIters)},
       |rx1 AS MATERIALIZED (
       |  SELECT vec_id, list(s ORDER BY i) AS embedding FROM (
       |    SELECT x.vec_id, r.i, sum(r.v * x.xj) AS s
       |    FROM rr r JOIN xj x ON r.j = x.j
       |    GROUP BY 1, 2)
       |  GROUP BY vec_id),
       |${pqChainsSqlFor(rx1Fit, "o")},
       |${pqEncodeSqlFor("rx1", "o")}""".stripMargin
  }

  private def opqFitCtes: String = opqFitCtesFor("")

  /** x115: the fit replay, the coarse chain + assignment in the rotated
    * space, and the routed ADC serve — the query enters through the same
    * rotate-at-the-boundary image (its rx1 row). */
  private lazy val opqServeSql: String =
    s"""WITH $opqFitCtes,
       |${kmeansSqlFor("rx1")},
       |${assignCteFor("rx1")},
       |q AS (SELECT embedding AS qv FROM rx1 WHERE vec_id = $QueryVecId),
       |probes AS (
       |  SELECT c.cid FROM c$KmeansIters c CROSS JOIN q
       |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid LIMIT $NProbe)
       |SELECT a.vec_id, round(${pqAdcSql("q.qv", "o")}, 6) AS adc_d2
       |FROM (SELECT vec_id, cid FROM assign) a
       |JOIN probes p ON a.cid = p.cid
       |${pqJoinsSql("o")}
       |CROSS JOIN q
       |WHERE a.vec_id <> $QueryVecId
       |ORDER BY adc_d2, a.vec_id LIMIT $K""".stripMargin

  /** x122: the fit replay restricted to the base split (both PQ chain
    * families AND the coarse chain train on base rows only), the
    * corpus-wide assignment/encode through the fitted rotation, and the
    * routed serve — the SQL image of write-OPQ-index-on-base, append the
    * batch through the STORED rotation/centroids/codebooks, compact,
    * serve base ∪ batch. */
  private lazy val opqAppendServeSql: String = {
    val pred = s"vec_id % $PqAppendMod != 0"
    s"""WITH ${opqFitCtesFor(pred)},
       |${kmeansSqlFor(s"(SELECT * FROM rx1 WHERE $pred)")},
       |${assignCteFor("rx1")},
       |q AS (SELECT embedding AS qv FROM rx1 WHERE vec_id = $QueryVecId),
       |probes AS (
       |  SELECT c.cid FROM c$KmeansIters c CROSS JOIN q
       |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid LIMIT $NProbe)
       |SELECT a.vec_id, round(${pqAdcSql("q.qv", "o")}, 6) AS adc_d2
       |FROM (SELECT vec_id, cid FROM assign) a
       |JOIN probes p ON a.cid = p.cid
       |${pqJoinsSql("o")}
       |CROSS JOIN q
       |WHERE a.vec_id <> $QueryVecId
       |ORDER BY adc_d2, a.vec_id LIMIT $K""".stripMargin
  }

  /** One branch of the x116 pair: coarse chain `chain` over the branch's
    * rotated corpus `rx`, its assignment, the sampled rotated queries,
    * per-query probe cut, routed ADC ranking through the `t`-tagged
    * codebook joins, cut to KnnK — emits k$name (qid, vec_id). */
  private def opqBranchRoutedCtes(name: String, rx: String, chain: String,
                                  t: String): String =
    s"""${assignCteFor(rx, s"asg$name", chain)},
       |q$name AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM $rx
       |  WHERE vec_id % $KnnQueryMod = 0),
       |pr$name AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q$name q CROSS JOIN $chain c)
       |  WHERE rn <= $NProbe),
       |rk$name AS (
       |  SELECT q.qid, a.vec_id, round(${pqAdcSql("q.qv", t)}, 6) AS adc_d2
       |  FROM (SELECT vec_id, cid FROM asg$name) a
       |  JOIN pr$name p ON a.cid = p.cid
       |  JOIN q$name q ON q.qid = p.qid
       |  ${pqJoinsSql(t)}
       |  WHERE a.vec_id <> q.qid),
       |k$name AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM rk$name)
       |  WHERE rk <= $KnnK)""".stripMargin

  /** The per-subspace reconstruction y = decode(encode(·)) as one
    * concatenated list per vector, through the `t`-tagged joins. */
  private def opqReconCte(name: String, rx: String, t: String): String =
    s"""$name AS (
       |  SELECT b.vec_id,
       |    ${(0 until PqM).map(j => s"cc$t$j.c").mkString(" || ")} AS y
       |  FROM $rx b
       |  ${pqJoinsSql(t)})""".stripMargin

  /** x116: both branches' MSE (round6 avg ‖x − y‖² in each branch's own
    * rotated space — rotation is an isometry, so the pair is comparable)
    * and both branches' mean routed recall against the exact L2 kNN of
    * the ORIGINAL correlated corpus (vec_id sets are space-invariant).
    * The `b`-tagged coarse chain serves the PQ branch (corr), the
    * `v`-tagged one the OPQ branch (rx1). */
  private lazy val opqGainSql: String =
    s"""WITH $opqFitCtes,
       |${opqReconCte("ypq", "corr", "p")},
       |msep AS (
       |  SELECT round(avg(${l2Sql("b.embedding", "y.y")}), 6) AS pq_mse
       |  FROM corr b JOIN ypq y USING (vec_id)),
       |${opqReconCte("yopq", "rx1", "o")},
       |mseo AS (
       |  SELECT round(avg(${l2Sql("b.embedding", "y.y")}), 6) AS opq_mse
       |  FROM rx1 b JOIN yopq y USING (vec_id)),
       |${kmeansSqlFor("corr", Dim, KClusters, "b")},
       |${kmeansSqlFor("rx1", Dim, KClusters, "v")},
       |qe AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM corr
       |  WHERE vec_id % $KnnQueryMod = 0),
       |exactp AS (
       |  SELECT q.qid, e.vec_id, ${l2Sql("e.embedding", "q.qv")} AS d2
       |  FROM corr e, qe q WHERE e.vec_id <> q.qid),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, vec_id) AS rk FROM exactp)
       |  WHERE rk <= $KnnK),
       |${opqBranchRoutedCtes("p", "corr", s"cb$KmeansIters", "p")},
       |${opqBranchRoutedCtes("o", "rx1", s"cv$KmeansIters", "o")},
       |nx AS (SELECT qid, count(*) AS nx FROM exact GROUP BY 1),
       |recp AS (
       |  SELECT round(avg(coalesce(h.nh, 0) / x.nx::DOUBLE), 4) AS pq_recall
       |  FROM nx x LEFT JOIN (
       |    SELECT qid, count(*) AS nh FROM exact JOIN kp USING (qid, vec_id)
       |    GROUP BY 1) h USING (qid)),
       |reco AS (
       |  SELECT round(avg(coalesce(h.nh, 0) / x.nx::DOUBLE), 4) AS opq_recall
       |  FROM nx x LEFT JOIN (
       |    SELECT qid, count(*) AS nh FROM exact JOIN ko USING (qid, vec_id)
       |    GROUP BY 1) h USING (qid))
       |SELECT msep.pq_mse, mseo.opq_mse, recp.pq_recall, reco.opq_recall
       |FROM msep, mseo, recp, reco""".stripMargin

  /** pl12's oracle: the drift numbers in pure BIGINT arithmetic (the ppm
    * replay of [[VectorOps.cellShareTvdPpm]]), the CASE decision, and
    * both branch serves — append (standing untagged chain over
    * base ∪ batch) and retrain (z-tagged chain trained on the merged
    * shifted corpus). The served vectors enter [[l2Sql]] which casts
    * per element, so the Spark side's explicit double-cast union is
    * value-identical. */
  private lazy val indexRefreshSql: String = {
    val baseSrc =
      s"(SELECT * FROM embeddings WHERE vec_id % $PqAppendMod <> 0)"
    val batchASrc =
      s"(SELECT * FROM embeddings WHERE vec_id % $PqAppendMod = 0)"
    def ppmCtes(tag: String, newAssign: String): String =
      s"""t$tag AS (
         |  SELECT CAST((SELECT count(*) FROM oa) AS BIGINT) AS no,
         |         CAST((SELECT count(*) FROM $newAssign) AS BIGINT) AS nn),
         |num$tag AS (
         |  SELECT CAST(sum(abs(coalesce(n.n, 0) * t.no
         |    - coalesce(o.n, 0) * t.nn)) AS BIGINT) AS num
         |  FROM (SELECT cid, count(*) AS n FROM oa GROUP BY 1) o
         |  FULL OUTER JOIN
         |    (SELECT cid, count(*) AS n FROM $newAssign GROUP BY 1) n
         |    USING (cid)
         |  CROSS JOIN t$tag t),
         |ppm$tag AS (
         |  SELECT CAST(num * 1000000 // (2 * t.no * t.nn) AS BIGINT) AS ppm
         |  FROM num$tag, t$tag t)""".stripMargin
    // the coarse recall-curve refit of the decided index (the SQL image
    // of [[VectorOps.fitCoarseRecallCurve]] + [[VectorOps.chooseNprobe]]):
    // held-out queries from the scenario's merged corpus, one candidate
    // frame carrying each pair's probe-cell rank and exact d2, per-nprobe
    // filter + rank + hit count, floor choice
    def curveCtes(tag: String, corpusRel: String, chain: String): String = {
      val perNp = (1 to KClusters).map { np =>
        s"""crt${tag}_$np AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY d2, vec_id) AS rk
           |    FROM hcand$tag WHERE cellrank <= $np)
           |  WHERE rk <= $KnnK),
           |crec${tag}_$np AS (
           |  SELECT $np AS nprobe,
           |    (SELECT count(*) FROM hex$tag
           |     JOIN crt${tag}_$np USING (qid, vec_id))
           |      * 1000000 // (SELECT count(*) FROM hex$tag)
           |      AS recall_ppm)""".stripMargin
      }.mkString(",\n")
      val union = (1 to KClusters)
        .map(np => s"SELECT * FROM crec${tag}_$np").mkString(" UNION ALL ")
      s"""hq$tag AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM $corpusRel
         |  WHERE vec_id % $KnnQueryMod = $RecallHoldoutRes),
         |hpr$tag AS (
         |  SELECT hq.qid, c.cid, row_number() OVER (PARTITION BY hq.qid
         |    ORDER BY ${l2Sql("hq.qv", "c.c")}, c.cid) AS rn
         |  FROM hq$tag hq CROSS JOIN $chain c),
         |hcand$tag AS MATERIALIZED (
         |  SELECT hq.qid, a.vec_id, p.rn AS cellrank,
         |    ${l2Sql("a.embedding", "hq.qv")} AS d2
         |  FROM $corpusRel a JOIN hpr$tag p ON a.cid = p.cid
         |  JOIN hq$tag hq ON hq.qid = p.qid
         |  WHERE a.vec_id <> hq.qid),
         |hex$tag AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY d2, vec_id) AS rk
         |    FROM (
         |      SELECT hq.qid, e.vec_id,
         |        ${l2Sql("e.embedding", "hq.qv")} AS d2
         |      FROM $corpusRel e, hq$tag hq WHERE e.vec_id <> hq.qid))
         |  WHERE rk <= $KnnK),
         |$perNp,
         |ccurve$tag AS MATERIALIZED ($union),
         |cchosen$tag AS (
         |  SELECT CAST(coalesce(
         |    (SELECT min(nprobe) FROM ccurve$tag
         |     WHERE recall_ppm >= $RecallFloorPpm),
         |    $KClusters) AS INT) AS np)""".stripMargin
    }
    def serveCtes(tag: String, assignRel: String, chain: String,
                  qSrc: String): String =
      s"""qq$tag AS (SELECT embedding AS qv FROM $qSrc
         |  WHERE vec_id = $QueryVecId),
         |pp$tag AS (
         |  SELECT c.cid FROM $chain c CROSS JOIN qq$tag q
         |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid
         |  LIMIT (SELECT np FROM cchosen$tag)),
         |sv$tag AS (
         |  SELECT e.vec_id, round(${l2Sql("e.embedding", "q.qv")}, 6) AS d2
         |  FROM $assignRel e JOIN pp$tag p ON e.cid = p.cid
         |  CROSS JOIN qq$tag q
         |  WHERE e.vec_id <> $QueryVecId
         |  ORDER BY d2, e.vec_id LIMIT 1)""".stripMargin
    def reportRow(scenario: String, tag: String): String =
      s"""SELECT '$scenario' AS scenario,
         |  (SELECT ppm FROM ppm$tag) AS drift_ppm,
         |  CASE WHEN (SELECT ppm FROM ppm$tag) > $RefreshDriftPpm
         |    THEN 'retrain' ELSE 'append' END AS decision,
         |  (SELECT np FROM cchosen$tag) AS nprobe_used,
         |  vec_id AS top1_vec_id, d2 AS top1_d2 FROM sv$tag""".stripMargin
    s"""WITH ${kmeansSqlFor(baseSrc)},
       |sb AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE + $RefreshShift)
       |      AS embedding
       |  FROM embeddings WHERE vec_id % $PqAppendMod = 0),
       |${assignCteFor(baseSrc, "oa")},
       |${assignCteFor(batchASrc, "na")},
       |${assignCteFor("sb", "nb")},
       |${ppmCtes("A", "na")},
       |${ppmCtes("B", "nb")},
       |aA AS MATERIALIZED (SELECT vec_id, embedding, cid FROM oa
       |  UNION ALL SELECT vec_id, embedding, cid FROM na),
       |${curveCtes("A", "aA", s"c$KmeansIters")},
       |${serveCtes("A", "aA", s"c$KmeansIters", "embeddings")},
       |u2 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE)
       |    AS embedding
       |  FROM embeddings WHERE vec_id % $PqAppendMod <> 0
       |  UNION ALL SELECT vec_id, embedding FROM sb),
       |${kmeansSqlFor("u2", tag = "z")},
       |${assignCteFor("u2", "ab", s"cz$KmeansIters")},
       |ab2 AS MATERIALIZED (SELECT vec_id, embedding, cid FROM ab),
       |${curveCtes("B", "ab2", s"cz$KmeansIters")},
       |${serveCtes("B", "ab2", s"cz$KmeansIters", "sb")}
       |SELECT * FROM (
       |${reportRow("1_indist", "A")}
       |UNION ALL
       |${reportRow("2_shifted", "B")})
       |ORDER BY scenario""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "x54_jl_projection" -> {
      val s = 1.0 / math.sqrt(ProjDim.toDouble)
      projPlanes.zipWithIndex.map { case (p, j) =>
        s"""SELECT vec_id, $j AS dim,
           |  round(${dotSql("embedding", planeLit(p))} * $s, 6) AS coord
           |FROM embeddings""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY vec_id, dim")
    },
    "x6_brute_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
         |SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim_r
         |FROM embeddings e, q WHERE e.vec_id <> $QueryVecId
         |ORDER BY sim_r DESC, e.vec_id LIMIT $K""".stripMargin,
    "x7_ann_topk" -> {
      val probeList = ("q.bucket" +:
        planes.indices.map(i => s"xor(q.bucket, ${1L << i})")).mkString(", ")
      s"""WITH bkt AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT bucket, embedding AS qv FROM bkt WHERE vec_id = $QueryVecId),
         |probes AS (SELECT u.pb AS bucket, q.qv FROM q, UNNEST([$probeList]) u(pb))
         |SELECT e.vec_id, ${cosSql("e.embedding", "p.qv")} AS sim_r
         |FROM bkt e JOIN probes p ON e.bucket = p.bucket
         |WHERE e.vec_id <> $QueryVecId
         |ORDER BY sim_r DESC, e.vec_id LIMIT $K""".stripMargin
    },
    "x11_ivf_topk" -> {
      val cN = s"c$KmeansIters"
      s"""WITH $kmeansSql,
         |$assignCte,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
         |probes AS (
         |  SELECT c.cid FROM $cN c CROSS JOIN q
         |  ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid LIMIT $NProbe)
         |SELECT a.vec_id, ${cosSql("a.embedding", "q.qv")} AS sim_r
         |FROM assign a JOIN probes p ON a.cid = p.cid CROSS JOIN q
         |WHERE a.vec_id <> $QueryVecId
         |ORDER BY sim_r DESC, a.vec_id LIMIT $K""".stripMargin
    },
    "x27_quant_topk" -> {
      val s = VectorOps.QuantScale
      val dq =
        s"list_transform(embedding, x -> CAST(round(least(greatest(x::DOUBLE, -1.0), 1.0) * $s) AS INT) / $s.0)"
      s"""WITH dq AS (SELECT vec_id, $dq AS dv FROM embeddings),
         |q AS (SELECT dv AS qv FROM dq WHERE vec_id = $QueryVecId)
         |SELECT e.vec_id, ${cosSql("e.dv", "q.qv")} AS sim_q
         |FROM dq e, q WHERE e.vec_id <> $QueryVecId
         |ORDER BY sim_q DESC, e.vec_id LIMIT $K""".stripMargin
    },
    "x64_ann_recall" -> {
      val cN = s"c$KmeansIters"
      s"""WITH $kmeansSql,
         |$assignCte,
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % $KnnQueryMod = 0),
         |exactp AS (
         |  SELECT q.qid, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS rk FROM exactp)
         |  WHERE rk <= $KnnK),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
         |    FROM q CROSS JOIN $cN c)
         |  WHERE rn <= $NProbe),
         |ivfp AS (
         |  SELECT q.qid, a.vec_id, ${cosSql("a.embedding", "q.qv")} AS sim
         |  FROM assign a JOIN probes p ON a.cid = p.cid
         |  JOIN q ON q.qid = p.qid
         |  WHERE a.vec_id <> q.qid),
         |ivf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS rk FROM ivfp)
         |  WHERE rk <= $KnnK),
         |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
         |nh AS (
         |  SELECT qid, count(*) AS n_overlap
         |  FROM exact JOIN ivf USING (qid, vec_id) GROUP BY 1)
         |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
         |  round(coalesce(n_overlap, 0) / n_exact::DOUBLE, 4) AS recall
         |FROM ne LEFT JOIN nh USING (qid)
         |ORDER BY qid""".stripMargin
    },
    "x70_pq_topk" -> pqTopkSql,
    // x73 serves the IDENTICAL ranking off the stored index — the storage
    // round trip must be invisible, so it shares x70's oracle verbatim.
    "x73_pq_indexed" -> pqTopkSql,
    // x74's chains train on the BASE split only; every vector (base ∪
    // appended batch) is then encoded with those codebooks — the SQL
    // image of write-index-then-append.
    "x74_pq_append" ->
      s"""WITH ${pqChainsSqlFor(
              s"(SELECT * FROM embeddings WHERE vec_id % $PqAppendMod != 0)")},
         |$pqEncodeSql,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
         |SELECT b.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
         |FROM (SELECT vec_id FROM embeddings) b
         |${pqJoinsSql()}
         |CROSS JOIN q
         |WHERE b.vec_id <> $QueryVecId
         |ORDER BY adc_d2, b.vec_id LIMIT $K""".stripMargin,
    "x72_ivfpq_topk" -> ivfPqTopkSql,
    "x92_ivfpq_bigk" -> ivfPqBigkSql,
    "x93_pq_bigks" -> pqTopkSqlServing("", PqKsBig),
    "x94_ivfpq_bigk_bigks" -> ivfPqBigkSqlFor(PqKsBig),
    // x75 serves the IDENTICAL composed ranking off the stored index —
    // the storage round trip (cells + codes range-laid by cid, centroids,
    // codebooks) must be result-invisible, so it shares x72's oracle
    // verbatim, exactly as x73 shares x70's.
    "x75_ivfpq_indexed" -> ivfPqTopkSql,
    // x77 trains both quantizer families on the BASE split, then assigns/
    // encodes and serves the whole table — write-then-append must be
    // invisible vs write-everything-with-base-quantizers.
    "x77_ivfpq_append" -> ivfPqAppendSql,
    // x81 compacts x77's appended codes before serving — compaction is a
    // LAYOUT operation, result-invisible by contract, so it shares x77's
    // oracle verbatim (exactly as x73/x75 share their live twins').
    "x81_ivfpq_compact" -> ivfPqAppendSql,
    "x78_ivfpq_residual" -> ivfPqResidualTopkSql,
    // x90: the append path must be result-invisible against the
    // base-trained whole-table replay.
    "x90_ivfpq_residual_append" -> ivfPqResidualAppendSql,
    // x84 serves the IDENTICAL residual ranking off the stored index —
    // the storage round trip must be result-invisible, so it shares
    // x78's oracle verbatim (the x73/x75 pattern for the residual form).
    "x84_ivfpq_residual_indexed" -> ivfPqResidualTopkSql,
    // x85: full-corpus-trained composed ranking served over survivors
    // only — the delete narrows the served rows, never the quantizers.
    "x85_ivfpq_delete" -> ivfPqTopkSqlFor("embeddings",
      s"vec_id % $VecDeleteMod <> $VecDeleteRem"),
    "x80_routed_recall" -> routedRecallSql,
    "x82_residual_recall" -> residualRecallSql,
    // x86 is x82's measurement over the clustered derivation — the cemb
    // CTE replays the exact derivation, then the identical raw/residual
    // recall replay runs with every corpus reference re-pointed at it.
    "x86_clustered_recall" -> clusteredRecallSql,
    // x115/x116 replay the ENTIRE OPQ fit — identity-lattice chains,
    // Procrustes cross-matrix, 40 unrolled Newton–Schulz polar steps,
    // rotated-space chains — so the learned rotation itself is the
    // verified contract; x115 then serves the routed ADC top-k through
    // the stored composed index, x116 reports the PQ-vs-OPQ MSE/recall
    // pair at equal m/ks/nprobe.
    "x115_opq_serve" -> opqServeSql,
    "x116_opq_gain" -> opqGainSql,
    "x122_opq_append" -> opqAppendServeSql,
    // x88: the two-stage replay — ADC candidate cut (rk ≤ PqCandidates)
    // then exact re-rank of exactly those survivors, emitting the
    // round-6 exact distance; the storage round trip is result-
    // invisible, so the oracle replays the live two-stage chain.
    "x88_two_stage_indexed" ->
      s"""WITH $pqChainsSql,
         |$pqEncodeSql,
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % $KnnQueryMod = 0),
         |adcp AS (
         |  SELECT q.qid, b.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
         |  FROM (SELECT vec_id FROM embeddings) b
         |  ${pqJoinsSql()}
         |  CROSS JOIN q
         |  WHERE b.vec_id <> q.qid),
         |adcr AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_d2, vec_id) AS rk FROM adcp)
         |  WHERE rk <= $PqCandidates),
         |refp AS (
         |  SELECT a.qid, a.vec_id, ${l2Sql("e.embedding", "q.qv")} AS d2
         |  FROM adcr a JOIN embeddings e USING (vec_id)
         |  JOIN q ON q.qid = a.qid)
         |SELECT qid, vec_id, round(d2, 6) AS d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY d2, vec_id) AS rk FROM refp)
         |WHERE rk <= $KnnK
         |ORDER BY qid, d2, vec_id""".stripMargin,

    // x87: the residual routed batch serve — the storage round trip is
    // result-invisible (stored quantizer tables are the live pair), so
    // the oracle replays the LIVE residual routed ranking: per-query
    // probes, per-probed-cell query residuals, r-tagged ADC, cut to
    // KnnK per query.
    "x87_residual_routed_knn" ->
      s"""WITH $kmeansSql,
         |$assignCte,
         |$residualCte,
         |${pqChainsSqlFor(ResidualSrc, "r")},
         |${pqEncodeSqlFor(ResidualSrc, "r")},
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % $KnnQueryMod = 0),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
         |    FROM q CROSS JOIN c$KmeansIters c)
         |  WHERE rn <= $NProbe),
         |qres AS (
         |  SELECT p.qid, p.cid,
         |    list_transform(list_zip(q.qv, c.c), x -> x[1]::DOUBLE - x[2]) AS qr
         |  FROM probes p JOIN c$KmeansIters c USING (cid)
         |  JOIN q ON q.qid = p.qid),
         |ranked AS (
         |  SELECT qr.qid, a.vec_id, round(${pqAdcSql("qr.qr", "r")}, 6) AS adc_d2
         |  FROM (SELECT vec_id, cid FROM assign) a
         |  JOIN qres qr ON a.cid = qr.cid
         |  ${pqJoinsSql("r")}
         |  WHERE a.vec_id <> qr.qid)
         |SELECT qid, vec_id, adc_d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc_d2, vec_id) AS rk FROM ranked)
         |WHERE rk <= $KnnK
         |ORDER BY qid, adc_d2, vec_id""".stripMargin,
    // x89 replays the kNN-edge derivation and the full BIGINT-ppm
    // PageRank recurrence, iteration by iteration — integer arithmetic
    // makes the fixpoint engine-exact.
    "x89_knn_pagerank" -> pageRankSql,
    // pl12 replays BOTH lifecycle branches plus the integer drift
    // arithmetic that chooses between them.
    "pl12_index_refresh" -> indexRefreshSql,
    // x83 serves the full-corpus-trained ranking over the SURVIVORS only
    // — delete is never a retrain.
    "x83_pq_delete" ->
      pqTopkSqlServing(s"vec_id % $VecDeleteMod <> $VecDeleteRem"),
    "x71_pq_recall" ->
      s"""WITH $pqChainsSql,
         |$pqEncodeSql,
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % $KnnQueryMod = 0),
         |exactp AS (
         |  SELECT q.qid, e.vec_id, ${l2Sql("e.embedding", "q.qv")} AS d2
         |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY d2, vec_id) AS rk FROM exactp)
         |  WHERE rk <= $KnnK),
         |adcp AS (
         |  SELECT q.qid, b.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
         |  FROM (SELECT vec_id FROM embeddings) b
         |  ${pqJoinsSql()}
         |  CROSS JOIN q
         |  WHERE b.vec_id <> q.qid),
         |adcr AS (
         |  SELECT qid, vec_id, rk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_d2, vec_id) AS rk FROM adcp)
         |  WHERE rk <= $PqCandidates),
         |adc AS (SELECT qid, vec_id FROM adcr WHERE rk <= $KnnK),
         |refp AS (
         |  SELECT a.qid, a.vec_id, ${l2Sql("e.embedding", "q.qv")} AS d2
         |  FROM adcr a JOIN embeddings e USING (vec_id)
         |  JOIN q ON q.qid = a.qid),
         |refined AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY d2, vec_id) AS rk FROM refp)
         |  WHERE rk <= $KnnK),
         |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
         |na AS (
         |  SELECT qid, count(*) AS n_adc
         |  FROM exact JOIN adc USING (qid, vec_id) GROUP BY 1),
         |nr AS (
         |  SELECT qid, count(*) AS n_refined
         |  FROM exact JOIN refined USING (qid, vec_id) GROUP BY 1)
         |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(n_adc, 0) AS BIGINT) AS n_adc,
         |  round(coalesce(n_adc, 0) / n_exact::DOUBLE, 4) AS adc_recall,
         |  CAST(coalesce(n_refined, 0) AS BIGINT) AS n_refined,
         |  round(coalesce(n_refined, 0) / n_exact::DOUBLE, 4) AS refined_recall
         |FROM ne LEFT JOIN na USING (qid)
         |LEFT JOIN nr USING (qid)
         |ORDER BY qid""".stripMargin,
    // x76: coarse chain + assignment give every vector its cell; probes
    // rank cells per query; candidates are the cell equi-join; ADC ranks
    // and row_number cuts k per query — the SQL image of the routed join.
    "x76_pq_routed_knn" ->
      s"""WITH $kmeansSql,
         |$assignCte,
         |$pqChainsSql,
         |$pqEncodeSql,
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % $KnnQueryMod = 0),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
         |    FROM q CROSS JOIN c$KmeansIters c)
         |  WHERE rn <= $NProbe),
         |ranked AS (
         |  SELECT q.qid, a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
         |  FROM (SELECT vec_id, cid FROM assign) a
         |  JOIN probes p ON a.cid = p.cid
         |  JOIN q ON q.qid = p.qid
         |  ${pqJoinsSql()}
         |  WHERE a.vec_id <> q.qid)
         |SELECT qid, vec_id, adc_d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc_d2, vec_id) AS rk FROM ranked)
         |WHERE rk <= $KnnK
         |ORDER BY qid, adc_d2, vec_id""".stripMargin,
    // x126: x76's routed replay with the carried-label predicate applied
    // to the candidate rows before the per-query cut — the SQL image of
    // filtering the codes scan.
    "x126_filtered_knn" -> filteredKnnSql,
    // x128: per (predicate, nprobe) recall of the filtered routed serve
    // vs the exact filtered kNN — one candidate frame, 24 slices.
    "x128_filtered_knn_recall" -> filteredRecallGridSql,
    "x132_filtered_adaptive_serve" -> filteredAdaptiveServeSql,
    "x63_semantic_decontam" ->
      s"""WITH bkt AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS block FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_eval, b.vec_id AS id_train,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim_r
         |  FROM bkt a JOIN bkt b ON a.block = b.block
         |  WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0)
         |SELECT id_eval, count(*) AS n_matches, max(sim_r) AS max_sim
         |FROM pairs WHERE sim_r >= $NearDupThreshold
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x8_embed_neardups" ->
      s"""WITH bkt AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS block FROM embeddings),
         |pairs AS (
         |  SELECT a.block, a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim_r
         |  FROM bkt a JOIN bkt b ON a.block = b.block AND a.vec_id < b.vec_id)
         |SELECT block, id_a, id_b, sim_r FROM pairs
         |WHERE sim_r >= $NearDupThreshold ORDER BY block, id_a, id_b""".stripMargin,
    "x33_embed_clusters" ->
      s"""WITH RECURSIVE bkt AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS block FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim_r
         |  FROM bkt a JOIN bkt b ON a.block = b.block AND a.vec_id < b.vec_id),
         |e AS (SELECT id_a, id_b FROM pairs WHERE sim_r >= $NearDupThreshold),
         |sym AS (SELECT id_a AS s, id_b AS d FROM e
         |        UNION SELECT id_b AS s, id_a AS d FROM e),
         |reach AS (
         |  SELECT s AS id, s AS label FROM sym
         |  UNION
         |  SELECT sym.d AS id, r.label FROM reach r JOIN sym ON sym.s = r.id)
         |SELECT id AS vec_id, min(label) AS component,
         |  (id = min(label)) AS is_canonical
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    "x35_semdedup" ->
      s"""WITH $kmeansSql,
         |$assignCte,
         |drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SemDedupThreshold)
         |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS is_kept
         |FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "x62_embedding_drift" -> {
      val oldSrc = "(SELECT * FROM embeddings WHERE vec_id % 10 <> 0)"
      s"""WITH ${kmeansSqlFor(oldSrc)},
         |${assignDistCteFor("olda", oldSrc)},
         |${assignDistCteFor("newa", "embeddings")},
         |ot AS (SELECT count(*)::DOUBLE AS t FROM olda),
         |nt AS (SELECT count(*)::DOUBLE AS t FROM newa),
         |so AS (
         |  SELECT cid, count(*) AS n_old, round(avg(d2), 4) AS mean_d2_old,
         |    round(count(*) / ot.t, 6) AS share_old
         |  FROM olda, ot GROUP BY cid, ot.t),
         |sn AS (
         |  SELECT cid, count(*) AS n_new, round(avg(d2), 4) AS mean_d2_new,
         |    round(count(*) / nt.t, 6) AS share_new
         |  FROM newa, nt GROUP BY cid, nt.t)
         |SELECT cid,
         |  CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
         |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
         |  coalesce(share_old, 0) AS share_old,
         |  coalesce(share_new, 0) AS share_new,
         |  round(coalesce(share_new, 0) - coalesce(share_old, 0), 6)
         |    AS share_delta,
         |  mean_d2_old, mean_d2_new
         |FROM so FULL OUTER JOIN sn USING (cid)
         |ORDER BY cid""".stripMargin
    },
    "x60_diverse_sample" ->
      s"""WITH $kmeansSql,
         |$assignCte,
         |ranked AS (
         |  SELECT cid, vec_id,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT,
         |        vec_id) AS rk
         |  FROM assign)
         |SELECT cid, vec_id FROM ranked WHERE rk <= $DiverseQuota
         |ORDER BY cid, vec_id""".stripMargin,
    "x30_knn_join" -> knnJoinSql,
    "x103_hard_negatives" -> hardNegativesSql,
    "x107_hard_negatives_indexed" -> hardNegativesIndexedSql,
    "x108_hard_negative_recall" -> hardNegativeRecallSql,
    "x109_hard_negatives_routed" -> hardNegativesRoutedSql,
    "pl15_training_pairs" -> trainingPairsSql,
    "x112_adaptive_nprobe" -> adaptiveNprobeSql,
    "x113_hard_positive_recall" -> hardPositiveRecallSql,
    "x114_adaptive_nprobe_refresh" -> adaptiveNprobeRefreshSql,
    "x117_adaptive_nprobe_lifecycle" -> adaptiveLifecycleSql,
    "x129_opq_lifecycle" -> opqLifecycleSql,
    "x118_adaptive_nprobe_lifecycle_serve" -> adaptiveLifecycleServeSql,
    // x43 selects the identical rows through the bounded-heap operator —
    // the ranking plan is a physical choice, not a semantic one.
    "x43_knn_native" -> knnJoinSql,
    "x55_jl_knn" -> {
      val sc = 1.0 / math.sqrt(ProjDim.toDouble)
      val coordList = projPlanes.map(p =>
        s"round(${dotSql("embedding", planeLit(p))} * $sc, 6)")
        .mkString("[", ",\n    ", "]")
      s"""WITH proj AS (
         |  SELECT vec_id, embedding, $coordList AS p FROM embeddings),
         |q AS (
         |  SELECT vec_id AS qid, p AS qp, embedding AS qv FROM proj
         |  WHERE vec_id % $KnnQueryMod = 0),
         |d AS (
         |  SELECT q.qid, e.vec_id, ${cosSql("e.p", "q.qp")} AS sim_p
         |  FROM proj e, q WHERE e.vec_id <> q.qid),
         |c AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim_p DESC, vec_id) AS rn FROM d)
         |  WHERE rn <= $JlKnnCandidates),
         |f AS (
         |  SELECT c.qid, c.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim_r
         |  FROM c JOIN proj e ON c.vec_id = e.vec_id JOIN q ON c.qid = q.qid),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INT) AS rk FROM f)
         |SELECT qid, vec_id, sim_r, rk FROM ranked
         |WHERE rk <= $KnnK ORDER BY qid, rk""".stripMargin
    }
  )

  /** x89: kNN edges over the bounded node range, then the BIGINT-ppm
    * PageRank recurrence unrolled one CTE per iteration (the x65
    * unrolled-fixpoint move). DuckDB's SUM(BIGINT) widens to HUGEINT, so
    * each iteration's rank is cast back to BIGINT — values stay far
    * inside int64 (≤ |V|·1e6), the cast is lossless. */
  /** The BIGINT-ppm PageRank recurrence as r0..r<iters> CTEs over
    * caller-provided `nodes(id)` / `edges(src, dst, outdeg)` CTEs —
    * shared by x89 (kNN graph) and x91 (source copy graph; `id` may be
    * any equality-joinable type). AS MATERIALIZED on each r_i: without
    * it DuckDB inlines the references and re-expands the edge derivation
    * once per iteration level. */
  private[graft] def pageRankIterCtes(iters: Int,
                                      dampPpm: Long = 850000L): String = {
    // dampPpm is threaded, not hardcoded, so a caller passing a non-default
    // damping to Graph.pageRankPpm gets an oracle replaying the SAME
    // recurrence (round-13 advice: the 850000/150000 literals here could
    // silently diverge from the operator's parameter).
    val floor = 1000000L - dampPpm
    val chain = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.id,
         |    CAST($floor + ($dampPpm * COALESCE(s.inc, 0)) // 1000000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p.r // e.outdeg) AS inc
         |    FROM edges e JOIN r${i - 1} p ON p.id = e.src
         |    GROUP BY 1) s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
       |$chain""".stripMargin
  }

  private def pageRankSql: String = {
    s"""WITH sub AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $PrNodes),
       |nodes AS (SELECT vec_id AS id FROM sub),
       |pairs AS (
       |  SELECT q.vec_id AS src, e.vec_id AS dst,
       |    ${cosSql("e.embedding", "q.embedding")} AS sim_r
       |  FROM sub e, sub q WHERE e.vec_id <> q.vec_id),
       |edges0 AS (
       |  SELECT src, dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY sim_r DESC, dst) AS rk FROM pairs)
       |  WHERE rk <= $KnnK),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY 1),
       |edges AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.outdeg FROM edges0 e JOIN deg d USING (src)),
       |${pageRankIterCtes(PrIters)}
       |SELECT id AS vec_id, r AS rank_ppm FROM r$PrIters
       |ORDER BY rank_ppm DESC, vec_id""".stripMargin
  }

  /** Shared x107/x108 CTE block: the label-filtered ADC shortlist off the
    * encoded codes (`adcr`, rk ≤ PqCandidates — the mismatch predicate
    * sits BEFORE the cut) and the exact cosine re-rank of exactly those
    * survivors (`refp`) — the replay of
    * [[graft.operators.VectorOps.hardNegativesIndexed]]. Callers prepend
    * the codebook/encode chains and the `q` CTE. */
  private def hardNegIndexedCtes: String =
    s"""adcp AS (
       |  SELECT q.qid, b.vec_id, b.label AS neg_label,
       |    round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT vec_id, label FROM embeddings) b
       |  ${pqJoinsSql()}
       |  CROSS JOIN q
       |  WHERE b.vec_id <> q.qid AND b.label <> q.ql),
       |adcr AS (
       |  SELECT qid, vec_id, neg_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM adcp)
       |  WHERE rk <= $PqCandidates),
       |refp AS (
       |  SELECT a.qid, a.vec_id, a.neg_label,
       |    ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM adcr a JOIN embeddings e USING (vec_id)
       |  JOIN q ON q.qid = a.qid)""".stripMargin

  private def hardNegativesIndexedSql: String =
    s"""WITH $pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |$hardNegIndexedCtes
       |SELECT qid, vec_id, neg_label, sim_r, rk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY sim_r DESC, vec_id) AS INT) AS rk FROM refp)
       |WHERE rk <= $KnnK ORDER BY qid, rk""".stripMargin

  /** x108: both miners replayed — the exact label-filtered cosine top-k
    * and the indexed two-stage chain — plus the per-query recall
    * arithmetic (x80's report form). */
  private def hardNegativeRecallSql: String =
    s"""WITH $pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |exactp AS (
       |  SELECT q.qid, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> q.qid AND e.label <> q.ql),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim_r DESC, vec_id) AS rk FROM exactp)
       |  WHERE rk <= $KnnK),
       |$hardNegIndexedCtes,
       |idxk AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim_r DESC, vec_id) AS rk FROM refp)
       |  WHERE rk <= $KnnK),
       |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
       |ni AS (
       |  SELECT qid, count(*) AS n_indexed
       |  FROM exact JOIN idxk USING (qid, vec_id) GROUP BY 1)
       |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(n_indexed, 0) AS BIGINT) AS n_indexed,
       |  round(coalesce(n_indexed, 0) / n_exact::DOUBLE, 4) AS recall
       |FROM ne LEFT JOIN ni USING (qid)
       |ORDER BY qid""".stripMargin

  /** One maintenance phase of an adaptive-nprobe lifecycle oracle
    * (shared by x114/x117/x118, and by x129 over the rotated corpus —
    * `src` plugs the space the exact ground truth ranks in): the
    * phase's exact holdout top-k over its served rows (`pred`),
    * per-nprobe routed rank + hit count off the shared `hcand` frame,
    * the curve union, and the floor choice `chosen_$tag`. */
  private def adaptivePhaseCtes(tag: String, pred: String,
                                src: String = "embeddings"): String = {
    val perNp = (1 to KClusters).map { np =>
      s"""routed_${tag}_$np AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_d2, vec_id) AS rk
         |    FROM hcand WHERE $pred AND cellrank <= $np)
         |  WHERE rk <= $KnnK),
         |rec_${tag}_$np AS (
         |  SELECT $np AS nprobe,
         |    (SELECT count(*) FROM hexact_$tag
         |     JOIN routed_${tag}_$np USING (qid, vec_id))
         |      * 1000000 // (SELECT count(*) FROM hexact_$tag)
         |      AS recall_ppm)""".stripMargin
    }.mkString(",\n")
    val union = (1 to KClusters)
      .map(np => s"SELECT * FROM rec_${tag}_$np").mkString(" UNION ALL ")
    s"""hexact_$tag AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, vec_id) AS rk
       |    FROM (
       |      SELECT hq.qid, e.vec_id,
       |        ${l2Sql("e.embedding", "hq.qv")} AS d2
       |      FROM $src e, hq
       |      WHERE e.vec_id <> hq.qid
       |        AND ${pred.replace("vec_id", "e.vec_id")}))
       |  WHERE rk <= $KnnK),
       |$perNp,
       |curve_$tag AS MATERIALIZED ($union),
       |chosen_$tag AS (
       |  SELECT CAST(coalesce(
       |    (SELECT min(nprobe) FROM curve_$tag
       |     WHERE recall_ppm >= $RecallFloorPpm),
       |    $KClusters) AS INT) AS np)""".stripMargin
  }

  /** The shared holdout-candidate block of the lifecycle oracles: the
    * held-out queries, their full probe-cell ranking, and ONE candidate
    * frame carrying every (query, vector) pair's probe-cell rank and
    * rounded ADC — each phase/nprobe slice is a filter over it, exactly
    * as [[VectorOps.fitRecallCurve]] slices its cached frame. */
  private def adaptiveHoldoutCtes: String = adaptiveHoldoutCtesFor()

  /** `src` plugs the query/corpus space (x129 passes the rotated rx1),
    * `t` the codebook-chain tag (`p` raw, `o` OPQ). */
  private def adaptiveHoldoutCtesFor(src: String = "embeddings",
                                     t: String = "p"): String =
    s"""hq AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM $src
       |  WHERE vec_id % $KnnQueryMod = $RecallHoldoutRes),
       |hpr AS (
       |  SELECT hq.qid, c.cid, row_number() OVER (PARTITION BY hq.qid
       |    ORDER BY ${l2Sql("hq.qv", "c.c")}, c.cid) AS rn
       |  FROM hq CROSS JOIN c$KmeansIters c),
       |hcand AS MATERIALIZED (
       |  SELECT hq.qid, a.vec_id, p.rn AS cellrank,
       |    round(${pqAdcSql("hq.qv", t)}, 6) AS adc_d2
       |  FROM (SELECT vec_id, cid FROM assign) a
       |  JOIN hpr p ON a.cid = p.cid
       |  JOIN hq ON hq.qid = p.qid
       |  ${pqJoinsSql(t)}
       |  WHERE a.vec_id <> hq.qid)""".stripMargin

  /** Curve-pair lifecycle oracle (x114/x117): quantizers trained on
    * `trainSrc`, every row assigned/encoded with them, then per phase
    * (tag, label, served-rows predicate): exact top-k, per-nprobe
    * routed recall, floor choice — the maintenance op between the
    * phases (append / delete+compact) never appears because its effect
    * IS the predicate (append-equivalence is x77's premise; delete
    * narrows served rows per x85's; compaction is result-invisible per
    * x81's). */
  private def adaptiveLifecycleSqlFor(
      trainSrc: String, phases: Seq[(String, String, String)]): String = {
    val phaseBlocks = phases.map(p => adaptivePhaseCtes(p._1, p._3))
      .mkString(",\n")
    val union = phases.map { case (tag, label, _) =>
      s"""  SELECT '$label' AS phase, nprobe, recall_ppm,
         |    nprobe = (SELECT np FROM chosen_$tag) AS chosen
         |  FROM curve_$tag""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${kmeansSqlFor(trainSrc)},
       |${pqChainsSqlFor(trainSrc)},
       |$pqEncodeSql,
       |${assignCteFor("embeddings")},
       |$adaptiveHoldoutCtes,
       |$phaseBlocks
       |SELECT phase, nprobe, CAST(recall_ppm AS BIGINT) AS recall_ppm,
       |  chosen FROM (
       |$union
       |) ORDER BY phase, nprobe""".stripMargin
  }

  /** x114: both phases' recall curves replayed — quantizers trained on
    * the BASE slice (x77's append-equivalence premise): phase 1 serves
    * the base rows, phase 2 everything. */
  private def adaptiveNprobeRefreshSql: String =
    adaptiveLifecycleSqlFor(
      s"(SELECT * FROM embeddings WHERE vec_id % $PqAppendMod <> 0)",
      Seq(("b", "1_base", s"vec_id % $PqAppendMod <> 0"),
        ("a", "2_appended", "TRUE")))

  /** x117: the delete→compact arc — quantizers train on the FULL corpus
    * (delete is never a retrain): phase 1 serves everything, phase 2
    * the tombstone survivors. */
  private def adaptiveLifecycleSql: String =
    adaptiveLifecycleSqlFor("embeddings",
      Seq(("f", "1_full", "TRUE"),
        ("p", "2_pruned", s"vec_id % $VecDeleteMod <> $VecDeleteRem")))

  /** x129: x117's arc through the OPQ fit — the rotation/quantizer fit
    * replay (`rx1` + o-tagged chains), the coarse chain and assignment
    * in the rotated space, the holdout candidates through the o-tagged
    * ADC, then the same two phases (full / delete-survivors). */
  private def opqLifecycleSql: String = {
    val phases = Seq(("f", "1_full", "TRUE"),
      ("p", "2_pruned", s"vec_id % $VecDeleteMod <> $VecDeleteRem"))
    val phaseBlocks = phases.map(p => adaptivePhaseCtes(p._1, p._3, "rx1"))
      .mkString(",\n")
    val union = phases.map { case (tag, label, _) =>
      s"""  SELECT '$label' AS phase, nprobe, recall_ppm,
         |    nprobe = (SELECT np FROM chosen_$tag) AS chosen
         |  FROM curve_$tag""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $opqFitCtes,
       |${kmeansSqlFor("rx1")},
       |${assignCteFor("rx1")},
       |${adaptiveHoldoutCtesFor("rx1", "o")},
       |$phaseBlocks
       |SELECT phase, nprobe, CAST(recall_ppm AS BIGINT) AS recall_ppm,
       |  chosen FROM (
       |$union
       |) ORDER BY phase, nprobe""".stripMargin
  }

  /** x118: the post-maintenance SERVE — the phase-2 curve + choice of
    * x117, then the routed ADC ranking of the production queries over
    * the survivors at the chosen nprobe, nprobe_used stamped (x112's
    * serve tail with the survivor predicate). */
  private def adaptiveLifecycleServeSql: String = {
    val surv = s"vec_id % $VecDeleteMod <> $VecDeleteRem"
    s"""WITH $kmeansSql,
       |$pqChainsSql,
       |$pqEncodeSql,
       |${assignCteFor("embeddings")},
       |$adaptiveHoldoutCtes,
       |${adaptivePhaseCtes("p", surv)},
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |sprobes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= (SELECT np FROM chosen_p)),
       |sranked AS (
       |  SELECT q.qid, a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT vec_id, cid FROM assign WHERE $surv) a
       |  JOIN sprobes p ON a.cid = p.cid JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid)
       |SELECT qid, vec_id, adc_d2,
       |  (SELECT np FROM chosen_p) AS nprobe_used FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc_d2, vec_id) AS rk FROM sranked)
       |WHERE rk <= $KnnK ORDER BY qid, adc_d2, vec_id""".stripMargin
  }

  /** x113: the positive miner's recall — exact same-label top-k vs the
    * routed form (probes, label-EQUALITY ADC cut, exact re-rank), per
    * query; the x108 contract applied to the positive side. */
  private def hardPositiveRecallSql: String =
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |exactp AS (
       |  SELECT q.qid, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> q.qid AND e.label = q.ql),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim_r DESC, vec_id) AS rk FROM exactp)
       |  WHERE rk <= $KnnK),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= $NProbe),
       |radcp AS (
       |  SELECT q.qid, a.vec_id,
       |    round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT s.vec_id, s.cid, e.label FROM assign s
       |        JOIN embeddings e USING (vec_id)) a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid AND a.label = q.ql),
       |radcr AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM radcp)
       |  WHERE rk <= $PqCandidates),
       |rrefp AS (
       |  SELECT a.qid, a.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM radcr a JOIN embeddings e USING (vec_id)
       |  JOIN q ON q.qid = a.qid),
       |routedk AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim_r DESC, vec_id) AS rk FROM rrefp)
       |  WHERE rk <= $KnnK),
       |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
       |ni AS (
       |  SELECT qid, count(*) AS n_routed
       |  FROM exact JOIN routedk USING (qid, vec_id) GROUP BY 1)
       |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(n_routed, 0) AS BIGINT) AS n_routed,
       |  round(coalesce(n_routed, 0) / n_exact::DOUBLE, 4) AS recall
       |FROM ne LEFT JOIN ni USING (qid)
       |ORDER BY qid""".stripMargin

  /** x109: the routed miner's replay — k-means chain, per-query probe
    * cells, the label-filtered ADC cut restricted to probed cells, exact
    * cosine re-rank of survivors
    * ([[graft.operators.VectorOps.hardNegativesRouted]]). The base
    * relation folds the label into the assigned rows so pqJoinsSql's
    * USING (vec_id) stays unambiguous. */
  /** x126: the filtered routed serve — x76's replay chain with the
    * carried-label predicate in the candidate WHERE clause. */
  private def filteredKnnSql: String =
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= $NProbe),
       |ranked AS (
       |  SELECT q.qid, a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT s.vec_id, s.cid, e.label FROM assign s
       |        JOIN embeddings e USING (vec_id)) a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid AND a.label % 3 = 1)
       |SELECT qid, vec_id, adc_d2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc_d2, vec_id) AS rk FROM ranked)
       |WHERE rk <= $KnnK
       |ORDER BY qid, adc_d2, vec_id""".stripMargin

  /** x128: the selectivity×nprobe recall grid — one MATERIALIZED
    * candidate frame carrying (cellrank, adc_d2, label); per predicate
    * an exact filtered top-k and per nprobe a filter + cut + ppm — the
    * SQL image of [[VectorOps.filteredRecallGrid]]'s one-scan shape. */
  private def filteredRecallGridSql: String = {
    val selBlocks = FilteredSelsSql.map { case (tag, pred) =>
      val perNp = (1 to KClusters).map { np =>
        s"""fr_${tag}_$np AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY adc_d2, vec_id) AS rk
           |    FROM fcand WHERE $pred AND cellrank <= $np)
           |  WHERE rk <= $KnnK),
           |frec_${tag}_$np AS (
           |  SELECT '$tag' AS sel, $np AS nprobe,
           |    (SELECT count(*) FROM fex_$tag
           |     JOIN fr_${tag}_$np USING (qid, vec_id))
           |      * 1000000 // (SELECT count(*) FROM fex_$tag)
           |      AS recall_ppm)""".stripMargin
      }.mkString(",\n")
      s"""fex_$tag AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY d2, vec_id) AS rk
         |    FROM (
         |      SELECT q.qid, e.vec_id, ${l2Sql("e.embedding", "q.qv")} AS d2
         |      FROM embeddings e, q
         |      WHERE e.vec_id <> q.qid AND e.$pred))
         |  WHERE rk <= $KnnK),
         |$perNp""".stripMargin
    }.mkString(",\n")
    val union = FilteredSelsSql.flatMap { case (tag, _) =>
      (1 to KClusters).map(np => s"SELECT * FROM frec_${tag}_$np")
    }.mkString(" UNION ALL ")
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |qpr AS (
       |  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |  FROM q CROSS JOIN c$KmeansIters c),
       |fcand AS MATERIALIZED (
       |  SELECT q.qid, a.vec_id, a.label, p.rn AS cellrank,
       |    round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT s.vec_id, s.cid, e.label FROM assign s
       |        JOIN embeddings e USING (vec_id)) a
       |  JOIN qpr p ON a.cid = p.cid
       |  JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid),
       |$selBlocks
       |SELECT sel, nprobe, recall_ppm FROM ($union)
       |ORDER BY sel, nprobe""".stripMargin
  }

  /** x132: the filtered-adaptive serve replay — holdout grid over the
    * workload predicate, floor choice, production serve at the chosen
    * nprobe with the predicate before the cut. */
  private def filteredAdaptiveServeSql: String = {
    val pred = "label % 5 = 0"
    val perNp = (1 to KClusters).map { np =>
      s"""fr_$np AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_d2, vec_id) AS rk
         |    FROM hcand WHERE $pred AND cellrank <= $np)
         |  WHERE rk <= $KnnK),
         |frec_$np AS (
         |  SELECT $np AS nprobe,
         |    (SELECT count(*) FROM fex JOIN fr_$np USING (qid, vec_id))
         |      * 1000000 // (SELECT count(*) FROM fex) AS recall_ppm)"""
        .stripMargin
    }.mkString(",\n")
    val union = (1 to KClusters).map(np => s"SELECT * FROM frec_$np")
      .mkString(" UNION ALL ")
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |hq AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = $RecallHoldoutRes),
       |hpr AS (
       |  SELECT hq.qid, c.cid, row_number() OVER (PARTITION BY hq.qid
       |    ORDER BY ${l2Sql("hq.qv", "c.c")}, c.cid) AS rn
       |  FROM hq CROSS JOIN c$KmeansIters c),
       |hcand AS MATERIALIZED (
       |  SELECT hq.qid, a.vec_id, a.label, p.rn AS cellrank,
       |    round(${pqAdcSql("hq.qv")}, 6) AS adc_d2
       |  FROM (SELECT s.vec_id, s.cid, e.label FROM assign s
       |        JOIN embeddings e USING (vec_id)) a
       |  JOIN hpr p ON a.cid = p.cid
       |  JOIN hq ON hq.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> hq.qid),
       |fex AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, vec_id) AS rk
       |    FROM (
       |      SELECT hq.qid, e.vec_id, ${l2Sql("e.embedding", "hq.qv")} AS d2
       |      FROM embeddings e, hq
       |      WHERE e.vec_id <> hq.qid AND e.$pred))
       |  WHERE rk <= $KnnK),
       |$perNp,
       |fcurve AS MATERIALIZED ($union),
       |fchosen AS (
       |  SELECT CAST(coalesce(
       |    (SELECT min(nprobe) FROM fcurve
       |     WHERE recall_ppm >= $FilteredFloorPpm), $KClusters) AS INT)
       |    AS np),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |sprobes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= (SELECT np FROM fchosen)),
       |sranked AS (
       |  SELECT q.qid, a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT s.vec_id, s.cid, e.label FROM assign s
       |        JOIN embeddings e USING (vec_id)) a
       |  JOIN sprobes p ON a.cid = p.cid JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid AND a.$pred)
       |SELECT qid, vec_id, adc_d2,
       |  (SELECT np FROM fchosen) AS nprobe_used FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc_d2, vec_id) AS rk FROM sranked)
       |WHERE rk <= $KnnK ORDER BY qid, adc_d2, vec_id""".stripMargin
  }

  private def hardNegativesRoutedSql: String =
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= $NProbe),
       |radcp AS (
       |  SELECT q.qid, a.vec_id, a.label AS neg_label,
       |    round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT s.vec_id, s.cid, e.label FROM assign s
       |        JOIN embeddings e USING (vec_id)) a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid AND a.label <> q.ql),
       |radcr AS (
       |  SELECT qid, vec_id, neg_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM radcp)
       |  WHERE rk <= $PqCandidates),
       |rrefp AS (
       |  SELECT a.qid, a.vec_id, a.neg_label,
       |    ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM radcr a JOIN embeddings e USING (vec_id)
       |  JOIN q ON q.qid = a.qid)
       |SELECT qid, vec_id, neg_label, sim_r, rk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY sim_r DESC, vec_id) AS INT) AS rk FROM rrefp)
       |WHERE rk <= $KnnK ORDER BY qid, rk""".stripMargin

  /** pl15: the full training-pair funnel replayed — the routed-mining
    * chain (k-means, probes, label-filtered ADC cut, exact re-rank) run
    * TWICE off one shared probe/assignment set (label mismatch for the
    * negatives, label equality + top-1 for the positives — both unit
    * sides go through the index, x108/x113 being the per-side recall
    * gates), the x52 recursive-CTE connected-components split key over
    * the mined edges, the hash-bucket split, and the x24 cumulative-sum
    * bin assignment — ending in the five funnel stages with their
    * conservation laws (4_pack_bins and 5_exported carry exactly
    * 3_train's vectors). */
  private def trainingPairsSql: String = {
    def idh(e: String) =
      s"('0x' || substr(md5(CAST($e AS VARCHAR)),1,15))::BIGINT"
    val splitCase = {
      val cases = CurationQueries.SplitWeights.scanLeft(("", 0.0)) {
        case ((_, acc), (name, w)) => (name, acc + w)
      }.tail.init
        .map { case (name, thr) =>
          s"WHEN ${idh("coalesce(c.component, u.qid)")} % 1000 " +
            s"< ${thr * 1000} THEN '$name'" }
        .mkString(" ")
      s"CASE $cases ELSE '${CurationQueries.SplitWeights.last._1}' END"
    }
    s"""WITH RECURSIVE $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= $NProbe),
       |al AS MATERIALIZED (
       |  SELECT s.vec_id, s.cid, e.label FROM assign s
       |  JOIN embeddings e USING (vec_id)),
       |radcp AS (
       |  SELECT q.qid, a.vec_id,
       |    round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM al a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid AND a.label <> q.ql),
       |radcr AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM radcp)
       |  WHERE rk <= $PqCandidates),
       |rrefp AS (
       |  SELECT a.qid, a.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM radcr a JOIN embeddings e USING (vec_id)
       |  JOIN q ON q.qid = a.qid),
       |negs AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim_r DESC, vec_id) AS rk FROM rrefp)
       |  WHERE rk <= $KnnK),
       |pradcp AS (
       |  SELECT q.qid, a.vec_id,
       |    round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM al a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid AND a.label = q.ql),
       |pradcr AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rk FROM pradcp)
       |  WHERE rk <= $PqCandidates),
       |prref AS (
       |  SELECT a.qid, a.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM pradcr a JOIN embeddings e USING (vec_id)
       |  JOIN q ON q.qid = a.qid),
       |pos AS (
       |  SELECT qid, vec_id AS pos_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim_r DESC, vec_id) AS rk FROM prref)
       |  WHERE rk <= 1),
       |nn AS (SELECT qid, count(*) AS n_negs FROM negs GROUP BY 1),
       |units AS (
       |  SELECT p.qid, p.pos_id, nn.n_negs + 2 AS n_vecs
       |  FROM pos p JOIN nn USING (qid)),
       |edges AS (
       |  SELECT qid AS id_a, pos_id AS id_b FROM pos
       |  UNION ALL SELECT qid, vec_id FROM negs),
       |sym AS (SELECT id_a AS s, id_b AS d FROM edges
       |        UNION SELECT id_b AS s, id_a AS d FROM edges),
       |reach AS (
       |  SELECT s AS id, s AS label FROM sym
       |  UNION
       |  SELECT sym.d AS id, r.label FROM reach r JOIN sym ON sym.s = r.id),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |usplit AS (
       |  SELECT u.*, $splitCase AS split
       |  FROM units u LEFT JOIN comp c ON u.qid = c.id),
       |train AS (SELECT * FROM usplit WHERE split = 'train'),
       |packsrc AS (
       |  SELECT qid, n_vecs, ${idh("qid")} AS h FROM train),
       |packedo AS (
       |  SELECT CAST(h % $PairPackShards AS INT) AS shard, n_vecs,
       |    sum(n_vecs) OVER (PARTITION BY h % $PairPackShards
       |      ORDER BY h, qid ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM packsrc),
       |bins AS (
       |  SELECT shard, (cum - n_vecs) // $PairPackBudget AS bin,
       |    sum(n_vecs) AS bin_vecs
       |  FROM packedo GROUP BY 1, 2)
       |SELECT stage, CAST(n_units AS BIGINT) AS n_units,
       |  CAST(n_vecs AS BIGINT) AS n_vecs FROM (
       |  SELECT '1_anchors' AS stage, count(*) AS n_units,
       |    count(*) AS n_vecs FROM q
       |  UNION ALL SELECT '2_paired', count(*), coalesce(sum(n_vecs), 0)
       |    FROM usplit
       |  UNION ALL SELECT '3_train', count(*), coalesce(sum(n_vecs), 0)
       |    FROM train
       |  UNION ALL SELECT '4_pack_bins', count(*), coalesce(sum(bin_vecs), 0)
       |    FROM bins
       |  UNION ALL SELECT '5_exported', count(*), coalesce(sum(n_vecs), 0)
       |    FROM packsrc
       |) ORDER BY stage""".stripMargin
  }

  /** x112: exact held-out top-k, all maxProbe routed serves, the integer
    * recall curve, the floor choice, and the serve at the chosen nprobe
    * — one unrolled WITH clause. */
  private def adaptiveNprobeSql: String = {
    val perNp = (1 to KClusters).map { np =>
      s"""hp$np AS MATERIALIZED (
         |  SELECT qid, cid FROM (
         |    SELECT hq.qid, c.cid, row_number() OVER (PARTITION BY hq.qid
         |      ORDER BY ${l2Sql("hq.qv", "c.c")}, c.cid) AS rn
         |    FROM hq CROSS JOIN c$KmeansIters c)
         |  WHERE rn <= $np),
         |hr$np AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_d2, vec_id) AS rk FROM (
         |      SELECT hq.qid, a.vec_id,
         |        round(${pqAdcSql("hq.qv")}, 6) AS adc_d2
         |      FROM (SELECT vec_id, cid FROM assign) a
         |      JOIN hp$np p ON a.cid = p.cid JOIN hq ON hq.qid = p.qid
         |      ${pqJoinsSql()}
         |      WHERE a.vec_id <> hq.qid))
         |  WHERE rk <= $KnnK),
         |rec$np AS (
         |  SELECT $np AS nprobe,
         |    (SELECT count(*) FROM hexact JOIN hr$np USING (qid, vec_id))
         |      * 1000000 // (SELECT count(*) FROM hexact) AS recall_ppm)"""
        .stripMargin
    }.mkString(",\n")
    val curveUnion = (1 to KClusters).map(np => s"SELECT * FROM rec$np")
      .mkString(" UNION ALL ")
    s"""WITH $kmeansSql,
       |$assignCte,
       |$pqChainsSql,
       |$pqEncodeSql,
       |hq AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = $RecallHoldoutRes),
       |hexactp AS (
       |  SELECT hq.qid, e.vec_id, ${l2Sql("e.embedding", "hq.qv")} AS d2
       |  FROM embeddings e, hq WHERE e.vec_id <> hq.qid),
       |hexact AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, vec_id) AS rk FROM hexactp)
       |  WHERE rk <= $KnnK),
       |$perNp,
       |curve AS MATERIALIZED ($curveUnion),
       |chosen AS (
       |  SELECT CAST(coalesce(
       |    (SELECT min(nprobe) FROM curve
       |     WHERE recall_ppm >= $RecallFloorPpm),
       |    $KClusters) AS INT) AS np),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |sprobes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2Sql("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q CROSS JOIN c$KmeansIters c)
       |  WHERE rn <= (SELECT np FROM chosen)),
       |sranked AS (
       |  SELECT q.qid, a.vec_id, round(${pqAdcSql("q.qv")}, 6) AS adc_d2
       |  FROM (SELECT vec_id, cid FROM assign) a
       |  JOIN sprobes p ON a.cid = p.cid JOIN q ON q.qid = p.qid
       |  ${pqJoinsSql()}
       |  WHERE a.vec_id <> q.qid)
       |SELECT qid, vec_id, adc_d2,
       |  (SELECT np FROM chosen) AS nprobe_used FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc_d2, vec_id) AS rk FROM sranked)
       |WHERE rk <= $KnnK ORDER BY qid, adc_d2, vec_id""".stripMargin
  }

  /** [[knnJoinSql]] with the query's label carried and the mismatch
    * predicate applied before ranking — the replay of
    * [[graft.operators.VectorOps.hardNegatives]]. */
  private def hardNegativesSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |pairs AS (
       |  SELECT q.qid, e.vec_id, e.label AS neg_label,
       |    ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> q.qid AND e.label <> q.ql),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY sim_r DESC, vec_id) AS INT) AS rk
       |  FROM pairs)
       |SELECT qid, vec_id, neg_label, sim_r, rk FROM ranked
       |WHERE rk <= $KnnK ORDER BY qid, rk""".stripMargin

  private def knnJoinSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id % $KnnQueryMod = 0),
       |pairs AS (
       |  SELECT q.qid, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim_r
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY sim_r DESC, vec_id) AS INT) AS rk
       |  FROM pairs)
       |SELECT qid, vec_id, sim_r, rk FROM ranked
       |WHERE rk <= $KnnK ORDER BY qid, rk""".stripMargin
}
