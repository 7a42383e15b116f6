package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftCache

/** Deduplication & lookup joins (SURVEY.md §2.4 J1-J2) plus the exact-dedup
  * primitive the training-data extensions build on.
  */
object Dedup {

  /** J2 (within-batch): keep-first dedup by composite key. The reference's
    * "first" is Firestore stream order (pac_data_processor.py:169-186) —
    * nondeterministic; we define first by an explicit ordering so results are
    * oracle-stable (SURVEY.md §7.4(3)).
    *
    * Scale: one shuffle on the key; the `row_number` window sorts only within
    * each key group. For pure distinct-row semantics prefer
    * `df.dropDuplicates(keys)` which aggregates instead of sorting.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[keepFirst]] as an aggregation: `min_by(struct(row), struct(order))`
    * per key. Same survivors when `order` is a total order within each key
    * (the determinism contract keepFirst already requires). The plan is a
    * hash aggregate with map-side partial aggregation — each mapper keeps
    * one candidate row per key before the shuffle — which wins when
    * duplicates are PLENTIFUL per key per mapper (heavy-dedup ingests).
    * With near-unique keys the whole-row struct shuffle outweighs the
    * reduction and the window form is faster (measured on lineitem sf0.1:
    * 1.8s window vs 3.2s min_by at ~7 rows/key); choose by duplicate
    * density. */
  def keepFirstAgg(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val rowStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(rowStruct, struct(order: _*)).as("__first"))
      .select(df.columns.map(c => col(s"__first.$c").as(c)).toIndexedSeq: _*)
  }

  /** J2 (vs existing sink): upload-side dedup — drop incoming rows whose
    * composite key already exists in the sink
    * (pac_snowflake_pipeline.py:209-250). Left-anti join shuffles both sides
    * on the key unless the existing-keys side is small enough to broadcast.
    */
  def antiJoinExisting(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** J1: lookup join ticker→brand_id (pac_snowflake_realtime.py:135-148).
    * The reference does a per-key network call; here the whole mapping is a
    * broadcast inner join (misses are dropped, matching the reference's
    * skip-path). `droppedKeys` reports the misses like the skip counter at
    * :186-192. */
  def lookupJoin(facts: DataFrame, mapping: DataFrame, key: String): DataFrame =
    facts.join(broadcast(mapping), Seq(key), "inner")

  def droppedKeys(facts: DataFrame, mapping: DataFrame, key: String): DataFrame =
    facts.join(broadcast(mapping), Seq(key), "left_anti").select(key).distinct()

  /** Connected components over an undirected edge list: turns near-dup
    * PAIRS (the output of minhash/simhash/chunk/embedding near-dup
    * operators) into dedup CLUSTERS — the step a real corpus dedup needs
    * before it can keep one canonical document per cluster, because
    * near-duplicate relations are not transitive pairwise (a~b, b~c does
    * not imply the pair (a,c) was emitted) yet all three must dedup
    * together. Returns (id, component) for every id appearing in an edge;
    * component = the minimum id reachable, so `id === component` selects
    * the canonical survivor per cluster.
    *
    * Algorithm: iterative min-label propagation to a fixpoint. Each round
    * is one equi-join (labels into symmetric edges) + one min-aggregation —
    * both partitionable keyed shuffles, no driver-side data. Rounds =
    * cluster diameter, and LSH near-dup clusters are dense (members share
    * band buckets), so diameter is small — 2-4 rounds in practice. The
    * driver loop holds only the converged/changed flag, never rows. For
    * adversarial long-chain graphs the round count degrades to O(diameter);
    * [[connectedComponentsStar]] is the published O(log n)-round fix with
    * the identical contract (property-proven equivalent) — prefer it when
    * cluster diameter is unknown or unbounded.
    *
    * Scale notes: the vertex set here is only the docs that appear in a
    * near-dup pair — a vanishing fraction of a 100 TB corpus. Each round's
    * label frame is LOCAL-CHECKPOINTED, not merely persisted: truncating
    * the logical plan matters as much as caching the data, because the
    * naive persist-only loop builds a plan that embeds the previous
    * round's plan twice (union + message join), doubling analyzer and
    * optimizer work per round — exponential in the round count (measured:
    * heap exhaustion by round ~12). Local checkpoint keeps the per-round
    * plan O(1). On a cluster with long-running jobs, reliable
    * `checkpoint()` trades speed for fault tolerance (a lost executor
    * invalidates local checkpoints). The rounds' exchanges run at the
    * width [[withDerivedWidth]] derives from the symmetric edge count.
    *
    * Caching contract: the symmetric edge list (read every round) and the
    * round checkpoints are tracked by [[graft.GraftCache]]; each round
    * frees its predecessor, so the edge list and the final round are all
    * that stay tracked. Call `GraftCache.release()` after consuming the
    * result — not before: the returned frame reads the final checkpoint.
    * Throws if `maxIter` rounds do not converge (silently-partial
    * components would be wrong, not slow). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
    val sym = GraftCache.persist(
      e.union(e.select(col("d").as("s"), col("s").as("d"))).distinct())
    withDerivedWidth(sym) {
      // Seed with round 1 for free: least(id, min(neighbor)) is exactly what
      // one propagation round over comp=id would produce, and the groupBy
      // costs the same keyed shuffle the old `distinct()` init paid anyway.
      var round = GraftCache.checkpoint(
        sym.groupBy(col("s").as("id")).agg(min(col("d")).as("__mn"))
          .select(col("id"), least(col("id"), col("__mn")).as("comp")))
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxIter) {
        // Old labels ride through the min-aggregation under a flag column, so
        // convergence is a scan of the (tiny, checkpointed) round result —
        // not a second keyed shuffle joining the next round back to `labels`.
        val labels = round.select("id", "comp")
        val msgs = sym.join(labels, sym("s") === labels("id"))
          .select(col("d").as("id"), col("comp"), lit(false).as("__old"))
        round = GraftCache.advance(round,
          labels.select(col("id"), col("comp"), lit(true).as("__old"))
            .union(msgs)
            .groupBy("id")
            .agg(min("comp").as("comp"),
              min(when(col("__old"), col("comp"))).as("__prev")))
        converged = round.filter(col("comp") =!= col("__prev")).isEmpty
        rounds += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component labels would be incomplete; raise maxIter")
      round.select(col("id"), col("comp").as("component"))
    }
  }

  /** Edges per round-shuffle partition when a loop derives its width
    * (~16 MB of 16-byte edge rows — small for the guide's 100 MB–1 GB
    * band, but the label/message frames a CC round shuffles are several
    * times the edge count, and a round is many aggregations of the same
    * keys, so the effective partition is larger). */
  private val CcEdgesPerPartition = 1L << 20

  /** Runs a graph loop's `body` at a scale-ADAPTIVE shuffle width
    * (optimization r19, guide §2.2): min(session default, |edges| /
    * [[CcEdgesPerPartition]] + 1) partitions, derived from the
    * materialized edge frame, never a constant. Near-dup component graphs
    * and source graphs are a vanishing fraction of the corpus (pl15's
    * mined graph at sf0.1 is ~10² edges), so session-default 32-way
    * shuffles per round are pure task-scheduling overhead, while a
    * production-sized graph keeps the session default untouched (min(),
    * never a raise). Counting costs one action over a frame the loop
    * reads every round anyway. Partitioning cannot perturb results: the
    * loops are exact integer sums or min-label folds per key. Only EAGER
    * operations inside `body` see the width, so `body` must return a
    * frame that shuffles nothing lazily. */
  private[operators] def withDerivedWidth[T](edges: DataFrame)(body: => T): T = {
    val spark = edges.sparkSession
    val default = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val width = math.min(default.toLong,
      edges.count() / CcEdgesPerPartition + 1L).toInt
    if (width >= default) body else withShufflePartitions(spark, width)(body)
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n`, restoring
    * the previous value after. Session-global, so safe only under
    * sequential query execution (Bench/Verify/specs all are). */
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** [[connectedComponents]] by alternating star contraction — the
    * large-star / small-star algorithm of Kiveris, Lattanzi, Mirrokni,
    * Rastogi & Vassilvitskii, "Connected Components in MapReduce and
    * Beyond" (ACM SoCC 2014): each round large-star hangs every node's
    * strictly-larger neighbors off the minimum of its closed neighborhood,
    * then small-star re-hangs the smaller neighbors the same way; the edge
    * set converges to a star forest (every survivor edge = child→component
    * minimum) in O(log n) rounds REGARDLESS of diameter — the upgrade over
    * min-label propagation's O(diameter) rounds for adversarial chain
    * graphs, at the cost of ~2x the keyed shuffles per round. Same
    * contract as [[connectedComponents]]: returns (id, component) for every
    * id appearing in an edge, component = min reachable id (property-spec
    * equivalence between the two on random graphs).
    *
    * Per-round work is two groupBy-min aggregations + two equi-joins on the
    * (shrinking) edge set — partitionable keyed shuffles only, no
    * driver-side data; rounds are tracked local checkpoints
    * ([[graft.GraftCache.checkpoint]]) like the propagation loop, so
    * per-round plans stay O(1) and each round frees its predecessor once
    * the convergence probe has read both. Convergence =
    * the round leaves the edge set unchanged (two anti-join emptiness
    * probes on the contracted frame, which at that point is one edge per
    * non-root node — the cheapest frame the loop ever sees). */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 50): DataFrame = {
    // Input pairs are usually an expensive computed frame (a near-dup
    // join): persist ONCE; verts and the working edge set both read the
    // cache. Caller releases via GraftCache.release() like connectedComponents.
    val e0 = GraftCache.persist(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct())
    val verts = e0.select(col("u").as("id"))
      .union(e0.select(col("v").as("id"))).distinct()
    var e = GraftCache.checkpoint(e0.filter(col("u") =!= col("v")))
    var converged = e.isEmpty // self-loop-only input: nothing to contract
    var rounds = 0
    while (!converged && rounds < maxIter) {
      // Each star step needs every edge row tagged with its node's
      // neighborhood minimum — a whole-partition window min (ONE exchange)
      // rather than groupBy-then-join-back (two). Group sizes are node
      // degrees, so the in-partition sort is bounded by max degree.
      val wU = Window.partitionBy("u")
      // Large-star: from each node u's closed neighborhood (symmetric edge
      // list), hang every neighbor v > u off m = min(N(u) ∪ {u}). Every
      // edge is processed from its smaller endpoint, so no edge is lost.
      // Every emitted edge (v, m) has v > u ≥ m, i.e. the output is already
      // oriented big→small and self-loop-free — small-star consumes it
      // as-is, and the (few) duplicate emissions from different u's ride
      // into small-star's window instead of paying their own distinct
      // shuffle here.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val ls = sym.withColumn("__m", least(col("u"), min(col("v")).over(wU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
      // Small-star over the big→small edges: per node u, hang u and all its
      // smaller neighbors off m = min of those neighbors. Emits (u, m) per
      // node plus (v, m) for the displaced smaller neighbors.
      val ss0 = ls.withColumn("__m", min(col("v")).over(wU))
      val ss = GraftCache.checkpoint(ss0.filter(col("v") =!= col("__m"))
        .select(col("v").as("u"), col("__m").as("v"))
        .union(ss0.select(col("u"), col("__m").as("v")))
        .distinct())
      converged = ss.exceptAll(e).isEmpty && e.exceptAll(ss).isEmpty
      GraftCache.unpersist(e)
      e = ss
      rounds += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "component labels would be incomplete; raise maxIter")
    // Fixpoint is a star forest: each component's edges are (child, root).
    // min-over-closed-neighborhood labels every child with its root and
    // every root with itself (least(root, any child) = root).
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val labels = sym.groupBy(col("u").as("id")).agg(min(col("v")).as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("component"))
    // Vertices with only self-loop edges never enter the contraction —
    // they are their own component, like connectedComponents' seed round.
    verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Incremental [[connectedComponents]] maintenance — the nightly-batch
    * form: given the standing corpus's (id, component) labels and ONLY
    * the edges an arriving batch introduced (batch↔corpus pairs from the
    * incremental screen plus batch-internal pairs), produce labels for
    * corpus ∪ batch WITHOUT re-running CC over the corpus graph.
    *
    * Sound because adding edges can only MERGE components: every new
    * edge links two existing components (an endpoint absent from
    * `labels` is its own singleton), so connected components over the
    * COMPONENT graph — one node per touched component label, one edge
    * per new cross-component pair — decide every merge, and untouched
    * components keep their labels. That component graph is BATCH-sized:
    * the iterative CC loop runs over ≤ 2·|newEdges| rows, and the
    * corpus frame is touched exactly once, by a broadcast remap of the
    * ≤ 2·|newEdges|-row merge table. Labels stay canonical
    * (component = min reachable id): the merged label is the min over
    * the merged components' old labels, each itself a min.
    * ScalaCheck pins equivalence to full recomputation.
    *
    * `labels` must be (id, component) as produced by
    * [[connectedComponents]]/[[connectedComponentsStar]] over the OLD
    * edge set; returns the same shape covering
    * nodes(labels) ∪ nodes(newEdges). Intermediates are batch-sized
    * tracked local checkpoints, and every eager step runs at the width
    * [[withDerivedWidth]] derives from |newEdges|; call
    * `GraftCache.release()` after consuming the result. The returned frame
    * shuffles nothing lazily: both corpus-side operations below are
    * broadcast joins. */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
                            srcCol: String, dstCol: String): DataFrame = {
    val lab = labels.select(col("id"), col("component"))
    val e = GraftCache.checkpoint(
      newEdges.select(col(srcCol).as("s"), col(dstCol).as("d")))
    val (all, compEdges) = withDerivedWidth(e) {
      val ends = GraftCache.checkpoint(e.select(col("s").as("id"))
        .union(e.select(col("d").as("id"))).distinct())
      // The corpus is scanned ONCE here (plus once by the final remap):
      // the batch-sized endpoint set BROADCASTS into an inner join
      // against the standing labels — no corpus shuffle — and every
      // later join touches only batch-sized frames.
      val known = GraftCache.checkpoint(
        lab.join(broadcast(ends), Seq("id")))
      // endpoint -> its current component (own id when unlabeled)
      val endLabels = GraftCache.checkpoint(
        ends.join(broadcast(known), Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("comp")))
      // Both endpoint-label attachments broadcast the one endLabels frame,
      // so they fuse into a single no-exchange stage over e (the round-11
      // "fuse the two joins" ask, realized by broadcast: one scan of e,
      // zero shuffles, where the old form paid two keyed exchanges).
      val compEdges = GraftCache.checkpoint(e
        .join(broadcast(endLabels.select(col("id").as("s"), col("comp").as("cs"))), Seq("s"))
        .join(broadcast(endLabels.select(col("id").as("d"), col("comp").as("cd"))), Seq("d"))
        .select(col("cs"), col("cd"))
        .filter(col("cs") =!= col("cd")).distinct())
      // new singletons (batch endpoints the corpus labels do not cover)
      val newbies = ends.join(broadcast(known.select("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      (lab.unionByName(newbies), compEdges)
    }
    // Fast path for the common nightly case: every new edge lands INSIDE
    // an existing component (near-dups of a cluster member are usually
    // near-dups of its whole cluster) — no merges, so the iterative CC
    // loop is skipped entirely and the update is labels + singletons.
    // The emptiness probe is one action over the batch-sized edge frame.
    if (compEdges.isEmpty) all
    else {
      // CC over the tiny component graph: old label -> merged label
      val merges = connectedComponents(compEdges, "cs", "cd")
        .select(col("id").as("__old"), col("component").as("__new"))
      all.join(broadcast(merges), all("component") === col("__old"), "left")
        .select(all("id"),
          coalesce(col("__new"), all("component")).as("component"))
    }
  }
}
