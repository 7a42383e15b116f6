package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregations, top-k, reconciliation (SURVEY.md §2.5 A1-A10, §2.6 T1-T5).
  *
  * Every aggregate here shuffles once on its group key and benefits from
  * map-side partial aggregation; at 100 TB the groupBy cardinalities involved
  * (group keys, categories, cycles) are small, so the reduce side is tiny and
  * AQE coalesces the post-shuffle partitions.
  */
object Aggregations {

  /** A1/A2/A8: group-sum over one key (pac_data_processor.py:69,98). */
  def groupSum(df: DataFrame, key: String, amount: String, as: String = "total"): DataFrame =
    df.groupBy(key).agg(sum(col(amount)).as(as))

  /** A3: per-cycle sum + count, sorted by key (pac_data_processor.py:357-360). */
  def cycleBreakdown(df: DataFrame, cycle: String, amount: String): DataFrame =
    df.groupBy(cycle)
      .agg(sum(col(amount)).as("total"), count(lit(1)).as("n"))
      .orderBy(cycle)

  /** A4: conditional pivot aggregation (pac_snowflake_realtime.py:90-128):
    * per (ticker, cycle) sum amounts into party buckets decided by the D3
    * classifier; rows with null/blank ticker or non-positive amount are
    * skipped pre-aggregation (P15/P16); groups where both buckets are 0 are
    * dropped. One shuffle; the classifier is a codegen'd `when` chain.
    */
  def partyPivot(df: DataFrame, ticker: String, cycle: String,
                 committee: String, amount: String): DataFrame =
    conditionalPivot(
      df.filter(col(ticker).isNotNull && col(ticker) =!= ""),
      Seq(col(ticker), col(cycle)),
      Derivations.partyClass(col(committee)),
      col(amount),
      Seq("democrat" -> "democrat_total", "republican" -> "republican_total"))
      .filter(col("democrat_total") > 0 || col("republican_total") > 0)

  /** Generic conditional pivot: one bucket column per classifier label, each
    * `sum(when(cls === label, amount) otherwise 0)`. Rows with null or
    * non-positive amounts are skipped pre-aggregation, matching
    * pac_snowflake_realtime.py:106-107 (P16). Single shuffle regardless of
    * bucket count. */
  def conditionalPivot(df: DataFrame, groupKeys: Seq[Column], classifier: Column,
                       amount: Column, buckets: Seq[(String, String)]): DataFrame = {
    val aggs = buckets.map { case (label, name) =>
      sum(when(classifier === label, amount).otherwise(0.0)).as(name)
    }
    df.filter(amount.isNotNull && amount > 0)
      .groupBy(groupKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Skew-safe two-stage group-sum: stage 1 pre-aggregates on (key, salt)
    * so a hot key's rows spread over `salts` reducers; stage 2 merges the
    * partial sums per key. For algebraic aggregates Spark's map-side partial
    * aggregation usually suffices — reach for this when a single key
    * dominates so heavily that even the merged partials skew one reducer
    * (the 100 TB hot-key case). The salt derives from spark_partition_id,
    * so stage 1 never shuffles a hot key's rows to one place. */
  def skewSafeGroupSum(df: DataFrame, key: String, amount: String,
                       salts: Int, as: String = "total"): DataFrame = {
    // Helper/output names are reserved (mirrors asofJoin's guard): an input
    // frame already carrying one would be silently replaced or collide with
    // the output schema.
    val reserved = Set("__salt", "__partial", "__n", "n", as) - key
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"skewSafeGroupSum reserves columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")}")
    df.withColumn("__salt", pmod(spark_partition_id(), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(amount)).as("__partial"), count(lit(1)).as("__n"))
      .groupBy(key)
      .agg(sum(col("__partial")).as(as), sum(col("__n")).as("n"))
  }

  /** A5: frequency count (`value_counts`, pac_data_processor.py:352). */
  def freqCount(df: DataFrame, key: String): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n")).orderBy(desc("n"), col(key))

  /** A6 scale path: HyperLogLog++ approximate distinct count. Exact
    * `countDistinct` shuffles every distinct value; at 100 TB cardinality
    * the sketch (fixed-size, mergeable, map-side combined) is the right
    * default, with `rsd` trading memory for error. Not oracle-checked —
    * sketch internals are engine-specific — so verified by a
    * relative-error unit test instead. */
  def approxDistinctCount(df: DataFrame, key: String, rsd: Double = 0.05): DataFrame =
    df.agg(approx_count_distinct(col(key), rsd).as("n_distinct_approx"))
  def distinctValues(df: DataFrame, key: String): DataFrame =
    df.select(key).distinct().orderBy(key)

  /** A10: count-reconciliation report (check_duplicates.py:124-172;
    * pac_snowflake_pipeline.py:252-290): incoming vs existing counts per
    * collection key, full-outer joined, with the reference's duplicate
    * heuristic `existing >= incoming`. */
  def reconcile(incoming: DataFrame, existing: DataFrame, key: String): DataFrame = {
    val in = incoming.groupBy(key).agg(count(lit(1)).as("incoming_n"))
    val ex = existing.groupBy(key).agg(count(lit(1)).as("existing_n"))
    in.join(ex, Seq(key), "full_outer")
      .select(
        col(key),
        coalesce(col("incoming_n"), lit(0L)).as("incoming_n"),
        coalesce(col("existing_n"), lit(0L)).as("existing_n"))
      .withColumn("projected_total", col("incoming_n") + col("existing_n"))
      .withColumn("possible_duplicates", col("existing_n") >= col("incoming_n"))
      .orderBy(key)
  }

  /** T1: top-k rows by a column (`nlargest`, pac_data_processor.py:64).
    * Tie-broken for determinism; `orderBy.limit` compiles to TakeOrderedAndProject
    * — no global sort, each partition keeps k rows. */
  def topKRows(df: DataFrame, by: Column, tieBreak: Seq[Column], k: Int): DataFrame =
    df.orderBy(by.desc +: tieBreak: _*).limit(k)

  /** T2: top-k groups by aggregated total (pac_data_processor.py:69,347). */
  def topKGroups(df: DataFrame, key: String, amount: String, k: Int): DataFrame =
    df.groupBy(key).agg(sum(col(amount)).as("total"))
      .orderBy(desc("total"), col(key)).limit(k)

  /** Incremental aggregate maintenance (engine extension): merge aggregate
    * SNAPSHOTS — frames of (keys, additive measures) such as counts and
    * sums — into the aggregate of the union, WITHOUT rescanning the
    * underlying data. This is how a 100 TB rollup stays fresh: each new
    * partition/day aggregates alone, and history is only ever merged at
    * snapshot granularity (sum-of-sums re-aggregation; one keyed shuffle
    * over |keys| rows, not |data| rows). Non-additive measures (avg,
    * distinct) must be carried as their additive parts (sum+count, HLL
    * sketches) and finalized at read time. */
  def mergeAggSnapshots(snapshots: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(snapshots.nonEmpty, "at least one snapshot")
    val all = snapshots.reduce(_ unionByName _)
    val measures = all.columns.filterNot(keyCols.contains).toIndexedSeq
    require(measures.nonEmpty, "snapshots need at least one measure column")
    val sums = measures.map(c => sum(col(c)).as(c))
    all.groupBy(keyCols.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Table profiler (engine extension): per column — row count, non-null
    * count, exact distinct count, min/max rendered as strings. One branch
    * per column, unioned: each branch's scan is COLUMN-PRUNED to that one
    * column (parquet reads one column chunk), so the cost is one pass over
    * each column, not |columns| passes over the table, and the branches run
    * concurrently as independent stages. Exact distinct keeps the profile
    * oracle-checkable; at 100 TB swap `countDistinct` for the
    * [[approxDistinctCount]] HLL sketch — same shape, one pass, no exact
    * distinct shuffle per column. */
  def profile(df: DataFrame): DataFrame =
    df.columns.toIndexedSeq.map { c =>
      df.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)

  /** The Misra–Gries sketch of a string column as a Column (map<item,
    * undercount>, ≤ capacity entries regardless of column cardinality). */
  def misraGries(item: Column, capacity: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.MisraGriesSketch(
      ColumnBridge.expression(item), capacity).toAggregateExpression())
  }

  /** EXACT heavy hitters with bounded memory — items occurring
    * > n/(capacity+1) times — via the classic two-pass sketch-then-verify
    * shape: pass 1 folds the column through the [[misraGries]] native
    * aggregate (≤ capacity counters per partition, merged map-side; the
    * full-cardinality `groupBy` that a naive top-k needs — the whole
    * vocabulary through a shuffle — never happens); pass 2 takes the
    * ≤ capacity candidates (a GUARANTEED superset of the true heavy
    * hitters — the sketch has no false negatives), broadcasts them back
    * onto the scan, and counts exactly. The final integer-arithmetic
    * filter `count × (capacity+1) > n` makes the output the exact,
    * deterministic heavy-hitter set — the sketch's approximation affects
    * only which non-hitters get needlessly verified, never the answer.
    * Returns (itemCol, n_occurrences), nulls ignored. */
  def heavyHitters(df: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    require(capacity > 0)
    val sketch = graft.GraftCache.persist(df.agg(
      misraGries(col(itemCol), capacity).as("__mg"),
      count(col(itemCol)).as("__n")))
    val cands = sketch.select(explode(map_keys(col("__mg"))).as(itemCol))
    df.join(broadcast(cands), Seq(itemCol))
      .groupBy(itemCol)
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(sketch.select(col("__n"))))
      .filter(col("n_occurrences") * (capacity + 1) > col("__n"))
      .select(col(itemCol), col("n_occurrences"))
  }

  /** The KMV distinct-count sketch of a long hash column as a Column
    * (array<long> of the k smallest distinct hashes, ascending — see
    * [[graft.functions.KmvSketch]]). Because the result is a set function
    * of the input VALUES, re-aggregating exploded sketch arrays with the
    * same aggregate IS the lossless sketch merge — per-shard sketches
    * combine into the corpus sketch with no extra machinery. */
  def kmvSketch(hash: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.KmvSketch(
      ColumnBridge.expression(hash), k).toAggregateExpression())
  }

  /** 2^60 as an exact double — the hash space size of the engine-standard
    * 60-bit md5 hash ([[graft.functions.Md5Hash60]]). */
  private val Hash60Space = 1152921504606846976.0

  /** Distinct-count estimate from a KMV sketch array: exact (= sketch
    * size) while the sketch holds every distinct hash; the unbiased
    * (k-1)·2^60/h_k beyond. The expression tree is fixed — (k-1) ·
    * (2^60 / h_k) in double, floored — so an external engine replaying
    * the same scalar ops produces the bit-identical estimate (IEEE
    * round-to-nearest is deterministic; only aggregation ORDER is not,
    * and no aggregation happens here). */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble) *
        (lit(Hash60Space) / element_at(sketch, k).cast("double"))).cast("long"))

  /** Log₂-mantissa histogram percentiles — the DDSketch idea (Masson,
    * Rim & Lee, VLDB 2019: relative-error quantiles from log-spaced
    * buckets whose counts are trivially mergeable) rebuilt on EXACT
    * integer arithmetic so it is deterministic across engines, which
    * float-log bucketing is not (libm `log` differs at boundary values
    * between runtimes). Values quantize to micro-units; a bucket is
    * (bit-length of v, top-4-bits mantissa) — γ = 2^(1/8) ≈ 1.09, ≤ ~9%
    * relative bucket width — computed with string-length-of-binary and
    * shifts, no floating point anywhere. Per requested percentile p the
    * result row carries the ceil-rank, the containing bucket's exact
    * integer bounds, and the TRUE rank statistic (the rank-th smallest
    * micro-value — itself integer-deterministic), so the sketch's error
    * is visible in the artifact, not asserted. At 100 TB the histogram
    * is the path: ≤ a few hundred bucket counts per partition merge
    * map-side where the exact rank statistic needs a global sort.
    * `df(valueCol)` must be positive; rows quantizing to 0 are dropped
    * (sub-microunit values carry no rank information at this γ). */
  /** Micro-quantized positive values of `valueCol` — the shared front end
    * of the histogram paths. */
  private def microValues(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(floor(col(valueCol) * 1000000d).cast("long").as("v"))
      .filter(col("v") > 0)

  /** The log₂-mantissa bucket counts of `valueCol` — (msb, sub, c) rows,
    * ≤ a few hundred whatever the input size. These ARE the mergeable
    * sketch: histograms of disjoint corpora combine by summing `c` per
    * bucket (which also means a merge is ADDITIVE, not idempotent — a
    * replay-safe maintainer must version its snapshots, see
    * [[graft.streaming.EventStreams.maintainValueHistogram]]). */
  def logHistogramBuckets(df: DataFrame, valueCol: String): DataFrame =
    microValues(df, valueCol)
      .withColumn("msb", length(expr("bin(v)")).cast("long"))
      .withColumn("sub",
        expr("CASE WHEN msb <= 4 THEN v ELSE shiftright(v, cast(msb - 4 AS INT)) END"))
      .groupBy("msb", "sub").agg(count(lit(1)).as("c"))

  /** Exact integer bounds of the (msb, sub) bucket — shared by the
    * readout and the percentile join. */
  private def bucketLoCol: Column =
    expr("CASE WHEN msb <= 4 THEN sub ELSE shiftleft(sub, cast(msb - 4 AS INT)) END")
  private def bucketHiCol: Column =
    expr("CASE WHEN msb <= 4 THEN sub ELSE shiftleft(sub + 1, cast(msb - 4 AS INT)) - 1 END")

  /** Containing bucket per requested percentile, WITH the within-bucket
    * rank offset: (p, rank, msb, sub, off) where `off` = rank − (count of
    * all earlier buckets) ∈ [1, c]. Buckets are disjoint contiguous value
    * ranges in (msb, sub) order, so the off-th smallest value INSIDE the
    * containing bucket is the rank-th smallest overall — the identity
    * [[logHistogramPercentiles]]' bucket-local rank selection rests on.
    * The cumulative sum runs on the bucket frame only (≤ a few hundred
    * rows whatever the input); the constant partition key keeps that
    * bounded single-partition window out of the unpartitioned-WindowExec
    * warning class without changing the arithmetic. The key must be
    * NON-foldable (pmod of an attribute, not a literal) — Catalyst
    * eliminates foldable window partition keys, which would reinstate
    * the warning. */
  private def bucketSelection(buckets: DataFrame,
                              percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 1 && p <= 100))
    // The total `n` rides the SAME window pass as the running sum (the
    // former separate `agg(sum(c))` + crossJoin re-ran the whole bucket
    // aggregation subtree — Spark does not share it across branches),
    // and the per-percentile ranks explode inline: one scan, one
    // single-partition exchange of the ≤ few-hundred-row bucket frame.
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("msb"), lit(1L)))
      .orderBy("msb", "sub")
    val w = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // The containing bucket is CLOSED-FORM: the unique bucket with
    // cum − c < rank ≤ cum (buckets partition [1, n] into disjoint
    // cumulative ranges), so selection is a filter — no min-aggregation,
    // no second shuffle after the window.
    buckets
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(wAll))
      .select(col("msb"), col("sub"), col("c"), col("cum"), col("n"),
        explode(array(
          percentiles.distinct.sorted.map(p => lit(p.toLong)): _*)).as("p"))
      .withColumn("rank", expr("(n * p + 99) div 100"))
      .filter(col("cum") >= col("rank") && col("cum") - col("c") < col("rank"))
      .select(col("p"), col("rank"), col("msb"), col("sub"),
        (col("rank") - (col("cum") - col("c"))).as("off"))
  }

  /** Percentile readout from stored bucket counts — the serve half of the
    * histogram sketch: ceil-rank selection over the cumulative counts,
    * emitting each requested percentile's containing-bucket integer
    * bounds. No raw values needed (that is the point of the sketch);
    * [[logHistogramPercentiles]] adds the true rank statistic when the
    * raw column IS at hand. */
  def logHistogramReadout(buckets: DataFrame,
                          percentiles: Seq[Int]): DataFrame =
    bucketSelection(buckets, percentiles)
      .select(col("p"), col("rank"),
        bucketLoCol.as("bucket_lo"), bucketHiCol.as("bucket_hi"))

  def logHistogramPercentiles(df: DataFrame, valueCol: String,
                              percentiles: Seq[Int]): DataFrame = {
    // Bucket-local exact rank (optimization r20): the former
    // row_number().over(Window.orderBy("v")) pulled EVERY micro-value
    // onto one partition to find the rank-th smallest — one task sorting
    // the whole column at any corpus size. Instead the tiny selection
    // frame (containing bucket + in-bucket offset per percentile, ≤
    // |percentiles| rows) broadcasts onto the value frame, so only
    // candidate-bucket rows survive the join, and the rank window runs
    // per target over one bucket's rows. Per the [[bucketSelection]]
    // identity the off-th smallest in-bucket value equals the rank-th
    // smallest overall, so the emitted rows are unchanged.
    val mv = microValues(df, valueCol)
      .withColumn("msb", length(expr("bin(v)")).cast("long"))
      .withColumn("sub",
        expr("CASE WHEN msb <= 4 THEN v ELSE shiftright(v, cast(msb - 4 AS INT)) END"))
    val sel = bucketSelection(logHistogramBuckets(df, valueCol), percentiles)
    mv.join(broadcast(sel), Seq("msb", "sub"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("p", "rank").orderBy("v")))
      .filter(col("rn") === col("off"))
      .select(col("p"), col("rank"),
        bucketLoCol.as("bucket_lo"), bucketHiCol.as("bucket_hi"),
        col("v").as("exact_micro"))
      .orderBy("p")
  }
}
