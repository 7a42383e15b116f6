package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks (engine extension): a rule set evaluated
  * into one (rule, n_violations) report — the contract-enforcement layer a
  * production pipeline runs before publishing a snapshot.
  *
  * Scale shape: every row-local rule ([[notNull]], [[inRange]], [[matches]])
  * folds into a SINGLE conditional-sum aggregation pass over the table
  * (one scan, map-side partials, no shuffle beyond the 1-row rollup);
  * [[uniqueKey]] adds one keyed distinct, and [[refIntegrity]] one
  * left-anti join per referenced dimension (broadcast when small). Rules
  * never collect data — a report row is (name, count).
  */
object Quality {

  /** A named predicate whose FAILURES are counted. */
  final case class Rule(name: String, violation: Column)

  def notNull(c: String): Rule =
    Rule(s"not_null($c)", col(c).isNull)

  def inRange(c: String, lo: Double, hi: Double): Rule =
    Rule(s"in_range($c)", col(c).isNotNull && !(col(c) >= lo && col(c) <= hi))

  def matches(c: String, pattern: String): Rule =
    Rule(s"matches($c)", col(c).isNotNull && !col(c).rlike(pattern))

  /** Row-local rules → one aggregation pass: each rule is a conditional sum.
    * Rules are aliased positionally (`__r0`…) through the wide row — rule
    * names carry parentheses, which column resolution would mis-parse —
    * and mapped back to names in the long form. */
  def rowChecks(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val sums = rules.zipWithIndex.map { case (r, i) =>
      sum(when(r.violation, 1L).otherwise(0L)).as(s"__r$i")
    }
    val wide = df.agg(sums.head, sums.tail: _*)
    val names = map(rules.zipWithIndex.flatMap { case (r, i) =>
      Seq(lit(s"__r$i"), lit(r.name))
    }: _*)
    // wide (1 row, |rules| cols) → long (rule, n_violations)
    wide.unpivot(Array.empty[Column],
        rules.indices.map(i => col(s"__r$i")).toArray, "rule", "n_violations")
      .withColumn("rule", element_at(names, col("rule")))
  }

  /** Key-uniqueness check: #rows − #distinct keys (0 ⇔ unique). */
  def uniqueKey(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val name = s"unique_key(${keyCols.mkString(",")})"
    df.agg((count(lit(1)) -
        count_distinct(struct(keyCols.map(col): _*))).as("n_violations"))
      .select(lit(name).as("rule"), col("n_violations"))
  }

  /** Referential integrity: fact keys absent from the dimension (nulls are
    * not violations — compose with [[notNull]] to forbid them). The anti
    * join broadcasts a small dimension; at scale both sides hash-partition
    * on the key. */
  def refIntegrity(fact: DataFrame, factKey: String,
                   dim: DataFrame, dimKey: String): DataFrame = {
    val name = s"ref_integrity($factKey->$dimKey)"
    fact.filter(col(factKey).isNotNull)
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("rule"), col("n_violations"))
  }

  /** First-failing-rule stage label: index of the first rule a row
    * violates, −1 if it passes the whole cascade. A null violation
    * (null-valued metric) falls through its `when` branch, so null never
    * drops a row — compose with [[notNull]] to forbid nulls explicitly. */
  private def cascadeStage(rules: Seq[Rule]): Column =
    rules.zipWithIndex.foldRight(lit(-1)) {
      case ((r, i), acc) => when(r.violation, lit(i)).otherwise(acc)
    }

  /** Ordered filter cascade with first-failure attrition accounting — the
    * funnel table every curation report publishes (C4's §2.2 heuristics,
    * Gopher §A.1.1, RefinedWeb/FineWeb ablations all report "rule X
    * removed N documents"): rules apply IN ORDER and a dropped document
    * is charged to the FIRST rule it fails, so the table answers "what
    * would relaxing THIS rule recover, given everything before it" —
    * which [[rowChecks]]' independent violation counts (one document can
    * count under many rules) cannot. Returns one row per rule:
    * (stage, rule, n_dropped, n_remaining), ordered by stage; the last
    * n_remaining is the survivor count ([[cascadeSurvivors]] row count).
    *
    * Scale shape: the stage label is ONE row-local CASE chain — the
    * corpus pays a single conditional projection and one aggregate to a
    * (|rules|+1)-row frame; the attrition arithmetic (cumulative window)
    * runs on that tiny frame only, never the corpus. Zero joins on the
    * corpus side; scoring 100 TB is exactly one scan. */
  def filterCascade(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val session = df.sparkSession
    import session.implicits._
    val counts = df.select(cascadeStage(rules).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("__n"))
    val total = counts.agg(sum("__n").as("__total"))
    val names = rules.zipWithIndex.map { case (r, i) => (i, r.name) }
      .toDF("stage", "rule")
    // cumulative attrition over the |rules|-row report frame (the
    // unpartitioned window is deliberate: |rules| rows, never the corpus)
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    names.join(counts, Seq("stage"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_dropped", coalesce(col("__n"), lit(0L)))
      .withColumn("n_remaining", col("__total") - sum("n_dropped").over(w))
      .select(col("stage"), col("rule"), col("n_dropped"), col("n_remaining"))
  }

  /** Rows passing every cascade rule — the production filter the
    * [[filterCascade]] report describes. Defined as stage == −1, so a
    * null-valued metric keeps the row here exactly as it is charged to
    * no rule there (the two views never disagree on a document). One
    * row-local filter: zero shuffles, pushes past column pruning. */
  def cascadeSurvivors(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    df.filter(cascadeStage(rules) === -1)
  }

  /** A full report: row rules in one pass + key/reference checks, unioned. */
  def report(df: DataFrame, rowRules: Seq[Rule],
             keyCols: Option[Seq[String]] = None,
             refs: Seq[(String, DataFrame, String)] = Nil): DataFrame = {
    val parts =
      (if (rowRules.nonEmpty) Seq(rowChecks(df, rowRules)) else Nil) ++
        keyCols.map(k => uniqueKey(df, k)).toSeq ++
        refs.map { case (fk, dim, dk) => refIntegrity(df, fk, dim, dk) }
    require(parts.nonEmpty, "at least one check")
    parts.reduce(_ unionByName _)
  }

  /** Z-score standardization of numeric feature columns — the
    * normalization pass before training a (quality) classifier on
    * per-document features: ONE aggregate computes every column's mean
    * and population stddev in a single codegen'd pass, broadcasts back
    * as a 1-row frame, and each row standardizes with no second shuffle —
    * the same measure-then-broadcast shape as percentile binning, never a
    * per-column pass or a sort. Adds `z_<col>` per input column (round
    * `precision` so an external replay of the same arithmetic agrees);
    * constant columns (stddev 0) map to 0 rather than NaN; null features
    * stay null. */
  def standardize(df: DataFrame, cols: Seq[String],
                  precision: Int = 4): DataFrame = {
    require(cols.nonEmpty, "at least one feature column")
    val clash = cols.map("z_" + _).filter(df.columns.contains)
    require(clash.isEmpty, s"output column(s) already present: ${clash.mkString(", ")}")
    val aggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"__m_$c"), stddev_pop(col(c)).as(s"__s_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    cols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"z_$c",
        round(when(col(s"__s_$c") === 0, lit(0.0))
          .otherwise((col(c) - col(s"__m_$c")) / col(s"__s_$c")), precision))
    }.drop(cols.flatMap(c => Seq(s"__m_$c", s"__s_$c")): _*)
  }

  /** Batch gradient-descent logistic-regression FIT — the training half
    * of the quality-classifier story ([[standardize]] builds the
    * features, this learns the weights, [[scoreLinear]] serves them):
    * full-batch GD from zero weights, `iters` fixed iterations at exact
    * binary `step`. Distillation of a hard rule (or human labels) into
    * a soft scorer is exactly how CCNet/fastText-style gates are built.
    *
    * Deterministic by construction: each iteration is ONE codegen'd
    * aggregate computing every mean gradient (map-side partials — the
    * corpus is never collected), gradients round to 4 decimals (the
    * suite's float-mean discipline: engine partial-sum order drifts at
    * ~1e-14, far inside the rounding), and the weight update
    * w − step·g is plain IEEE arithmetic an external engine replays
    * bit-identically when `step` is a power of two. Weights live on the
    * driver between iterations (|features|+1 doubles — the same
    * bounded-driver-state contract as k-means centroids); total cost is
    * `iters` scans, zero shuffles beyond each 1-row rollup. Null
    * features contribute 0, matching [[scoreLinear]]'s null-as-mean.
    * Returns (weights in featureCols order, bias). */
  def fitLogistic(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  iters: Int, step: Double): (Seq[Double], Double) = {
    require(featureCols.nonEmpty, "at least one feature")
    require(iters > 0 && step > 0)
    // Plan-cost amortization (optimization r20): every GD iteration is
    // its own action, and Catalyst re-analyzes the input's FULL lineage
    // per action — for z-feature frames derived from text (regex
    // metrics, standardize's stat crossJoin) the per-iteration planning
    // rivaled the gradient scan itself at gate scale. An eager
    // localCheckpoint of the projected (features, label) frame truncates
    // the lineage once; each iteration then plans a scan-of-RDD + one
    // aggregate. The checkpoint materializes the same rows with the same
    // partitioning the caller's persisted frame would have served the
    // aggregate, so the round-4 mean-gradient chain the oracle unrolls
    // is untouched.
    val base = graft.GraftCache.checkpoint(
      df.select((featureCols :+ labelCol).map(col): _*))
    var w = Vector.fill(featureCols.size)(0.0)
    var b = 0.0
    for (_ <- 1 to iters) {
      val margin = featureCols.zip(w).foldLeft(lit(b): Column) {
        case (acc, (c, wi)) => acc + coalesce(col(c), lit(0.0)) * lit(wi)
      }
      val err = lit(1.0) / (lit(1.0) + exp(-margin)) -
        col(labelCol).cast("double")
      val gs = featureCols.map(c =>
        round(avg(err * coalesce(col(c), lit(0.0))), 4)) :+
        round(avg(err), 4)
      val g = base.agg(gs.head, gs.tail: _*).head()
      w = w.indices.map(i => w(i) - step * g.getDouble(i)).toVector
      b = b - step * g.getDouble(featureCols.size)
    }
    (w, b)
  }

  /** One-vs-rest multiclass [[fitLogistic]] with BATCHED iterations: per
    * GD step, ONE scan computes every class's full gradient vector (an
    * `__err_<k>` projection per class — each the bias-first sigmoid
    * margin — then |classes|·(|features|+1) simple mean aggregates), so
    * a K-class fit costs `iters` driver round-trips instead of K·iters
    * (the x111 batched-selection move applied to training; measured 3×
    * wall-clock on the x119 gate, where per-job overhead dominated the
    * tiny per-scan compute). Arithmetic is [[fitLogistic]]'s verbatim —
    * the same round-4 mean gradients and power-of-two updates — so each
    * class's weights land exactly where K independent fits land, and an
    * oracle replaying K independent chains agrees bit-for-bit. Returns
    * (class → (weights, bias)) in `classes` order. */
  def fitLogisticOvr(df: DataFrame, featureCols: Seq[String],
                     classCol: String, classes: Seq[String], iters: Int,
                     step: Double): Seq[(String, (Seq[Double], Double))] = {
    require(featureCols.nonEmpty, "at least one feature")
    require(classes.nonEmpty, "at least one class")
    require(iters > 0 && step > 0)
    // Same lineage truncation as [[fitLogistic]] — the OvR fit pays
    // K·(|features|+1) aggregates per action, so the per-iteration
    // re-analysis of a deep input lineage compounded K-fold on the
    // x119/pl16 gates.
    val base = graft.GraftCache.checkpoint(
      df.select((featureCols :+ classCol).map(col): _*))
    val n = featureCols.size
    val ws = Array.fill(classes.size)(Vector.fill(n)(0.0))
    val bs = Array.fill(classes.size)(0.0)
    for (_ <- 1 to iters) {
      val errCols = classes.zipWithIndex.map { case (cls, k) =>
        val margin = featureCols.zip(ws(k)).foldLeft(lit(bs(k)): Column) {
          case (acc, (c, wi)) => acc + coalesce(col(c), lit(0.0)) * lit(wi)
        }
        (lit(1.0) / (lit(1.0) + exp(-margin)) -
          (col(classCol) === cls).cast("double")).as(s"__err_$k")
      }
      val errFrame = base.select(
        featureCols.map(col) ++ errCols: _*)
      val gs = classes.indices.flatMap { k =>
        featureCols.map(c =>
          round(avg(col(s"__err_$k") * coalesce(col(c), lit(0.0))), 4)) :+
          round(avg(col(s"__err_$k")), 4)
      }
      val g = errFrame.agg(gs.head, gs.tail: _*).head()
      classes.indices.foreach { k =>
        val off = k * (n + 1)
        ws(k) = ws(k).indices
          .map(i => ws(k)(i) - step * g.getDouble(off + i)).toVector
        bs(k) = bs(k) - step * g.getDouble(off + n)
      }
    }
    classes.zipWithIndex.map { case (cls, k) => cls -> (ws(k), bs(k)) }
  }

  /** Fixed-weight linear quality scorer — the inference half of the
    * fastText/CCNet-style quality classifier whose training input
    * [[standardize]] builds: score = sigmoid(w · features + b), gate at
    * `threshold` on the ROUNDED score (both engines compare the same
    * 6-decimal value, so the boundary cannot flip on a ulp). Weights are
    * an ORDERED Seq, not a Map: the dot product folds left in the given
    * order so an external engine replaying the identical float addition
    * sequence agrees bit-for-bit before rounding. Null features
    * contribute 0 — in z-space that is the mean, so a short document
    * missing its bigram signal scores on its remaining features instead
    * of nulling out. Everything is one row-local codegen'd expression:
    * zero shuffles, scoring 100 TB is exactly one scan. */
  def scoreLinear(df: DataFrame, weights: Seq[(String, Double)],
                  bias: Double, threshold: Double = 0.5): DataFrame = {
    require(weights.nonEmpty, "at least one weight")
    require(!df.columns.contains("quality_score") &&
      !df.columns.contains("quality_pass"), "output columns already present")
    val dot = weights.map { case (c, w) =>
      coalesce(col(c), lit(0.0)) * lit(w)
    }.reduce(_ + _) + lit(bias)
    df.withColumn("quality_score",
        round(lit(1.0) / (lit(1.0) + exp(-dot)), 6))
      .withColumn("quality_pass", col("quality_score") >= threshold)
  }
}
