package graft

/** The two package-private pieces of `graft` the benchmark reuses. Lives in
  * package `graft` only to reach them. */
object PerfbenchAccess {

  /** The oracle SQL of the named queries, in the form Verify dumps it for
    * the DuckDB replay (shared CTEs marked `AS MATERIALIZED`). */
  def oracles(names: Seq[String]): Map[String, String] =
    SparkEntry.oracleSql.collect {
      case (k, v) if names.contains(k) => k -> Verify.materializeSharedCtes(v)
    }

  /** Bench's own between-query hygiene: this process's sink tree and
    * warehouse tables go, then dirty pages are flushed. */
  def sweep(spark: org.apache.spark.sql.SparkSession): Unit =
    BenchHygiene.sweep(spark)
}
