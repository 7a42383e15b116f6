package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Mark every multi-referenced CTE in an oracle's WITH clause
    * `AS MATERIALIZED` before dumping — a pure planner hint (identical
    * results), but the difference between the replay finishing and the
    * round losing its correctness artifact: DuckDB inlines plain CTEs
    * at every reference site, so an oracle that replays a shared
    * k-means/PQ chain through two consumers re-plans and re-runs the
    * whole chain per reference (measured: pl15_training_pairs 388.7s →
    * 1.1s at sf0.01 from this transform alone; the full 228-oracle
    * replay 848.5s → the driver's budget). Single-reference CTEs stay
    * inlined — materializing those only costs. Guards: definition
    * sites only (`name AS (`), never WINDOW clauses (`WINDOW w AS (`
    * is a window definition, not a CTE), never already-MATERIALIZED
    * ones (the pattern cannot match them). Idempotent. */
  private[graft] def materializeSharedCtes(sql: String): String = {
    val defSite = """(?<!WINDOW )\b(\w+) AS \(""".r
    val names = defSite.findAllMatchIn(sql).map(_.group(1)).toVector
    val multi = names.filter { n =>
      // def site + >=2 reference sites => worth materializing
      ("""\b""" + java.util.regex.Pattern.quote(n) + """\b""").r
        .findAllMatchIn(sql).size > 2
    }.toSet
    multi.foldLeft(sql) { (acc, n) =>
      acc.replaceAll(
        """(?<!WINDOW )\b""" + java.util.regex.Pattern.quote(n) + """ AS \(""",
        n + " AS MATERIALIZED (")
    }
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query ...] — extra args select a query
    // subset (dev-only targeted runs; the driver always passes exactly 2).
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.local(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json is written FIRST: it depends on nothing the queries
    // compute, and writing it last meant a single wedged query lost the
    // WHOLE correctness artifact (no oracle file → nothing to compare the
    // finished per-query dumps against) — the same shared-fate fragility
    // the round-10 bench died of. Written first, a killed run still
    // yields a valid partial artifact.
    //
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(materializeSharedCtes(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query wall-clock watchdog: a query that hangs (vs throws — the
    // catch below handles those) would stall the dump until the driver's
    // round budget kills it. Each query runs on its OWN (daemon) worker
    // thread under its own job group with interrupt-on-cancel; past the
    // bound its Spark jobs are cancelled AND the worker thread is
    // interrupted — cancelJobGroup only reaches executor-side work, so a
    // query wedged driver-side (plan building, a JDBC connect) needs the
    // thread interrupt, and a worker that survives both is a daemon so it
    // can never block JVM exit or outlive spark.stop() invisibly
    // (round-11 advice). 10 min default per query vs ~2s typical at
    // sf0.01 — trips only on a genuine wedge.
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_SEC", "600").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        @volatile var workerErr: Throwable = null
        val worker = new Thread(() => {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable => workerErr = e }
          finally spark.sparkContext.clearJobGroup()
        }, s"verify-$name")
        worker.setDaemon(true)
        worker.start()
        worker.join(timeoutSec * 1000)
        if (worker.isAlive) {
          spark.sparkContext.cancelJobGroup(name)
          worker.join(10000) // executor-side cancel usually unwedges it
          if (worker.isAlive) worker.interrupt() // driver-side wedge
          worker.join(5000)
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s; " +
            s"cancelled${if (worker.isAlive) " (worker still wedged; daemon)" else ""}")
        } else if (workerErr != null) throw workerErr
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Operators that persist intermediates (via GraftCache) would
      // otherwise accumulate cached blocks across all queries of the dump;
      // clearCache is the belt-and-braces sweep for anything untracked.
      finally { GraftCache.release(); spark.catalog.clearCache() }
    }
    spark.stop()
  }
}
