package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit tool: print the formatted physical plan (and optionally run)
  * any declared query. Usage:
  *   runMain graft.Explain <queryName> [sfDir] [--run]
  *   runMain graft.Explain --audit [sfDir]     # all queries: shuffles/joins
  * With no arguments, lists all declared queries.
  */
object Explain {

  private def audit(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins._
    import graft.plans.PlanNodes
    println(f"${"query"}%-26s shuffles  bhj  smj  bnlj  cartesian")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val nodes = PlanNodes.allNodes(PlanNodes.finalPlan(df))
        def n(pred: Any => Boolean) = nodes.count(pred)
        println(f"$name%-26s ${n(_.isInstanceOf[ShuffleExchangeExec])}%8d " +
          f"${n(_.isInstanceOf[BroadcastHashJoinExec])}%4d " +
          f"${n(_.isInstanceOf[SortMergeJoinExec])}%4d " +
          f"${n(_.isInstanceOf[BroadcastNestedLoopJoinExec])}%5d " +
          f"${n(_.isInstanceOf[CartesianProductExec])}%9d")
      } catch { case e: Throwable => println(f"$name%-26s ERROR ${e.getMessage}") }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(defaultCpus = 4)
    if (args.isEmpty) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    } else if (args(0) == "--audit") {
      audit(spark, if (args.length > 1) args(1) else "/root/testdata/sf0.001")
    } else {
      val name = args(0)
      val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1)
                  else "/root/testdata/sf0.001"
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"=== $name @ $sfDir ===")
      df.explain("formatted")
      if (args.contains("--run")) {
        // noop write, like Bench: count() would let Catalyst prune
        // unreferenced (often the expensive) columns. Three passes so the
        // first (JVM/codegen warmup) is distinguishable from steady state.
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"rows=${df.count()} times=${times.map(t => f"$t%.2f").mkString("s, ")}s (noop-materialized)")
      }
    }
    spark.stop()
  }
}
