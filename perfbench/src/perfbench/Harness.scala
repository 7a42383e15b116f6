package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.{GraftCache, PerfbenchAccess, SparkEntry}
import graft.sources.Tables

/** The benchmark's client: one thread, one closed loop, one op at a time.
  *
  * An op is one `SparkEntry.queries` entry, measured in four steps:
  * construct (the query function builds its DataFrame, running every eager
  * fit, checkpoint and write), plan (`queryExecution.executedPlan`), exec
  * (`collect()` of that same QueryExecution, so planning is paid once) and
  * release (`GraftCache.release(blocking = true)`). Between ops, off the
  * clock, the harness checks the result, measures the sink tree and
  * sweeps sink output and caches, so every op starts from the same state.
  *
  * Pass 0 is the cold pass of a fresh JVM, passes 1 and 2 unmeasured
  * warm-ups; measured warm passes follow while the measuring window lasts,
  * at least [[minWarm]] of them. With `trace=1` the measured passes alternate
  * untraced, traced, traced, untraced, ... with the [[Ledger]] listener
  * and step tags installed on the traced ones, which gives the tracing
  * overhead. Writes `result.json` (and in trace mode
  * `spans.jsonl`) to `out`; run.py turns them into metrics.
  *
  * Args: key=value pairs — input, ops (comma list, in pass order),
  * seconds, trace, cores, out, t0_ms (process launch, epoch ms),
  * warehouse, run. */
object Harness {

  /** Measured warm passes per run, untraced and traced: three give a
    * median that one slow pass cannot move; four give two of each kind. */
  def minWarm(trace: Boolean): Int = if (trace) 4 else 3

  /** Pass 0 is cold; passes before this one warm up and are not measured. */
  val FirstMeasured = 3

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  private def now: Long = System.nanoTime()

  final case class OpSample(op: String, pass: Int, construct: Double,
                            plan: Double, exec: Double, release: Double,
                            wall: Double, error: Option[String])

  def args(argv: Array[String]): Map[String, String] =
    argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap

  /** Set-up: from process launch (`t0_ms`) until the session is built,
    * `Tables.configure` has run and every input resolves. Returns the
    * session and the set-up time in seconds. */
  def setUp(a: Map[String, String]): (SparkSession, Double) = {
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configure(spark)
    resolveInputs(spark, a("input"))
    (spark, (System.currentTimeMillis() - a("t0_ms").toLong) / 1e3)
  }

  def main(argv: Array[String]): Unit = {
    val a = args(argv)
    val (spark, setupS) = setUp(a)
    val input = a("input")
    val ops = a("ops").split(",").toSeq
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val pid = ProcessHandle.current().pid()
    val sinkRoot = new File(s"${sys.props("java.io.tmpdir")}/graft_sinks_run$pid")
    val warehouse = new File(a("warehouse"))
    val ledger = new Ledger
    val spans = new Spans(a.getOrElse("run", "run"))

    val samples = mutable.ArrayBuffer.empty[OpSample]
    val coldFp = mutable.Map.empty[String, String]
    // per traced pass: metric -> value summed over the pass's ops
    val layerPasses = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val untracedPassS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    var untaggedOps = 0

    def runPass(pass: Int, traced: Boolean, measured: Boolean): Double = {
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = acc(k) += v
      if (traced) sc.addSparkListener(ledger)
      val passSpan = spans.open("pass", 0, "", now)
      if (traced) {
        ledger.current = ""
        sc.setLocalProperty(Ledger.StepKey, "|resolve")
        val r0 = now
        add("sources.resolve_s", resolveInputs(spark, input))
        spans.add("sources.resolve", passSpan, "", r0, now)
        sc.setLocalProperty(Ledger.StepKey, null)
        org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
        ledger.take("", "resolve")
      }
      var passS = 0.0
      ops.foreach { op =>
        def tag(step: String): Unit =
          if (traced) sc.setLocalProperty(Ledger.StepKey, s"$op|$step")
        ledger.current = op
        val gc0 = gcMs
        val t0 = now
        var (t1, t2, t3, t4) = (t0, t0, t0, t0)
        var tracked = 0
        var plan: SparkPlan = null
        var rows: Array[Row] = null
        var df: DataFrame = null
        val error = try {
          tag("construct")
          df = queries(op)(spark, input)
          t1 = now
          tag("plan")
          plan = df.queryExecution.executedPlan
          t2 = now
          tag("exec")
          rows = df.collect()
          t3 = now
          tag("release")
          tracked = GraftCache.trackedCount
          GraftCache.release(blocking = true)
          t4 = now
          None
        } catch {
          case e: Throwable =>
            t4 = now
            GraftCache.release(blocking = true)
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        } finally {
          tag("offclock")
        }
        val gc1 = gcMs
        val s = OpSample(op, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          (t4 - t3) / 1e9, (t4 - t0) / 1e9, error)
        passS += s.wall

        // ---- off the clock ----
        val checkErr = error.orElse {
          val fp = fingerprint(rows)
          if (pass == 0) {
            coldFp(op) = fp
            spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
              .write.mode("overwrite").parquet(out.resolve(s"results/$op").toString)
            None
          } else if (!coldFp.get(op).contains(fp)) {
            Some("result differs from the cold pass")
          } else None
        }
        samples += s.copy(error = checkErr)
        val retainedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        val (sinkFiles, sinkBytes) = treeSize(sinkRoot) + treeSize(warehouse)
        PerfbenchAccess.sweep(spark)
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

        if (traced) {
          org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
          val opSpan = spans.add("op", passSpan, op, t0, t4)
          Seq(("queries.construct", t0, t1), ("plans.plan", t1, t2),
            ("exec.exec", t2, t3), ("cache.release", t3, t4))
            .foreach { case (n, b, e) => spans.add(n, opSpan, op, b, e) }

          val c = ledger.take(op, "construct")
          val p = ledger.take(op, "plan")
          val x = ledger.take(op, "exec")
          val r = ledger.take(op, "release")
          ledger.take(op, "offclock")
          val u = ledger.untagged()
          if (u.jobs > 0) untaggedOps += 1
          add("trace.untagged_jobs", u.jobs.toDouble)
          add("trace.task_ms_all", Seq(c, p, x, r, u).map(_.taskMs).sum.toDouble)
          add("trace.task_ms_untagged", u.taskMs.toDouble)
          add("queries.construct_s", s.construct)
          add("queries.construct_jobs", c.jobs.toDouble)
          add("queries.construct_sql_execs", c.sqlExecs.size.toDouble)
          add("queries.construct_task_s", c.taskMs / 1e3)
          add("queries.construct_gc_s", c.gcMs / 1e3)
          add("plans.plan_s", s.plan)
          if (plan != null) {
            val (nodes, exchanges, custom) = planStats(plan)
            add("plans.nodes", nodes)
            add("plans.exchanges", exchanges)
            add("plans.custom_nodes", custom)
          }
          add("exec.exec_s", s.exec)
          add("exec.jobs", (x.jobs + p.jobs).toDouble)
          add("exec.tasks", (x.tasks + p.tasks).toDouble)
          add("exec.task_s", (x.taskMs + p.taskMs) / 1e3)
          add("exec.shuffle_write_mb", (x.shuffleWriteBytes + p.shuffleWriteBytes) / 1048576.0)
          add("exec.spill_mb", Seq(c, p, x, r).map(_.spillBytes).sum / 1048576.0)
          add("exec.gc_s", (x.gcMs + p.gcMs) / 1e3)
          add("sources.input_mb", Seq(c, p, x, r).map(_.inputBytes).sum / 1048576.0)
          add("sources.input_rows", Seq(c, p, x, r).map(_.inputRecords).sum.toDouble)
          add("sinks.output_mb", sinkBytes / 1048576.0)
          add("sinks.files", sinkFiles.toDouble)
          add("cache.release_s", s.release)
          add("cache.tracked", tracked.toDouble)
          add("cache.retained_mb", retainedBytes / 1048576.0)
          add("jvm.gc_s", (gc1 - gc0) / 1e3)
          sc.setLocalProperty(Ledger.StepKey, null)
        }
      }
      spans.close(passSpan, now)
      if (traced) {
        sc.removeSparkListener(ledger)
        ledger.clear()
        acc("queries.construct_slot_util") =
          acc("queries.construct_task_s") / math.max(acc("queries.construct_s") * cores, 1e-9)
        acc("exec.slot_util") = acc("exec.task_s") / math.max(acc("exec.exec_s") * cores, 1e-9)
        // share of the pass's executor task time no step of its op accounts for
        acc("trace.untagged_task_ratio") =
          acc("trace.task_ms_untagged") / math.max(acc("trace.task_ms_all"), 1.0)
        Seq("trace.task_ms_all", "trace.task_ms_untagged").foreach(acc.remove)
        if (measured) layerPasses += acc
      }
      if (measured) (if (traced) tracedPassS else untracedPassS) += passS
      passS
    }

    val coldS = runPass(0, traced = trace, measured = false)
    // Unmeasured passes let the JIT finish with the hot paths the cold pass
    // found; without them the first warm passes run 10-30 % slow and the
    // measured passes trend downwards.
    (1 until FirstMeasured).foreach(runPass(_, traced = false, measured = false))
    val warmStart = now
    val warmPassS = mutable.ArrayBuffer.empty[Double]
    def elapsed = (now - warmStart) / 1e9
    def typicalPass = warmPassS.sorted.lift(warmPassS.size / 2).getOrElse(0.0)
    while (warmPassS.size < minWarm(trace) || elapsed + typicalPass <= seconds)
      warmPassS += runPass(FirstMeasured + warmPassS.size, measured = true,
        traced = trace && Set(1, 2)(warmPassS.size % 4))

    // Heap after a full GC, block-manager storage included: the least of
    // three collections, so a reference still queued for cleanup does not
    // count as live.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(
      PerfbenchAccess.oracles(ops).map { case (k, v) => k -> Json.str(v) }))
    if (trace) spans.write(out.resolve("spans.jsonl"))

    def nums(xs: Iterable[Double]) = Json.arr(xs.map(Json.num))
    val layers = layerPasses.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil).map { k =>
      k -> nums(layerPasses.map(_(k)))
    }
    val result = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "cold_pass_s" -> Json.num(coldS),
      "warm_pass_s" -> nums(warmPassS),
      "traced_pass_s" -> nums(tracedPassS),
      "untraced_pass_s" -> nums(untracedPassS),
      "heap_mb" -> Json.num(heapMb),
      "untagged_ops" -> untaggedOps.toString,
      "layers" -> Json.obj(layers),
      "samples" -> Json.arr(samples.map { s =>
        Json.obj(Seq("op" -> Json.str(s.op), "pass" -> s.pass.toString,
          "construct" -> Json.num(s.construct), "plan" -> Json.num(s.plan),
          "exec" -> Json.num(s.exec), "release" -> Json.num(s.release),
          "wall" -> Json.num(s.wall),
          "error" -> s.error.map(Json.str).getOrElse("null")))
      })))
    Files.writeString(out.resolve("result.json"), result)
    spark.stop()
  }

  /** Every table accessor of the sources layer plus its schema. */
  def resolveInputs(spark: SparkSession, dir: String): Double = {
    val t0 = now
    val t = Tables(spark, dir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings).foreach(_.schema)
    (now - t0) / 1e9
  }

  /** (nodes, exchanges, nodes from the program's own plan package) of the
    * final physical plan, adaptive stages and subqueries included. */
  private def planStats(root: SparkPlan): (Double, Double, Double) = {
    var nodes, exchanges, custom = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        nodes += 1
        p match {
          case _: Exchange | _: ReusedExchangeExec => exchanges += 1
          case _ =>
        }
        if (p.getClass.getName.startsWith("graft.")) custom += 1
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    (nodes.toDouble, exchanges.toDouble, custom.toDouble)
  }

  private def treeSize(f: File): (Int, Long) =
    if (!f.exists) (0, 0L)
    else if (f.isFile) (1, f.length)
    else Option(f.listFiles).toSeq.flatten.map(treeSize)
      .foldLeft((0, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }

  private implicit class PairSum(p: (Int, Long)) {
    def +(q: (Int, Long)): (Int, Long) = (p._1 + q._1, p._2 + q._2)
  }

  /** Order-sensitive digest of a result; doubles at 10 significant digits,
    * the precision the oracle check compares at. */
  private def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => String.format("%.10g", d)
      case f: Float => String.format("%.6g", f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    val md = MessageDigest.getInstance("MD5")
    rows.foreach { r => md.update(canon(r).getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** One more set-up in a fresh JVM, for the median of several: prints
  * `setup_s=<seconds>` and halts at once, so nothing but the set-up runs. */
object SetupProbe {
  def main(argv: Array[String]): Unit = {
    val (_, setupS) = Harness.setUp(Harness.args(argv))
    println(s"setup_s=$setupS")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
