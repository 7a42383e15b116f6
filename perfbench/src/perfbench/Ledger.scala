package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Task and job counters of one step of one op. */
final class StepCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val sqlExecs: mutable.Set[Long] = mutable.Set.empty
}

/** Listener that charges every job and task to the step that submitted it.
  *
  * The harness sets the local property [[Ledger.StepKey]] to `op|step`
  * around each step; Spark copies local properties onto every job the
  * thread submits, broadcast jobs of the same SQL execution included, so
  * the attribution needs no timing heuristics. A job that carries no tag,
  * or the tag of another op than [[current]] (a thread that kept the
  * properties of an earlier op), is work the four steps do not account
  * for; its jobs and task time go to [[untagged]]. */
final class Ledger extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, StepCounters]()

  /** The op the harness is running; set before the op's first step. */
  @volatile var current: String = ""

  private def of(key: String): StepCounters =
    counters.computeIfAbsent(key, _ => new StepCounters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    val key = props.flatMap(p => Option(p.getProperty(Ledger.StepKey)))
      .filter(_.startsWith(current + "|")).getOrElse(Ledger.Untagged)
    js.stageIds.foreach(stageKey.put(_, key))
    val c = of(key)
    c.synchronized {
      c.jobs += 1
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).foreach(c.sqlExecs += _)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val key = stageKey.get(te.stageId)
    val m = te.taskMetrics
    if (key != null && m != null) {
      val c = of(key)
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Counters of `op|step`, removed from the ledger (empty if nothing ran). */
  def take(op: String, step: String): StepCounters =
    Option(counters.remove(s"$op|$step")).getOrElse(new StepCounters)

  /** Counters of the jobs no step of the running op accounts for, removed. */
  def untagged(): StepCounters =
    Option(counters.remove(Ledger.Untagged)).getOrElse(new StepCounters)

  def clear(): Unit = { counters.clear(); stageKey.clear() }
}

object Ledger {
  val StepKey = "perfbench.step"
  private val Untagged = "|untagged"
}

/** One timed interval at a layer boundary. */
final case class Span(id: Long, name: String, parent: Long, op: String,
                      run: String, startNs: Long, endNs: Long) {
  def json: String =
    s"""{"id":$id,"name":${Json.str(name)},"parent":$parent,"op":${Json.str(op)},""" +
      s""""run":${Json.str(run)},"start_ns":$startNs,"end_ns":$endNs}"""
}

/** In-memory span store, written out once when the run ends. A span is
  * opened before its children so they can name it as parent. */
final class Spans(run: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Long, op: String, startNs: Long): Long = {
    buf += Span(buf.size + 1L, name, parent, op, run, startNs, startNs)
    buf.size.toLong
  }

  def close(id: Long, endNs: Long): Unit =
    buf(id.toInt - 1) = buf(id.toInt - 1).copy(endNs = endNs)

  def add(name: String, parent: Long, op: String, startNs: Long, endNs: Long): Long = {
    val id = open(name, parent, op, startNs)
    close(id, endNs)
    id
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, buf.map(_.json).asJava)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
