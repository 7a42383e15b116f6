package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One materialization policy: every cache and eager checkpoint an
  * operator creates goes through [[GraftCache]], so a harness's `release`
  * frees every block the operator made. A raw `.localCheckpoint(`,
  * `.persist(` or `.cache()` in src/main outside GraftCache — a block only
  * the ContextCleaner can reclaim, whenever a GC gets to it — fails the
  * build's tests. Calls spelled `GraftCache.persist(` are the policy
  * itself and do not count as sites. */
class GraftCachePolicySpec extends AnyFunSuite {

  /** The one named exception: `LayoutSink.writeRangeLayout` persists its
    * input for the two scans a single range-partitioned write makes and
    * unpersists it in a `finally` before returning. That cache never
    * outlives the call, so it needs no release handle — and registering
    * it would let a release from another thread drop it mid-write. */
  private val SelfScoped = "graft/sinks/LayoutSink.scala"

  test("raw persist/cache/localCheckpoint appear in src/main only inside " +
       "GraftCache (LayoutSink's self-scoped persist excepted)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected the source tree at ${root.toAbsolutePath}")
    val raw = """\.localCheckpoint\(|\.persist\(|\.cache\(\)""".r
    val walk = Files.walk(root)
    val sites =
      try walk.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") &&
          root.relativize(f).toString != "graft/GraftCache.scala")
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i)
                if raw.findFirstIn(line.replace("GraftCache.persist(", "")).nonEmpty =>
              s"${root.relativize(f)}:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(sites.size <= 1 && sites.forall(_.startsWith(s"$SelfScoped:")),
      s"untracked materialization sites: ${sites.mkString(", ")}")
  }
}
