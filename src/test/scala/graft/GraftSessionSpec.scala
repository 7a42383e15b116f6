package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session: every main gets its SparkSession from
  * [[GraftSession]], so a second `SparkSession.builder` site in src/main
  * — and with it session settings drifting apart between the mains —
  * fails the build's tests. */
class GraftSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected the source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sites =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("SparkSession.builder") =>
              s"${root.relativize(f)}:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(sites.size == 1 && sites.head.startsWith("graft/GraftSession.scala:"),
      s"SparkSession.builder sites: ${sites.mkString(", ")}")
  }
}
