package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import graft.operators.{BpeTrainer, Dedup, Graph}
import graft.streaming.EventStreams

/** Release safety of the fixpoint loops: every block a loop creates is
  * tracked by [[GraftCache]], a loop frees each superseded round as soon
  * as its successor is materialized, and `release` frees the rest. */
class GraftCacheReleaseSpec extends SparkSpec {

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `fit` (which must consume its result) and asserts that the RDDs
    * it left persisted are bounded by `liveSet` — the loop's final round
    * plus its edge frame, never its round count — and that a blocking
    * release leaves none of them. */
  private def assertReleaseSafe(liveSet: Int)(fit: => Unit): Unit = {
    GraftCache.release(blocking = true)
    val before = persistentRdds
    fit
    val held = persistentRdds -- before
    assert(held.size <= liveSet,
      s"${held.size} operator RDDs still persisted after the fit; live set is $liveSet")
    GraftCache.release(blocking = true)
    assert((persistentRdds -- before).isEmpty,
      "release must free every block the operator created")
  }

  /** An undirected path 0 - 1 - ... - (n-1): min-label propagation needs
    * about n rounds to converge on it. */
  private def path(n: Long) = {
    import spark.implicits._
    (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
  }

  private def components(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRankPpm holds the edge frame and the final ranks, not every round") {
    import spark.implicits._
    val nodes = (0L until 20L).toDF("id")
    val edges = (0L until 20L).flatMap(i => Seq((i, (i + 1) % 20), (i, (i * 7) % 20)))
      .toDF("src", "dst")
    assertReleaseSafe(liveSet = 2) {
      assert(Graph.pageRankPpm(nodes, edges, 8).collect().length == 20)
    }
  }

  test("connectedComponents holds the edge list and the final round") {
    assertReleaseSafe(liveSet = 2) {
      assert(components(Dedup.connectedComponents(path(12), "id_a", "id_b"))
        == (0L until 12L).map(_ -> 0L).toMap)
    }
  }

  test("connectedComponentsStar holds its input edges and the final round") {
    assertReleaseSafe(liveSet = 2) {
      assert(components(Dedup.connectedComponentsStar(path(12), "id_a", "id_b"))
        == (0L until 12L).map(_ -> 0L).toMap)
    }
  }

  test("incrementalComponents holds its batch-sized frames and the merge " +
       "loop's final round") {
    import spark.implicits._
    // 12 two-node components; the new edges chain them into one, so the
    // merge loop over the component graph runs about 12 rounds
    val labels = (0L until 24L).map(i => (i, i - i % 2)).toDF("id", "component")
    val newEdges = (0L until 11L).map(k => (2 * k + 1, 2 * k + 2)).toDF("id_a", "id_b")
    // e, ends, known, endLabels and compEdges, plus the loop's edge list
    // and final round
    assertReleaseSafe(liveSet = 7) {
      assert(components(Dedup.incrementalComponents(labels, newEdges, "id_a", "id_b"))
        == (0L until 24L).map(_ -> 0L).toMap)
    }
  }

  test("learnMerges holds only its final round") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b c d c d"), (2L, "a b c d e f a b"))
      .toDF("doc_id", "text")
    assertReleaseSafe(liveSet = 1) {
      assert(BpeTrainer.learnMerges(docs, "doc_id", "text", 5).count() >= 2)
    }
  }

  test("scoped frees what its body registered and nothing else") {
    import spark.implicits._
    GraftCache.release(blocking = true)
    val outside = GraftCache.checkpoint((1 to 5).toDF("n"))
    val inside = GraftCache.scoped(GraftCache.persist((1 to 5).toDF("m")))
    assert(inside.count() == 5) // unpersisted, so it recomputes
    assert(inside.storageLevel == StorageLevel.NONE)
    assert(GraftCache.trackedCount == 1)
    assert(outside.count() == 5)
    GraftCache.release(blocking = true)
    // a released checkpoint cannot recompute: release only after the
    // result built on it is consumed
    intercept[Exception](outside.collect())
  }

  test("a tracked checkpoint built before a stream starts survives its " +
       "micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    GraftCache.release(blocking = true)
    val baseline = GraftCache.checkpoint(
      Seq((1L, "en", 10L), (2L, "fr", 20L), (3L, "en", 30L))
        .toDF("doc_id", "lang", "n_chars"))
    val ms = MemoryStream[(Long, String, Long)]
    val tmp = java.nio.file.Files.createTempDirectory("graft-release-stream")
    val outDir = tmp.resolve("log").toString
    val q = EventStreams.monitorDrift(ms.toDF().toDF("doc_id", "lang", "n_chars"),
      baseline, "lang", "n_chars", tmp.resolve("ckpt").toString, outDir)
    try {
      ms.addData((4L, "en", 5L)); q.processAllAvailable()
      ms.addData((5L, "de", 7L)); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception.toString)
    assert(spark.read.parquet(outDir).select("batch_id").distinct().count() == 2)
    assert(baseline.count() == 3)
    assert(GraftCache.trackedCount == 1)
    GraftCache.release(blocking = true)
  }
}
