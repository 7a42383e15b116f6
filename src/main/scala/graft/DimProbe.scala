package graft

import org.apache.spark.sql.functions._

/** Dev-only DIMENSIONALITY probe (round-13 verdict task 6): the gate
  * embeddings are 64-dim, production text embeddings are 384–1536 — this
  * harness times each PQ-suite stage at dim=64 and a deterministic
  * `bigDim` expansion (default 768) of the SAME rows, so the dim-scaling
  * claims get a measured point like the 10× row ScaleProbe gave the
  * row-scaling claims. Expected: encode / LUT / serve / training all
  * ~linear in dim (ratio ≈ bigDim/64, the `/lin` column ≈ 1), and the
  * fused-Lloyd driver loop stays bounded (k×dim doubles on the driver —
  * megabytes, not data).
  *
  * The expansion TILES each vector bigDim/64 times
  * (`flatten(array_repeat(embedding, f))`): every per-element cost
  * (distance folds, LUT builds, encode argmins) is value-independent, so
  * tiling measures exactly the dim axis while keeping the build
  * deterministic. Row count is multiplied `rowFactor`× first (fresh ids,
  * the ScaleProbe move) so stage timings sit well above scheduler noise.
  *
  * Usage: runMain graft.DimProbe [bigDim] [rowFactor]
  * Not part of the library surface.
  */
object DimProbe {
  val SrcDir = "/root/testdata/sf0.1"
  val BaseDim = 64

  def main(args: Array[String]): Unit = {
    val bigDim = args.headOption.flatMap(_.toIntOption).getOrElse(768)
    val rowFactor = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(10)
    require(bigDim % BaseDim == 0, s"bigDim must be a multiple of $BaseDim")
    val spark = GraftSession.local(defaultCpus = 32)

    val outDir = s"${sys.props("java.io.tmpdir")}/graft_dimprobe_${bigDim}x$rowFactor"
    if (!new java.io.File(s"$outDir/d$BaseDim.parquet").exists()) {
      println(s"building ${rowFactor}x rows at dim $BaseDim and $bigDim under $outDir ...")
      val e = spark.read.parquet(s"$SrcDir/embeddings.parquet")
      val offset = e.agg(max("vec_id")).head.getLong(0) + 1
      val rows = (0 until rowFactor).map { i =>
        e.select((col("vec_id") + lit(i * offset)).as("vec_id"), col("embedding"))
      }.reduce(_ unionByName _).repartition(32)
      rows.write.mode("overwrite").parquet(s"$outDir/d$BaseDim.parquet")
      rows.select(col("vec_id"),
          flatten(array_repeat(col("embedding"), bigDim / BaseDim))
            .as("embedding"))
        .write.mode("overwrite").parquet(s"$outDir/d$bigDim.parquet")
    }

    val ops = graft.operators.VectorOps
    val m = 8
    val ks = 16
    /** Each stage is a fresh end-to-end unit at the given dim; artifacts
      * land under its own tmp dir, swept between timings. */
    def stages(dim: Int): Seq[(String, () => Unit)] = {
      val e = spark.read.parquet(s"$outDir/d$dim.parquet")
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-dimprobe-idx$dim").toString
      var cbs: Seq[Seq[(Long, Seq[Double])]] = null
      Seq(
        "coarse_train_k8" -> (() => {
          ops.kmeansCentroids(e, "vec_id", "embedding", 8, 2): Unit
        }),
        // the large-k broadcast-join assignment (ArgMinCells) at this dim
        "bigk_assign_k256" -> (() => {
          val cents = e.filter(col("vec_id") < 256)
            .select(col("vec_id").cast("long").as("cid"),
              transform(col("embedding"), _.cast("double")).as("c"))
          ops.assignToCentroids(e, "vec_id", "embedding", cents)
            .write.format("noop").mode("overwrite").save()
        }),
        "pq_train_m8_ks16" -> (() => {
          cbs = ops.pqCodebooks(e, "vec_id", "embedding", dim, m, ks, 2)
        }),
        "pq_encode_store" -> (() => {
          ops.writePqIndex(e, "vec_id", "embedding", cbs, idx)
        }),
        "adc_serve_topk" -> (() => {
          ops.pqTopKOverCodes(e, "vec_id", "embedding", 0L, 10,
              ops.readPqCodebooks(spark, idx),
              spark.read.parquet(s"$idx/codes"))
            .write.format("noop").mode("overwrite").save()
        }))
    }

    def timeAll(dim: Int): Map[String, Double] =
      stages(dim).map { case (name, body) =>
        val t0 = System.nanoTime()
        body()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftCache.release(blocking = true)
        name -> sec
      }.toMap

    timeAll(BaseDim) // warmup pass (JVM/codegen) at the small dim
    val base = timeAll(BaseDim)
    val big = timeAll(bigDim)
    val lin = bigDim.toDouble / BaseDim
    println(f"${"stage"}%-20s ${s"d$BaseDim"}%8s ${s"d$bigDim"}%8s  ratio   /lin")
    stages(BaseDim).map(_._1).foreach { s =>
      val r = big(s) / base(s)
      println(f"$s%-20s ${base(s)}%7.2fs ${big(s)}%7.2fs ${r}%5.1fx ${r / lin}%6.2f")
    }
    spark.stop()
  }
}
