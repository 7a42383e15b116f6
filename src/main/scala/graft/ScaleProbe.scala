package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scale probe: blows the sf0.1 testdata up by an integer factor
  * (fresh ids per copy; document tokens namespaced per copy so the
  * near-dup screens see a 10× corpus, not 10 exact replicas of one) and
  * times selected queries at BOTH scales, printing the wall-clock
  * scaling ratio per query. The asymptotic claims the suite makes
  * (routed ANN touches ~nprobe/k of the corpus, incremental CC touches
  * the batch, screens are index-bounded) predict sub-linear-to-linear
  * ratios; a super-linear ratio is a scale bug this harness exists to
  * catch before a cluster does. Not part of the library surface.
  *
  * Usage: runMain graft.ScaleProbe [factor] [query ...]
  * Embedding copies keep their float values (pair-distance COST is
  * value-independent); document copies prefix every token with a
  * per-copy tag, so cross-copy Jaccard is 0 and the pair structure
  * scales like a real corpus (per-copy vocabulary, same doc lengths).
  */
object ScaleProbe {
  val SrcDir = "/root/testdata/sf0.1"

  val DefaultQueries: Seq[String] = Seq(
    "x72_ivfpq_topk", "x74_pq_append", "x75_ivfpq_indexed",
    "x76_pq_routed_knn", "x77_ivfpq_append", "x78_ivfpq_residual",
    "x80_routed_recall", "x81_ivfpq_compact", "x82_residual_recall",
    "x48_incremental_clusters", "pl8_nightly_ingest",
    // round-13 additions: the clustered recall pair, the residual
    // routed stored serve, and the drift-gated refresh pipeline
    "x86_clustered_recall", "x87_residual_routed_knn",
    "pl12_index_refresh",
    // second pass: the residual append lifecycle (corpus-proportional;
    // the graph gates x89/x91 are fixed-size by design and the KMV
    // gates are sub-second, so none of those probe)
    "x90_ivfpq_residual_append",
    // round-14 additions: the sliding-window dedup (window volume and
    // the flagged-interval fan-out both corpus-proportional) and the two
    // BPE gates (iterative window passes + corpus-wide pair counts —
    // shuffle-heaviest of the text tier); x98/x99 bloom gates are
    // sub-second serve paths and don't probe
    "x97_substring_dedup", "x100_bpe_merges", "x101_bpe_apply",
    "x102_self_repetition", "x104_span_corruption",
    // round-15 additions: the local-state BPE serve and its sampled-
    // training twin (corpus-proportional apply passes), the pl8 funnel
    // with its new Bloom front door is already listed, the indexed
    // hard-negative serve (codes-scan-proportional), and the bit-level
    // bloom lifecycle gate (history-proportional build + screen)
    "x105_bpe_apply_local", "x106_bpe_sampled",
    "x107_hard_negatives_indexed", "x109_hard_negatives_routed",
    "pl14_bloom_rotate",
    // round-16 additions: the sharded bloom lifecycle (history-
    // proportional per-shard build + routed screen), the batched BPE
    // trainer (same scans as serial at 1/N the iterations), and the
    // training-pair export funnel (routed mining + CC split + pack)
    "x110_sharded_bloom_rotate", "x111_bpe_batched", "pl15_training_pairs",
    "x112_adaptive_nprobe", "x113_hard_positive_recall",
    "x114_adaptive_nprobe_refresh",
    // round-17 additions: the OPQ lifecycle (fit + rotated index build
    // are corpus-proportional; the append is batch-proportional), the
    // post-maintenance adaptive-nprobe serve, the trained lang-ID fit
    // and the unigram tokenizer serve (corpus-proportional scans), the
    // lang-routed curation funnel, the AVI demux (payload-proportional
    // chunk walk), and the bloom skip index build+lookup (build is
    // table-proportional, the lookup must stay file-pruned); s22 is
    // metadata-sized and x116 is a double-fit measurement gate — no
    // probe value
    "x115_opq_serve", "x117_adaptive_nprobe_lifecycle",
    "x119_langid_train", "x121_unigram_apply", "x122_opq_append",
    "x123_avi_demux", "x125_warc_gzip", "pl16_multilingual_curation",
    "pl17_warc_ingest", "s21_bloom_skip",
    // round-18 additions: the filtered routed serve + its recall grid
    // (codes-scan- and grid-proportional), the OPQ delete→compact→refit
    // lifecycle (fit + two curve fits corpus-proportional), the evolved
    // MOR merge/compact pair and the nightly maintenance funnel
    // (changeset-proportional merges, fold-proportional compaction),
    // the WARC record demux (payload-proportional member+record walk),
    // and both byte-fallback tokenizer serves (corpus-proportional
    // apply passes over the decorated corpus)
    "x126_filtered_knn", "x128_filtered_knn_recall", "x129_opq_lifecycle",
    "j12_mor_evolve", "j13_mor_evolve_compact", "pl18_table_maintenance",
    "x127_warc_records", "x130_unigram_byte_fallback",
    "x131_bpe_byte_fallback", "x132_filtered_adaptive_serve",
    "s23_warc_file_scan", "x133_kn_perplexity", "pl19_crawl_to_shards",
    // the FLAC roundtrip is corpus-proportional (encode+decode per doc
    // inside the scan partition); the Delta export's commits are
    // slice-proportional and its delete O(|affected files|); the
    // lakehouse publish is base-proportional at bootstrap then
    // changeset-proportional per incremental merge commit
    "x134_flac_roundtrip", "s24_delta_export", "pl20_lakehouse_publish",
    // stats skipping reads O(matching files) behind the log's min/max
    // (the pruning decision itself is O(live files) metadata); OPTIMIZE
    // is rewrite-proportional in the compacted bytes
    "s25_delta_stats_skip", "s26_delta_optimize",
    // the change feed is changeset-proportional: pre/post images come
    // from key-affected files only, inserts/deletes from the changeset;
    // the z-order rewrite is data-proportional once (like OPTIMIZE), and
    // pl23's loop is changeset- plus rewrite-proportional
    "j15_delta_cdf", "s27_delta_zorder", "pl23_delta_maintenance",
    // the MP3 and H.264 walks are payload-proportional inside the scan
    // partition, as is the whole triage funnel above them
    "x135_mp3_framing", "x136_h264_nalu", "pl21_media_triage",
    "pl22_crawl_media_triage",
    // the evolved export merge is changeset-proportional plus the
    // key-affected file rewrites
    "j14_delta_evolve", "x137_flac_stereo")

  def main(args: Array[String]): Unit = {
    // "[factor] [query ...]": the factor is optional even when queries
    // are passed — a leading non-numeric arg is a query name.
    val factor = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val rest = if (args.headOption.exists(_.toIntOption.isDefined))
      args.drop(1).toSeq else args.toSeq
    val names = if (rest.nonEmpty) rest else DefaultQueries
    val outDir = s"${sys.props("java.io.tmpdir")}/graft_scale_sf0.1x$factor"
    val spark = GraftSession.local(defaultCpus = 32)

    if (!new java.io.File(s"$outDir/embeddings.parquet").exists()) {
      println(s"building ${factor}x blow-up at $outDir ...")
      blowUp(spark, "embeddings", "vec_id", factor, outDir)
      blowUpDocuments(spark, factor, outDir)
    }
    // Tables that joined the probe corpus later are built on their own,
    // even into an older blow-up dir: lineitem (s21's bloom skip index
    // faces a 10x-larger table and key domain), customer (the MOR
    // evolution/maintenance gates; its modular changesets scale with the
    // copies, so merges stay changeset-proportional) and orders (s24's
    // Delta export commits slices of it).
    Seq("lineitem" -> "l_orderkey", "customer" -> "c_custkey",
        "orders" -> "o_orderkey").foreach { case (table, key) =>
      if (!new java.io.File(s"$outDir/$table.parquet").exists())
        blowUp(spark, table, key, factor, outDir)
    }
    println(f"${"query"}%-26s ${"sf0.1"}%9s ${s"sf0.1x$factor"}%9s  ratio")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def timed(dir: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftCache.release(blocking = true)
        sec
      }
      try {
        timed(SrcDir) // warmup (JVM/codegen) on the small scale
        val base = timed(SrcDir)
        val big = timed(outDir)
        println(f"$name%-26s $base%8.2fs $big%8.2fs  ${big / base}%5.1fx")
      } catch {
        case e: Exception =>
          println(f"$name%-26s ERR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** factor copies of `table` with disjoint `key` ranges: copy i shifts
    * `key` by i × (max + 1), every other column kept as is. Embedding
    * values survive unchanged — ANN cost per candidate pair is
    * value-independent, and the quantizer chains only care about row
    * count. customer's shift stays far below the +10M insert-key shift
    * the MOR changesets use, so no collision at any probe factor. */
  private def blowUp(spark: SparkSession, table: String, key: String,
                     factor: Int, outDir: String): Unit = {
    val t = spark.read.parquet(s"$SrcDir/$table.parquet")
    val offset = t.agg(max(key)).head.getLong(0) + 1
    val rest = t.columns.filterNot(_ == key).map(col).toSeq
    (0 until factor).map { i =>
      t.select((col(key) + lit(i * offset)).as(key) +: rest: _*)
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
  }

  /** factor copies with disjoint ids AND per-copy token namespaces
    * (every word prefixed `c<i>`), so copies are NOT near-duplicates of
    * each other: the LSH/banding screens face a genuinely 10×-larger
    * pair problem instead of 45 guaranteed exact-dup pairs per
    * document. Copy 0 is the original corpus verbatim. */
  private def blowUpDocuments(spark: SparkSession, factor: Int,
                              outDir: String): Unit = {
    val d = spark.read.parquet(s"$SrcDir/documents.parquet")
    val offset = d.agg(max("doc_id")).head.getLong(0) + 1
    (0 until factor).map { i =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\p{Alnum}+)", s"c$i$$1")
      d.withColumn("doc_id", col("doc_id") + lit(i * offset))
        .withColumn("text", text)
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }
}
