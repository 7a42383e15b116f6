package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY.md §2.9 —
  * a declared engine extension; the reference's pipelines are one-shot
  * batches, its only stream-adjacent mechanics being batched sinks and
  * idempotent re-runs).
  *
  * The window/session expressions here are the SAME ones
  * [[graft.queries.WindowQueries]] runs in batch mode — `window()` /
  * `session_window()` plans compile under both `read` and `readStream`, so
  * batch results (oracle-checked by the driver) certify the streaming
  * transforms' semantics, and the streaming tests certify the wiring
  * (watermarks, state, output modes).
  *
  * Scale: streaming aggregations shuffle on the group key exactly like
  * batch; watermarks bound state size; `dropDuplicates` state is pruned by
  * the event-time watermark.
  */
object EventStreams {

  /** Starts `df` as an append stream that runs `body` on every micro-batch
    * inside [[graft.GraftCache.scoped]]: what the batch registers (persists,
    * checkpoints) is freed when it returns, while frames the caller built
    * before the stream started — a `baseline`, a `model`, a `bandIndex` —
    * stay readable for every later batch. */
  private def eachBatch(df: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.GraftCache.scoped(body(batch, batchId))
      }
      .start()

  /** [[eachBatch]] for the per-batch logs: each micro-batch OVERWRITES its
    * own `batch_id=<n>` partition of `outDir` with `perBatch(batch)`, so a
    * batch replayed after a failure replaces its own rows instead of
    * duplicating them. */
  private def logEachBatch(df: DataFrame, checkpointDir: String, outDir: String)(
      perBatch: DataFrame => DataFrame): StreamingQuery =
    eachBatch(df, checkpointDir) { (batch, batchId) =>
      perBatch(batch).write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }

  /** Open the events directory as a file stream (one-file-per-trigger keeps
    * tests deterministic; production would point at an arriving directory).
    *
    * A streaming source requires an explicit schema, and events.ts has
    * shipped in multiple physical encodings (TIMESTAMP(NANOS)-as-long under
    * the legacy conf, plain timestamp[us] → NTZ) — so the schema is sniffed
    * from a one-footer batch read of the same directory rather than pinned.
    * Pinning LongType over timestamp[us] files would NOT fail: both are
    * INT64 on disk, and the values silently arrive off by 1000. The sniff +
    * [[graft.sources.Tables.normalizeEventTs]] give the stream the same
    * stable `ts: TimestampType` contract as the batch accessor. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Tables.configure(spark)
    val schema = spark.read.parquet(dir).schema
    graft.sources.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }

  /** Tumbling 1-hour counts per event type with a 1-hour watermark — the
    * streaming twin of batch query w1. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v_total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("v_total"))

  /** Session windows (30-minute gap) per user — the streaming twin of w3's
    * inner aggregation. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("session_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("session_events"))

  /** Exactly-once-style dedup on event_id within the watermark horizon
    * (SURVEY.md §2.9: idempotent re-run via dedup-before-upload). */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  /** Per-day distinct users via the KMV sketch — a23's streaming twin:
    * the sketch is a typed-imperative aggregate, so it runs under
    * streaming state exactly like count/HLL (bounded: ≤ k longs per open
    * window), partial buffers merging across micro-batches losslessly.
    * Because "k smallest distinct hashes of a set" is order-free, the
    * stream's final per-day rows equal the batch query's bit-for-bit —
    * the stream==batch spec pins it. Emits (day, n_sketch, est_users):
    * the sketch size and the fixed-expression estimate, the same columns
    * a23's oracle checks (minus the exact ride-along, which would defeat
    * the sketch's purpose under streaming state). */
  def dailyDistinctUsers(events: DataFrame, k: Int): DataFrame =
    events.filter(col("user_id").isNotNull)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.operators.Aggregations.kmvSketch(
        graft.operators.TextOps.md5Hash60(col("user_id").cast("string")),
        k).as("sk"))
      .select(col("w.start").cast("date").as("day"),
        size(col("sk")).cast("long").as("n_sketch"),
        graft.operators.Aggregations.kmvEstimate(col("sk"), k)
          .as("est_users"))

  /** Watermark-BOUNDED dedup state: `dropDuplicatesWithinWatermark` keeps a
    * key only until the watermark passes its event time, then frees it —
    * the form whose state is O(keys-per-horizon) instead of O(all keys
    * ever seen). The semantic trade: duplicates separated by more than the
    * horizon pass through, which is exactly the at-least-once-transport
    * contract (retries arrive within the horizon; true replays from
    * history are handled by the batch anti-join instead). This is the
    * variant a 100 TB/day intake must run — [[dedupEvents]]' global state
    * grows without bound. */
  def dedupEventsBounded(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running totals carried across micro-batches. */
  case class UserRunning(user_id: Long, n_events: Long, v_total: Double)

  /** Custom keyed state via `mapGroupsWithState` (SURVEY.md §2.9 /
    * builder brief): each user's event count and value total accumulate in
    * GroupState across micro-batches — the arbitrary-state API for
    * semantics window/session aggregations can't express. State is one
    * fixed-size record per key; at scale, pair with a timeout policy
    * (NoTimeout here because the test data is bounded). Update output mode:
    * each batch emits the keys it touched. */
  def runningUserTotals(events: DataFrame)
      : org.apache.spark.sql.Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    // Null-user events carry no identity to accumulate under — drop them
    // (a null key would also fail the primitive Long encoder).
    events.filter(col("user_id").isNotNull)
      .select(col("user_id"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          var n = 0L
          var v = 0.0
          rows.foreach { r => n += 1; v += r._2 }
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val next = UserRunning(uid, prev.n_events + n, prev.v_total + v)
          state.update(next)
          next
      }
  }

  /** Per-user funnel progression carried across micro-batches. */
  case class FunnelProgress(user_id: Long, stage: Int, last_ts: Long)

  /** Streaming twin of [[graft.operators.EventAnalytics.funnel]]: a per-user
    * state machine over `flatMapGroupsWithState`-style keyed state — stage k
    * advances to k+1 on the first `steps(k)` event STRICTLY LATER than the
    * stage-k completion time, which reproduces batch min-completion
    * semantics exactly (the greedy in-order machine binds each stage to its
    * earliest qualifying event). Update mode: each micro-batch emits the
    * touched users' current progress; the batch-certified oracle is the
    * equivalence spec against `EventAnalytics.funnel`.
    *
    * Ordering contract: rows are sorted by (ts, event_id) WITHIN each
    * micro-batch (per-user per-batch buffers, bounded by batch size); the
    * machine is exact when per-user event order is preserved ACROSS
    * micro-batches (time-ordered file arrival — this harness). An intake
    * with cross-batch disorder needs a watermark-buffered sort upstream.
    * State is one fixed-size record per user; production pairs it with an
    * event-time timeout to retire idle users. */
  def funnelProgress(events: DataFrame, steps: Seq[String])
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.filter(col("user_id").isNotNull && col("event_type").isin(steps: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelProgress, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[FunnelProgress]) =>
          var st = state.getOption.getOrElse(FunnelProgress(uid, 0, Long.MinValue))
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, et, t, _) =>
            if (st.stage < steps.length && et == steps(st.stage) && t > st.last_ts)
              st = FunnelProgress(uid, st.stage + 1, t)
          }
          state.update(st)
          st
      }
  }

  /** Stream-stream attribution join: each click joined to purchases by the
    * same user within the following hour. Both sides are watermarked and
    * the join carries an event-time range constraint, so Spark bounds the
    * buffered state on each side — the standard stream-stream join recipe.
    * Works identically under batch `read` (the spec compares the two). */
  def attributionJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
  }

  /** Documents parquet schema (matches the testdata `documents` table). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Open a documents directory as a file stream. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Streaming corpus intake: the curation front door as a stream — the
    * quality gate (stateless per-row columns, the SAME expressions batch
    * query x2 oracle-checks) plus exact dedup on the content fingerprint
    * (x0's key; keyed streaming state). Batch certifies the semantics;
    * this certifies the wiring. Dedup state is unbounded here (documents
    * carry no event time); [[curateDocumentsBounded]] is the
    * state-bounded production form. Emits (doc_id, lang, source,
    * n_tokens, fp) for surviving documents.
    *
    * Known cost, accepted here: predicate pushdown inlines `quality_ok`
    * through the metrics projection, re-running the tokenizing split per
    * stopword per row in the filter (the x66 finding). Batch gates block
    * it with a skinny persist; a streaming frame cannot persist, and the
    * cost is per arriving batch, not per corpus — a production intake
    * that cares routes batches through the batch gate in foreachBatch
    * (where the persist barrier applies) instead of this declarative
    * form. */
  def curateDocuments(docs: DataFrame): DataFrame =
    graft.operators.TextOps.qualityMetrics(docs, "text")
      .filter(col("quality_ok"))
      .withColumn("fp", graft.operators.TextOps.fingerprint(col("text")))
      .dropDuplicates("fp")
      .select("doc_id", "lang", "source", "n_tokens", "fp")

  /** [[curateDocuments]] with BOUNDED dedup state — the production form
    * its own caveat describes: documents carry no event time, so the
    * intake stamps an ingest timestamp, watermarks it, and dedups via
    * `dropDuplicatesWithinWatermark`, whose keyed state expires once the
    * watermark passes a fingerprint's horizon. Contract shift, stated
    * plainly: a duplicate arriving MORE than `horizon` after its
    * original passes through (the original's state has been reclaimed) —
    * at corpus scale that long-tail is the standing band/fingerprint
    * index's job ([[screenArrivalsIndexed]]), while this bounds the
    * within-stream state a long-running intake accumulates. */
  def curateDocumentsBounded(docs: DataFrame,
                             horizon: String = "1 hour"): DataFrame =
    graft.operators.TextOps.qualityMetrics(docs, "text")
      .filter(col("quality_ok"))
      .withColumn("fp", graft.operators.TextOps.fingerprint(col("text")))
      .withColumn("__ingest_ts", current_timestamp())
      .withWatermark("__ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "lang", "source", "n_tokens", "fp")

  /** Production streaming near-dup screen: every arriving micro-batch is
    * screened against the MATERIALIZED band-signature index
    * ([[graft.operators.TextOps.writeBandIndex]]) — zero corpus
    * re-tokenization per batch — and flagged (id_new, id_idx, jaccard)
    * pairs land in a parquet log. Nothing is collected to the driver:
    * per-batch cost is O(|batch| + |candidates|) plus one columnar index
    * scan, and the flagged-pair log is itself a table downstream jobs
    * (quarantine, cluster maintenance) read incrementally. The nightly
    * steady state of the dedup story, wired end to end.
    *
    * Replay-idempotent (round-9 advice): each micro-batch OVERWRITES its
    * own `batch_id=<n>` partition directory instead of appending to a flat
    * log — a batch reprocessed after a failure lands on the same path and
    * replaces its own rows, so restarts can never duplicate log entries.
    * Readers scan `outDir` as one partitioned table (the partition column
    * surfaces as `batch_id`). */
  def screenArrivalsIndexed(
      arrivals: DataFrame,
      bandIndex: DataFrame,
      indexedDocs: DataFrame,
      threshold: Double,
      checkpointDir: String,
      outDir: String): StreamingQuery =
    logEachBatch(arrivals, checkpointDir, outDir) { batch =>
      graft.operators.TextOps
        .minhashNearDupsAgainstIndex(batch, bandIndex, indexedDocs,
          "doc_id", "text", threshold)
    }

  /** Streaming SEMANTIC screen — the embedding-space sibling of
    * [[screenArrivalsIndexed]]: every arriving micro-batch of vectors is
    * ranked against the STORED PQ index
    * ([[graft.operators.VectorOps.writePqIndex]] /
    * [[graft.operators.VectorOps.appendPqIndex]]) and each arrival's
    * top-k (qid, vec_id, adc_d2) rows land in a parquet log — the
    * in-flight feed a SemDeDup-style admission job thresholds. Per-batch
    * cost: the batch's ADC LUTs broadcast onto ONE columnar codes scan
    * (m scalar lookups per touched code; the corpus vectors are never
    * read), heap-cut per arrival before any exchange
    * ([[graft.operators.VectorOps.pqKnnAgainstCodes]]). Compose with the
    * IVF route ([[graft.operators.VectorOps.ivfPqTopK]]'s cell probe) to
    * touch nprobe/k of the codes at billion scale. Keyed like its
    * siblings: each micro-batch OVERWRITES its own `batch_id=<n>`
    * partition, so replay after a failure replaces rather than
    * duplicates. */
  def screenArrivalsSemantic(
      arrivals: DataFrame,
      codes: DataFrame,
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      k: Int,
      checkpointDir: String,
      outDir: String): StreamingQuery =
    logEachBatch(arrivals, checkpointDir, outDir) { batch =>
      graft.operators.VectorOps
        .pqKnnAgainstCodes(batch, "vec_id", "embedding", codes, k, codebooks)
    }

  /** [[screenArrivalsSemantic]] ROUTED through the composed IVF-PQ index
    * ([[graft.operators.VectorOps.writeIvfPqIndex]]) — the billion-scale
    * form: each arrival's probe cells compute as a zero-shuffle literal
    * projection and candidates come from an equi join on the cell id
    * ([[graft.operators.VectorOps.pqKnnAgainstCodesRouted]]), so a
    * micro-batch touches ~nprobe/k of the codes instead of scanning all
    * of them. Same log contract: per-arrival top-k rows, replay-
    * idempotent batch-id partitions. */
  def screenArrivalsSemanticRouted(
      arrivals: DataFrame,
      centroids: DataFrame,
      codes: DataFrame,
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      k: Int,
      nprobe: Int,
      checkpointDir: String,
      outDir: String): StreamingQuery = {
    // the cells are frozen for the life of the stored index — collect the
    // k×dim centroid table ONCE here, not once per micro-batch (a
    // per-trigger parquet read + collect job would dominate small batches)
    val cents = graft.operators.VectorOps.collectCentroids(centroids)
    logEachBatch(arrivals, checkpointDir, outDir) { batch =>
      graft.operators.VectorOps
        .pqKnnAgainstCodesRouted(batch, "vec_id", "embedding", k, nprobe,
          cents, codebooks, codes)
    }
  }

  /** Streaming DSIR gate: every arriving micro-batch is scored against
    * the STORED importance model
    * ([[graft.operators.Curation.writeDsirModel]]) — the ≤buckets+1-row
    * (cell, lr) table broadcasts onto each batch's cell counts, the
    * fitted corpus is never re-read — and (id, n_grams,
    * log_weight_micro) rows land in a parquet log downstream
    * admission/mixing jobs read incrementally. Nothing is collected to
    * the driver; per-batch cost is O(|batch| grams). The streaming
    * front door of the data-selection story, exactly as
    * [[screenArrivalsIndexed]] is the dedup one's — and like it, each
    * micro-batch OVERWRITES its own `batch_id=<n>` partition, so a
    * replayed batch replaces its own rows instead of duplicating them
    * (round-9 advice). */
  def scoreArrivalsDsir(
      arrivals: DataFrame,
      model: DataFrame,
      buckets: Int,
      checkpointDir: String,
      outDir: String): StreamingQuery =
    logEachBatch(arrivals, checkpointDir, outDir) { batch =>
      graft.operators.Curation
        .dsirScoreAgainstModel(batch, model, "doc_id", "text", buckets)
    }

  /** STREAMING crawl intake — pl19's front end as a continuous job: the
    * arriving-file stream of a watched crawl directory (Spark's
    * binaryFile source; the checkpoint tracks seen files, so each
    * `.warc.gz` is processed once per the file-source contract), each
    * micro-batch strict-demuxed to records, per-document text rebuilt by
    * RECORD identity ([[graft.operators.Multimodal.recoverWarcDocs]] —
    * never file position), the x2 quality gate and the dedup fingerprint
    * computed, and (doc_id, n_tokens, quality_ok, fp) rows landed in the
    * intake log — `batch_id=<n>` OVERWRITE partitions, so a replayed
    * batch replaces its own rows (the standing replay-idempotence
    * contract). Downstream, pl19's batch funnel (keepers → packing →
    * manifest export) runs over the accumulated log on its own nightly
    * trigger — the same stream/batch split every intake in this file
    * uses. Per-batch cost: the batch's files' bytes once through the
    * demux + two scan-local metric passes; nothing corpus-sized, nothing
    * driver-sized. */
  def streamCrawlIntake(
      spark: SparkSession,
      filesDir: String,
      checkpointDir: String,
      outDir: String): StreamingQuery = {
    import org.apache.spark.sql.types._
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val files = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      .schema(binarySchema)
      .load(filesDir)
    logEachBatch(files, checkpointDir, outDir) { batch =>
      val media = batch.select(
        org.apache.spark.sql.functions
          .regexp_extract(col("path"), "-([0-9]+)\\.warc\\.gz$", 1)
          .cast("long").as("doc_id"),
        col("content").as("payload"),
        org.apache.spark.sql.functions.lit("application/warc")
          .as("media_type"),
        org.apache.spark.sql.functions.lit("").as("lang"))
      val recovered = graft.operators.Multimodal
        .recoverWarcDocs(spark, media).toDF()
      val q = graft.operators.TextOps
        .qualityMetrics(recovered, "text")
        .select("doc_id", "n_tokens", "quality_ok")
      q.join(recovered.select(col("doc_id"),
          graft.operators.TextOps.fingerprint(col("text")).as("fp")),
          "doc_id")
    }
  }

  /** Streaming corpus-drift monitor: every arriving micro-batch is
    * compared against a FROZEN baseline snapshot with
    * [[graft.operators.Curation.corpusDrift]] and the per-stratum drift
    * rows (counts, shares, share delta) land in a parquet log keyed by
    * batch id — the alerting feed that catches a crawler change or a
    * dying upstream source within one batch of it happening, instead of
    * at training time. The observability sibling of the intake/screen/
    * DSIR-gate streams: per-batch cost is two keyed aggs to |strata|
    * rows (the baseline side's agg is recomputed per batch — KBs of
    * compute; a production monitor would snapshot the baseline's
    * |strata|-row stats once, the same store-the-derived-structure move
    * as the band index and DSIR model). Keyed like its siblings: each
    * batch OVERWRITES its own `batch_id=<n>` partition, so replay after
    * a failure replaces rather than duplicates (round-9 advice). */
  def monitorDrift(
      arrivals: DataFrame,
      baseline: DataFrame,
      strataCol: String,
      sizeCol: String,
      checkpointDir: String,
      outDir: String): StreamingQuery =
    logEachBatch(arrivals, checkpointDir, outDir) { batch =>
      graft.operators.Curation
        .corpusDrift(baseline, batch, strataCol, sizeCol)
    }

  /** Streaming cluster maintenance — the COMPLETE nightly dedup loop as a
    * stream: each arriving micro-batch (1) screens against the
    * MATERIALIZED band index ([[graft.operators.TextOps.writeBandIndex]])
    * for cross near-dups and against itself for internal ones, (2) merges
    * the discovered edges into the standing cluster labels via
    * [[graft.operators.Dedup.incrementalComponents]] — the CC loop only
    * ever sees batch-sized component graphs — and (3) ADMITS the batch's
    * band signatures to the index, so later batches pair against earlier
    * arrivals too. Labels are written as VERSIONED snapshots
    * (`labelsDir/v<n>`, seeded by the caller at v0): readers pin a
    * version and never see a half-written table, and a replayed batch
    * simply re-merges the same edges — component merging is idempotent,
    * so restart/replay lands on the identical labels. The band-index
    * append in step (3) is EXACTLY-ONCE
    * ([[graft.operators.TextOps.appendBandIndexExactlyOnce]], keyed by
    * the micro-batch id): a replayed batch is detected by its admission
    * marker and touches nothing, so the index never inflates across
    * restarts — both halves of the loop are now replay-safe. `allDocs` must
    * cover corpus ∪ every possible arrival (only candidate ids are ever
    * fetched from it, behind the screen's semi-join). Local-FS versioning
    * here; production swaps the snapshot directory for a table format
    * with the same pin-a-version contract. */
  def maintainClusters(
      arrivals: DataFrame,
      allDocs: DataFrame,
      threshold: Double,
      checkpointDir: String,
      indexDir: String,
      labelsDir: String): StreamingQuery =
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val cross = graft.operators.TextOps
        .minhashNearDupsAgainstIndex(batch, spark.read.parquet(indexDir),
          allDocs, "doc_id", "text", threshold)
        .select(col("id_new").as("id_a"), col("id_idx").as("id_b"))
      val internal = graft.operators.TextOps
        .minhashNearDups(batch, "doc_id", "text", threshold)
        .select("id_a", "id_b")
      val labels = spark.read.parquet(latestLabelVersion(spark, labelsDir))
      graft.operators.Dedup
        .incrementalComponents(labels, cross.unionByName(internal),
          "id_a", "id_b")
        .write.mode("overwrite").parquet(s"$labelsDir/v${batchId + 1}")
      graft.operators.TextOps
        .appendBandIndexExactlyOnce(batch, "doc_id", "text", indexDir,
          batchId)
    }

  /** Seed the drift-maintained vector-index state [[maintainVectorIndex]]
    * serves from: the corpus (vectors double-cast so appended batches
    * keep one element type), the k-means cells trained on it, and the
    * per-cell counts — the |cells|-row derived table the per-batch drift
    * check compares against WITHOUT re-assigning the standing corpus
    * (the same store-the-derived-structure move as the band index and
    * the DSIR model; [[monitorDrift]]'s doc names this optimization,
    * here it is load-bearing). */
  def seedVectorIndex(corpus: DataFrame, k: Int, iters: Int,
                      indexDir: String): Unit = {
    val c = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    c.write.mode("overwrite").parquet(s"$indexDir/corpus")
    val stored = c.sparkSession.read.parquet(s"$indexDir/corpus")
    val cents = graft.operators.VectorOps
      .kmeansCentroids(stored, "vec_id", "embedding", k, iters)
    cents.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids/v0")
    graft.operators.VectorOps
      .cellCounts(stored, "vec_id", "embedding",
        graft.operators.VectorOps.collectCentroids(cents))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/cellcounts/v0")
  }

  /** Streaming drift-gated index maintenance — pl12's nightly decision
    * running per micro-batch: each arriving batch of vectors is assigned
    * to the STANDING cells (zero-shuffle literal-argmin projection), its
    * cell-share TVD against the stored per-cell counts computes in exact
    * integer ppm ([[graft.operators.VectorOps.tvdPpmFromCounts]] — the
    * standing side is the |cells|-row stored table, never a corpus
    * re-assignment), and the decision executes: under the threshold the
    * batch ADMITS (corpus append + counts merge — the whole maintenance
    * pass touches batch-sized data plus a |cells|-row table); over it
    * the coarse quantizer RETRAINS on corpus ∪ batch and cells + counts
    * rewrite (the one full-corpus pass, paid exactly when the data has
    * actually moved). A (batch_id, n_batch, drift_ppm, decision) row
    * lands in the log per batch; like every sink here each batch
    * OVERWRITES its own `batch_id=<n>` partition so replay replaces
    * rather than duplicates.
    *
    * The WHOLE pass is replay-convergent: the corpus append is
    * exactly-once ([[graft.sinks.LayoutSink.appendExactlyOnce]], keyed by
    * batch id), and centroids/cellcounts write VERSIONED snapshots
    * (`v<batchId+1>`) whose inputs are the latest version ≤ batchId —
    * immutable on replay — so a re-run batch recomputes the identical
    * decision and overwrites its own version dirs with identical content,
    * never double-counting (the blind counts merge this replaces
    * double-added a replayed batch). Readers pin the latest version
    * ([[latestLabelVersion]]); production swaps the snapshot directories
    * for a table format with the same contract. */
  def maintainVectorIndex(
      arrivals: DataFrame,
      k: Int, iters: Int,
      driftPpmThreshold: Long,
      checkpointDir: String,
      indexDir: String,
      logDir: String): StreamingQuery =
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val b = graft.GraftCache.persist(batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding")))
      val nBatch = b.count()
      if (nBatch > 0) {
        // prior snapshot = latest version ≤ batchId, NOT plain latest: a
        // replayed batch must see the same immutable inputs it saw the
        // first time even though its own (or a later) version already
        // exists — this is what makes the recomputed decision identical.
        val cents = graft.operators.VectorOps.collectCentroids(
          spark.read.parquet(
            versionAtMost(spark, s"$indexDir/centroids", batchId)))
        val standing = spark.read
          .parquet(versionAtMost(spark, s"$indexDir/cellcounts", batchId))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val bCounts = graft.operators.VectorOps
          .collectCellCounts(b, "vec_id", "embedding", cents)
        val ppm = graft.operators.VectorOps
          .tvdPpmFromCounts(standing, bCounts)
        val retrain = ppm > driftPpmThreshold
        graft.sinks.LayoutSink
          .appendExactlyOnce(b, s"$indexDir/corpus", batchId)
        if (retrain) {
          val corpus = spark.read.parquet(s"$indexDir/corpus")
          val newCents = graft.operators.VectorOps
            .kmeansCentroids(corpus, "vec_id", "embedding", k, iters)
          newCents.coalesce(1).write.mode("overwrite")
            .parquet(s"$indexDir/centroids/v${batchId + 1}")
          graft.operators.VectorOps
            .cellCounts(corpus, "vec_id", "embedding",
              graft.operators.VectorOps.collectCentroids(newCents))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$indexDir/cellcounts/v${batchId + 1}")
        } else {
          val merged = (standing.keySet ++ bCounts.keySet).toSeq.sorted
            .map(c => (c, standing.getOrElse(c, 0L) + bCounts.getOrElse(c, 0L)))
          spark.createDataFrame(merged).toDF("cid", "n")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$indexDir/cellcounts/v${batchId + 1}")
        }
        // batch_id rides in the partition directory, not the rows — a
        // whole-log read then partition-discovers it without colliding
        // with a stored column of the same name.
        spark.createDataFrame(Seq(
            (nBatch, ppm, if (retrain) "retrain" else "append")))
          .toDF("n_batch", "drift_ppm", "decision")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$logDir/batch_id=$batchId")
      }
    }

  /** Retention pass for the per-batch stream logs ([[screenArrivalsIndexed]],
    * [[scoreArrivalsDsir]], [[monitorDrift]]): each micro-batch lands one
    * `batch_id=<n>` directory of one-or-more small files, and a long-running
    * stream accumulates them forever — the same unbounded small-file growth
    * the band index solves with
    * [[graft.operators.TextOps.compactBandIndex]]. This is the same move
    * for the log sinks: read the partitioned log, rewrite it at
    * `targetFileBytes` via the shuffle-free coalesce path
    * ([[graft.sinks.LayoutSink.compact]] — output file count derives from
    * actual bytes, each output task streams whole input files). The
    * `batch_id` partition key survives as a plain column in the compacted
    * table, so downstream readers keep their per-batch lineage; new
    * micro-batches keep appending to the LIVE log dir, and the caller swaps
    * readers to `outDir` (plus the live tail) on its own cadence — the same
    * compact-then-swap contract as the band index. Returns the output file
    * count. */
  def compactLog(spark: org.apache.spark.sql.SparkSession, logDir: String,
                 outDir: String, targetFileBytes: Long): Int =
    graft.sinks.LayoutSink.compact(spark, logDir, outDir, targetFileBytes)

  /** Highest-numbered `v<n>` snapshot under `labelsDir`. */
  /** Seed the streaming-maintained distinct sketch: the standing corpus is
    * hashed through the engine-standard 60-bit md5 and its KMV sketch
    * (k rows of hashes) writes as version v0. */
  def seedDistinctSketch(corpus: DataFrame, keyCol: String, k: Int,
                         sketchDir: String): Unit =
    corpus
      .select(graft.operators.TextOps
        .md5Hash60(col(keyCol).cast("string")).as("h"))
      .agg(graft.operators.Aggregations.kmvSketch(col("h"), k).as("sk"))
      .select(explode(col("sk")).as("h"))
      .coalesce(1).write.mode("overwrite").parquet(s"$sketchDir/v0")

  /** Streaming maintenance of the stored KMV distinct-count sketch — the
    * a21 lifecycle per micro-batch: each arriving batch is hashed ALONE
    * (O(|batch|) — the standing corpus is never rescanned), merged with
    * the latest stored snapshot (k rows), and the merged sketch writes as
    * the next version. The merge is lossless
    * ([[graft.functions.KmvSketch]]), so the final snapshot equals the
    * from-scratch sketch of base ∪ every arrival — stream==batch, pinned
    * by spec. Unlike the band-index append (whose replay caveat
    * [[maintainClusters]] documents), a REPLAYED batch is exactly
    * idempotent here with no caveat: hash-set union absorbs duplicates by
    * construction. Versioned snapshots so a concurrent reader pins a
    * version mid-merge. */
  def maintainDistinctSketch(
      arrivals: DataFrame,
      keyCol: String,
      k: Int,
      checkpointDir: String,
      sketchDir: String): StreamingQuery =
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      spark.read.parquet(latestLabelVersion(spark, sketchDir)).select(col("h"))
        .unionByName(batch
          .select(graft.operators.TextOps
            .md5Hash60(col(keyCol).cast("string")).as("h")))
        .agg(graft.operators.Aggregations.kmvSketch(col("h"), k).as("sk"))
        .select(explode(col("sk")).as("h"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$sketchDir/v${batchId + 1}")
    }

  /** Seed the streaming-maintained value histogram: the standing corpus's
    * log₂-mantissa bucket counts write as version v0. */
  def seedValueHistogram(corpus: DataFrame, valueCol: String,
                         histDir: String): Unit =
    graft.operators.Aggregations.logHistogramBuckets(corpus, valueCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$histDir/v0")

  /** Streaming maintenance of the stored log-histogram — p99-style value
    * telemetry over an unbounded stream with a few hundred longs of
    * state: each micro-batch's bucket counts ADD into the stored counts.
    * Addition is not idempotent (unlike the KMV hash-set union), so this
    * is exactly the case the versioned-snapshot discipline exists for:
    * the batch reads the latest version ≤ its own id (immutable on
    * replay) and overwrites `v<batchId+1>` — a replayed batch recomputes
    * identical content instead of double-counting, the same argument as
    * [[maintainVectorIndex]]'s cell counts. Read percentiles off any
    * pinned version with
    * [[graft.operators.Aggregations.logHistogramReadout]]. */
  def maintainValueHistogram(
      arrivals: DataFrame,
      valueCol: String,
      checkpointDir: String,
      histDir: String): StreamingQuery =
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      spark.read.parquet(versionAtMost(spark, histDir, batchId))
        .unionByName(graft.operators.Aggregations
          .logHistogramBuckets(batch, valueCol))
        .groupBy("msb", "sub").agg(sum("c").as("c"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$histDir/v${batchId + 1}")
    }

  /** Seed the streaming-maintained seen-fingerprint Bloom filter: the
    * standing history's fingerprints fold into version v0 (geometry
    * travels with the artifact — see [[graft.operators.Bloom.write]]). */
  def seedSeenBloom(history: DataFrame, fpCol: String, nBits: Int,
                    numProbes: Int, bloomDir: String): Unit =
    graft.operators.Bloom.write(
      history.agg(graft.operators.Bloom
        .sketch(xxhash64(col(fpCol)), nBits, numProbes).as("words")),
      "words", nBits, numProbes, s"$bloomDir/v0")

  /** Streaming maintenance of the stored admission filter (the x99
    * lifecycle per micro-batch): each arriving batch's fingerprints are
    * hashed ALONE (O(|batch|) — the history is never rescanned) into a
    * batch filter under the geometry STORED in the snapshot (a maintainer
    * cannot silently change the probe scheme), then OR-merged with the
    * latest stored words — nBits/64 longs of state however large the
    * history. FIXED-GEOMETRY tier: the single one-row filter caps at
    * 2^30 bits (~130 M members at 4 probes) and saturates silently as
    * history grows; past either limit, deploy
    * [[maintainSeenBloomSharded]] — the sharded frame multiplies
    * capacity by the shard count and rotates saturated shards
    * asynchronously. The word-wise OR is idempotent and commutative, so beyond
    * the versioned-snapshot replay discipline every maintainer here
    * follows (read latest ≤ batchId, write v<batchId+1>), a replayed or
    * reordered batch converges to identical bits by algebra alone —
    * the strongest convergence class in the maintainer family. */
  def maintainSeenBloom(
      arrivals: DataFrame,
      fpCol: String,
      checkpointDir: String,
      bloomDir: String): StreamingQuery =
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prev = spark.read.parquet(versionAtMost(spark, bloomDir, batchId))
      val prevRow = prev.select("n_bits", "n_probes").head()
      val (nb, np) = (prevRow.getInt(0), prevRow.getInt(1))
      batch
        .agg(graft.operators.Bloom
          .sketch(xxhash64(col(fpCol)), nb, np).as("bwords"))
        .crossJoin(broadcast(prev.select(col("words"))))
        .select(
          graft.operators.Bloom.orWords(col("words"), col("bwords"))
            .as("words"),
          lit(nb).as("n_bits"), lit(np).as("n_probes"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$bloomDir/v${batchId + 1}")
    }

  /** Seed the SHARDED rotating maintainer: the standing history folds
    * into the sharded frame v0 ([[graft.operators.Bloom.sketchSharded]];
    * per-shard geometry travels with the artifact) and the history
    * fingerprints materialize through the same marker-gated exactly-once
    * layout the maintainer appends to (seed batch id −1, below every
    * micro-batch id) — a filter resize cannot be an OR-merge, so the
    * rebuild's source of truth must exist from day one. `base_req` = 0
    * is the rotation watermark: versions record the newest rebuild
    * request they have cut over to (see [[maintainSeenBloomSharded]]). */
  def seedSeenBloomSharded(history: DataFrame, fpCol: String,
                           nBitsPerShard: Int, numProbes: Int, nShards: Int,
                           bloomDir: String, histDir: String): Unit = {
    publishFrameVersion(
      graft.operators.Bloom.sketchSharded(history.select(col(fpCol)),
          xxhash64(col(fpCol)), nBitsPerShard, numProbes, nShards)
        .withColumn("base_req", lit(0L)),
      bloomDir, 0L)
    graft.sinks.LayoutSink.appendExactlyOnce(
      history.select(col(fpCol).as("fp")), histDir, -1L): Unit
  }

  private val FrameCols =
    Seq("shard", "words", "n_bits", "n_probes", "n_shards")

  /** OR-absorb per-shard sketch rows into a frame (geometries must match
    * per shard — guaranteed because the sketch side is always built AT
    * the frame's stored geometry). `delta` may cover a subset of shards;
    * missing shards pass through unchanged. */
  private def orFrames(frame: DataFrame, delta: DataFrame): DataFrame =
    frame.join(delta.select(col("shard"), col("words").as("__dw")),
        Seq("shard"), "left")
      .select(col("shard"),
        when(col("__dw").isNull, col("words"))
          .otherwise(graft.operators.Bloom.orWords(col("words"), col("__dw")))
          .as("words"),
        col("n_bits"), col("n_probes"), col("n_shards"))

  private val HistoryPartName = "batch(-?\\d+)-part\\d+\\.parquet".r

  /** Publish a sharded-frame version atomically: write under a tmp name
    * the `v\d+` resolver can never match, then RENAME into place — the
    * same write-then-rename discipline as `rotate-req-*` and the
    * `pending-*` `_SUCCESS` gate. A plain `mode("overwrite")` on
    * `v<id>` leaves a delete-files-then-write window in which the
    * concurrent offline [[rebuildRotation]] (which reads the LATEST
    * version) could list a partially-deleted/partially-written dir; a
    * replayed micro-batch rewriting its own version in place has the
    * same window. Rename replaces that window with one metadata op. */
  private def publishFrameVersion(frame: DataFrame, bloomDir: String,
                                  id: Long): Unit = {
    val spark = frame.sparkSession
    val base = new org.apache.hadoop.fs.Path(bloomDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(base, s"_v$id.tmp")
    fs.delete(tmp, true): Unit
    graft.operators.Bloom.writeSharded(frame, tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(base, s"v$id")
    fs.delete(dst, true): Unit // a replayed batch rewrites its own version
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"rename $tmp -> $dst returned false; frame version not committed")
  }

  /** The on-disk parquet part files of history batches `lo..hi`
    * (inclusive) — the exactly-once layout names parts
    * `batch<id>-part<i>.parquet`, so a bounded id range reads without
    * scanning the whole table. ONE listing call filtered locally, never
    * a glob per id: the rebuild passes the full id range, and per-id
    * round trips would make its listing O(total batches) metadata RPCs
    * on an object store. Bounds, not a materialized id set: both call
    * sites pass contiguous ranges, and the rebuild's range starts at the
    * seed batch −1 — a Set there would hold every batch id ever
    * processed on the driver. */
  private def historyBatchFiles(spark: SparkSession, histDir: String,
                                lo: Long, hi: Long): Seq[String] = {
    if (lo > hi) return Seq.empty
    val dir = new org.apache.hadoop.fs.Path(histDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "batch*-part*.parquet")))
      .toSeq.flatten.map(_.getPath)
      .filter(p => p.getName match {
        case HistoryPartName(id) =>
          val i = id.toLong; i >= lo && i <= hi
        case _ => false
      })
      .map(_.toString)
  }

  /** Highest batch id committed to the history layout (marker files). */
  private def historyMaxBatch(spark: SparkSession, histDir: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(histDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val ids = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "_batch*.done")))
      .toSeq.flatten
      .map(_.getPath.getName.stripPrefix("_batch").stripSuffix(".done").toLong)
    require(ids.nonEmpty, s"no committed history batches under $histDir")
    ids.max
  }

  private def rotationRequestIds(spark: SparkSession,
                                 bloomDir: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(bloomDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "rotate-req-*")))
      .toSeq.flatten
      // tolerant parse: a stray copy-tool/editor suffix on a matching
      // name must be ignored, not fail the micro-batch
      .flatMap(_.getPath.getName.stripPrefix("rotate-req-").toLongOption)
  }

  private def readRotationRequest(spark: SparkSession, bloomDir: String,
                                  reqId: Long): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(bloomDir, s"rotate-req-$reqId")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .trim.split(",").filter(_.nonEmpty).map(_.toInt).toSeq
    } finally in.close()
  }

  /** [[maintainSeenBloom]] over the SHARDED frame with the saturation
    * lifecycle DECOUPLED from ingest (round-15 verdict #1 + #2): the old
    * rotating maintainer was capped at 2^30 bits in one words row,
    * popcounted it on the driver, and the threshold-tripping micro-batch
    * paid a FULL history re-sketch inline — O(|history|) ingest latency.
    * Here, per micro-batch, inline work is O(|batch|) plus nShards-row
    * frame ops, always:
    * (1) the batch's fingerprints APPEND to the exactly-once history
    *     layout;
    * (2) if a COMPLETED rebuild artifact is pending (written offline by
    *     [[rebuildRotation]]) and newer than the frame's `base_req`
    *     watermark, CUT OVER: rotated shards take the rebuilt rows,
    *     OR-absorbing any history batches the rebuild had not yet seen
    *     (its recorded `hist_max` bounds that re-read to the handful of
    *     interim batches — never the full history); untouched shards keep
    *     their absorbed rows;
    * (3) the batch OR-absorbs into every shard at its stored geometry
    *     ([[graft.operators.Bloom.sketchShardedAt]] — one aggregation per
    *     distinct live geometry), and v<batchId+1> is written;
    * (4) per-shard fill ppm (popcounted DISTRIBUTEDLY inside the scan of
    *     the nShards-row frame) gates a rotation REQUEST: a small marker
    *     file naming the saturated shards — no rebuild work in-stream.
    *     One request can be outstanding at a time (requests below the
    *     watermark are consumed, above it deduplicated).
    *
    * Serving invariant at EVERY version, rotation in flight or not: no
    * false negatives — each version's member set is all fingerprints of
    * batches ≤ its id (absorbs are idempotent ORs; the rebuild re-reads
    * the marker-committed history). Replay convergence THROUGH the async
    * rotation holds for the FINAL artifact: pre-cutover versions may
    * legitimately differ between a first run and a full fresh-checkpoint
    * replay (a replay that finds the pending artifact already complete
    * cuts over earlier), but every post-cutover version absorbs the same
    * member set at the same geometry, so the bits converge — the
    * spec pins final-version bit-identity plus the per-version
    * no-false-negative invariant. */
  def maintainSeenBloomSharded(
      arrivals: DataFrame,
      fpCol: String,
      checkpointDir: String,
      bloomDir: String,
      histDir: String,
      rotateFillPpm: Long = 500000L): StreamingQuery =
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.sinks.LayoutSink.appendExactlyOnce(
        batch.select(col(fpCol).as("fp")), histDir, batchId): Unit
      val prev = spark.read.parquet(versionAtMost(spark, bloomDir, batchId))
      // bounded scalar collects: per-shard geometry + frame constants
      val geo = prev.select("shard", "n_bits").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val meta = prev.select("n_probes", "n_shards", "base_req").head()
      val (np, nS, baseReq) = (meta.getInt(0), meta.getInt(1), meta.getLong(2))
      // completed pending rebuild newer than the watermark? cut over
      val fsDir = new org.apache.hadoop.fs.Path(bloomDir)
      val fs = fsDir.getFileSystem(spark.sessionState.newHadoopConf())
      val readyReq = rotationRequestIds(spark, bloomDir)
        .filter(r => r > baseReq && fs.exists(new org.apache.hadoop.fs.Path(
          fsDir, s"pending-$r/_SUCCESS")))
        .sorted.lastOption
      val (base, servedGeo, newBase) = readyReq match {
        case Some(r) =>
          val rebuilt = spark.read.parquet(s"$bloomDir/pending-$r")
          val histMax = rebuilt.select("hist_max").head().getLong(0)
          val rotGeo = rebuilt.select("shard", "n_bits").collect()
            .map(x => x.getInt(0) -> x.getInt(1)).toMap
          // interim = history batches the rebuild had not seen yet —
          // bounded by the rebuild-to-cutover gap, never the history
          val interim = historyBatchFiles(spark, histDir,
            histMax + 1, batchId - 1)
          val rotatedRows =
            if (interim.isEmpty) rebuilt.select(FrameCols.map(col): _*)
            else orFrames(rebuilt.select(FrameCols.map(col): _*),
              graft.operators.Bloom.sketchShardedAt(
                spark.read.parquet(interim: _*), xxhash64(col("fp")),
                rotGeo, np, nS))
          val kept = prev.select(FrameCols.map(col): _*)
            .filter(!col("shard").isin(rotGeo.keys.toSeq: _*))
          (kept.unionByName(rotatedRows), geo ++ rotGeo, r)
        case None => (prev.select(FrameCols.map(col): _*), geo, baseReq)
      }
      val batchSk = graft.operators.Bloom.sketchShardedAt(
        batch.select(col(fpCol).as("fp")), xxhash64(col("fp")),
        servedGeo, np, nS)
      publishFrameVersion(
        orFrames(base, batchSk).withColumn("base_req", lit(newBase)),
        bloomDir, batchId + 1)
      // rotation decision from the just-written frame (nShards rows;
      // popcount runs inside the scan, driver sees scalars)
      val saturated = graft.operators.Bloom.shardFill(
          spark.read.parquet(s"$bloomDir/v${batchId + 1}"))
        .filter(col("fill_ppm") > rotateFillPpm)
        .select("shard").collect().map(_.getInt(0)).sorted
      // skip when a request is in flight (> watermark), and never
      // re-issue an id a prior run already used (a replayed batch must
      // not overwrite a consumed request with a different shard list —
      // the still-saturated shard simply re-requests at a later batch)
      val outstanding = rotationRequestIds(spark, bloomDir)
        .exists(r => r > newBase || r >= batchId + 1)
      if (saturated.nonEmpty && !outstanding) {
        // fail fast on an unseeded history: a rebuild from a partial
        // history would drop every seeded member and silently re-admit
        // them forever
        require(fs.exists(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(histDir), "_batch-1.done")),
          s"rotation requires a seeded history: $histDir lacks the " +
            "seedSeenBloomSharded seed marker (_batch-1.done)")
        // write-then-rename so the offline rebuild can never read a
        // partially written shard list (the tmp name is _-prefixed and
        // cannot match the rotate-req-* glob)
        val tmp = new org.apache.hadoop.fs.Path(
          fsDir, s"_rotate-req-${batchId + 1}.tmp")
        val req = fs.create(tmp, true)
        try req.write(saturated.mkString(",")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally req.close()
        val dst = new org.apache.hadoop.fs.Path(
          fsDir, s"rotate-req-${batchId + 1}")
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(
            s"rename $tmp -> $dst returned false; rotation request " +
              "not committed")
      }
    }

  /** The OFFLINE/async half of the rotation (the pl12 versioned-artifact
    * pattern): serve continues on the absorbed filter while this job
    * rebuilds the requested shards from the marker-committed history at
    * geometry sized for each shard's CURRENT member count
    * ([[graft.operators.Bloom.rebuildBitsFor]]), records the highest
    * history batch it saw (`hist_max` — the cutover's interim bound),
    * and publishes atomically under `pending-<reqId>` (parquet `_SUCCESS`
    * is the done marker the maintainer gates on). Idempotent: re-running
    * overwrites the same immutable-once-consumed artifact; returns false
    * when no request is outstanding. */
  def rebuildRotation(spark: SparkSession, bloomDir: String,
                      histDir: String): Boolean = {
    val fsDir = new org.apache.hadoop.fs.Path(bloomDir)
    val fs = fsDir.getFileSystem(spark.sessionState.newHadoopConf())
    val open = rotationRequestIds(spark, bloomDir).filter(r =>
      !fs.exists(new org.apache.hadoop.fs.Path(fsDir, s"pending-$r/_SUCCESS")))
    if (open.isEmpty) return false
    val reqId = open.max
    val shards = readRotationRequest(spark, bloomDir, reqId)
    val latest = spark.read.parquet(latestLabelVersion(spark, bloomDir))
    val geo = latest.select("shard", "n_bits").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val meta = latest.select("n_probes", "n_shards").head()
    val (np, nS) = (meta.getInt(0), meta.getInt(1))
    // versions publish by rename (see publishFrameVersion), so a partial
    // dir should be unobservable — but geometry for a rebuild must never
    // be sized from a short frame, so validate totality anyway
    require(geo.size == nS,
      s"frame version is not total: ${geo.size} shard rows, n_shards=$nS")
    // pin the batch set FIRST, then read exactly those files — a
    // concurrent stream may append more batches while this job runs;
    // hist_max must bound what the artifact actually contains
    val histMax = historyMaxBatch(spark, histDir)
    val files = historyBatchFiles(spark, histDir, -1L, histMax)
    val hist = spark.read.parquet(files: _*)
    val hash = xxhash64(col("fp"))
    val counts = hist
      .filter(graft.operators.Bloom.shardOf(hash, nS).isin(shards: _*))
      .groupBy(graft.operators.Bloom.shardOf(hash, nS).as("shard")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val targets = shards.map(sh =>
      sh -> graft.operators.Bloom.rebuildBitsFor(geo(sh), counts(sh), np)).toMap
    graft.operators.Bloom.sketchShardedAt(hist, hash, targets, np, nS)
      .withColumn("hist_max", lit(histMax))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$bloomDir/pending-$reqId")
    true
  }

  private def versionDirs(spark: SparkSession,
                          dir: String): Seq[(Long, String)] = {
    // Hadoop FileSystem, not java.io.File: version resolution must work
    // on every scheme the appends do (round-15 advice)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(st => (st.getPath.getName.drop(1).toLong, st.getPath.toString))
  }

  def latestLabelVersion(spark: SparkSession, labelsDir: String): String = {
    val versions = versionDirs(spark, labelsDir)
    require(versions.nonEmpty, s"no label snapshots under $labelsDir (seed v0 first)")
    versions.maxBy(_._1)._2
  }

  /** The latest snapshot version numbered ≤ `maxN` — the replay-stable
    * read for a micro-batch with id `maxN`: its own output version is
    * `v<maxN+1>`, so everything ≤ maxN is input state that existed (and
    * can never change) before the batch first ran. */
  def versionAtMost(spark: SparkSession, dir: String, maxN: Long): String = {
    val versions = versionDirs(spark, dir).filter(_._1 <= maxN)
    require(versions.nonEmpty,
      s"no snapshot version <= v$maxN under $dir (seed v0 first)")
    versions.maxBy(_._1)._2
  }

  /** The reference's batched micro-sink as a streaming sink (SURVEY.md §2.9:
    * S8 ↔ `foreachBatch`): every micro-batch is deduplicated, shaped into
    * documents, and delivered through the batched document transport with
    * per-record success accounting. Checkpointing + watermarked dedup give
    * the idempotent re-run semantics the reference approximates with its
    * dedup-before-upload pass. Returns the started query; reports accumulate
    * into `reports` (one per micro-batch). */
  /** Streaming CDC intake for the merge-on-read table
    * ([[graft.sinks.MorTable]]): each micro-batch of keyed change rows
    * (op "U" upserts, "D" deletes) lands as ONE sequence-numbered merge
    * — O(|batch|) bytes written, the standing table never read or
    * rewritten, which is the only sustainable shape for a change stream
    * feeding a 100 TB table (the eager j5 rewrite would move the whole
    * table per micro-batch). Sequence = batchId + 1 (the base snapshot
    * is 0), so tombstone ordering follows stream order, and a REPLAYED
    * batch — foreachBatch's at-least-once contract — re-runs merge at
    * the SAME sequence, whose overwrite commit CONVERGES instead of
    * duplicating rows: exactly-once table state on at-least-once
    * delivery, the same discipline as the indexed streaming screens.
    * One checkpoint owns one table for the query's lifetime (batch ids
    * must keep increasing across restarts — they do, under the same
    * checkpoint). Compaction stays an offline maintainer (j11's pass),
    * exactly like the vector-index and band-index loops. */
  def streamChangesToMor(changes: DataFrame, dir: String, keyCol: String,
                         opCol: String, checkpointDir: String)
    : StreamingQuery =
    eachBatch(changes, checkpointDir) { (batch, batchId) =>
      graft.sinks.MorTable.merge(batch.toDF(), dir, keyCol, opCol,
        batchId + 1)
    }

  /** Streaming LAKEHOUSE intake: every CDC micro-batch publishes as one
    * atomic Delta-protocol MERGE commit
    * ([[graft.sinks.DeltaExport.commitMergeByKey]]), version =
    * `firstVersion + batchId` — so external Delta readers follow the
    * stream snapshot by snapshot. Exactly-once on the engine's
    * at-least-once replay model comes from the version file's
    * create-if-absent gate alone: a redelivered batch maps to its
    * already-committed version and no-ops (-1), no txn action needed,
    * because the batch→version mapping is deterministic. The table must
    * hold `firstVersion - 1` committed versions before the stream starts
    * (the base publish). */
  /** CDC micro-batches → versioned Delta MERGE commits, exactly-once on
    * at-least-once replay via the protocol's `txn` action: every commit
    * records (appId, batchId), and a replayed batch whose id the table
    * has already seen no-ops. Unlike a fixed batch→version mapping, the
    * txn bookmark SURVIVES interleaved commits from other writers — a
    * nightly [[graft.sinks.DeltaExport.optimizeCompact]] between batches
    * shifts version numbers but never swallows a batch. `appId` defaults
    * to the checkpoint directory, the stream's stable identity across
    * restarts. */
  def streamChangesToDelta(changes: DataFrame, path: String, keyCol: String,
                           opCol: String, checkpointDir: String,
                           appId: String = null)
    : StreamingQuery = {
    val app = if (appId != null) appId else s"graft-delta:$checkpointDir"
    eachBatch(changes, checkpointDir) { (batch, batchId) =>
      graft.sinks.DeltaExport.commitMergeByKey(batch.sparkSession, path,
        batch.toDF(), keyCol, opCol,
        txn = Some((app, batchId))): Unit
    }
  }

  def streamToDocumentSink(
      events: DataFrame,
      writer: graft.sinks.DocumentSink.BatchWriter,
      checkpointDir: String,
      batchSize: Int = 1000,
      reports: scala.collection.mutable.Buffer[graft.sinks.DocumentSink.UploadReport] = null)
    : StreamingQuery =
    eachBatch(dedupEvents(events), checkpointDir) { (batch, _) =>
      val docs = graft.sinks.DocumentSink.prepare(
        batch, lit("events"), col("event_id"))
      val report = graft.sinks.DocumentSink.writeBatched(docs, writer, batchSize)
      if (reports != null) reports += report
    }
}
