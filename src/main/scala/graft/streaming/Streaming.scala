package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{BlockingQueue, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.sources.Store
import graft.text.Admission

/** Structured Streaming surface (SURVEY.md §2.6 streaming rows + the
  * ServerDataStream/start_server analog, reference: fuel/streams.py:186-256,
  * fuel/server.py:84-131).
  *
  * fuel crosses a process boundary with ZMQ PUSH/PULL and HWM=10
  * backpressure; in Spark the executor/driver split plus streaming
  * micro-batches replace the transport, and backpressure maps to
  * `maxOffsetsPerTrigger`/trigger intervals. [[StreamServer]] keeps the
  * shape of the API: a producer pushing epoch batches into a bounded queue
  * a consumer drains.
  */
object Streaming {

  /** Event-time tumbling-window aggregation with a watermark for late data
    * (works identically on batch DataFrames — see q34's batch twin). */
  def windowedCounts(events: DataFrame, tsCol: String, windowLength: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("n_events"))

  /** Per-event-time-window value HISTOGRAM on a declared grid — the
    * streaming half of the drift monitor: each tumbling window's values
    * bucket exactly as [[graft.operators.Drift.histogramDrift]] buckets
    * them (one IEEE floor, clamped to the declared [lo, lo+width·n)
    * grid), aggregated under a watermark so state stays bounded. Emit
    * to a sink table, then [[graft.operators.Drift.driftFromHistograms]]
    * assembles PSI-vs-reference per window over the (tiny) histogram
    * frame — the admitStream store-then-batch pattern applied to
    * monitoring. Works identically on a batch frame (the q209 twin,
    * which is how the stream output is oracled). Output: (win_start,
    * bucket, n). */
  def windowedHistogram(events: DataFrame, tsCol: String, valueCol: String,
      windowLength: String, watermark: String,
      lo: Double, width: Double, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"windowedHistogram: nBuckets must be >= 2, got $nBuckets")
    require(width > 0, s"windowedHistogram: width must be positive, got $width")
    val raw = floor((col(valueCol) - lit(lo)) / lit(width)).cast("long")
    events
      .withWatermark(tsCol, watermark)
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tsCol),
        least(greatest(raw, lit(0L)), lit(nBuckets.toLong - 1)).as("bucket"))
      .groupBy(window(col(tsCol), windowLength).as("w"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("bucket"), col("n"))
  }

  /** Stream-stream event-time INTERVAL join — the two-unbounded-sides
    * capability (Spark buffers both sides in watermark-bounded state;
    * the time-range predicate is what lets it evict: without it the
    * state grows forever): right events joined to left events of the
    * same key occurring within `withinSeconds` AFTER the left (the
    * click→purchase attribution shape — the streaming twin of
    * [[graft.operators.Events.withinWindowPairs]]' batch pair join and
    * q44's as-of). Both sides MUST carry watermarks for state
    * eviction; matches later than the watermark horizon are dropped by
    * construction (document the horizon, don't discover it in prod).
    * Key columns must be distinctly named (rename before calling). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      withinSeconds: Long, watermark: String = "2 minutes"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs AND " +
          s"$rightTs <= $leftTs + interval $withinSeconds seconds"))

  /** One user's open session state for [[sessionize]]. */
  case class SessionState(sessionId: Long, lastEpochS: Double, nEvents: Long)
  case class SessionOut(userId: Long, sessionId: Long, nEvents: Long)

  /** Stateful gap sessionization via flatMapGroupsWithState — fuel's only
    * stateful operators are pull-iterator carry-overs (Window/Cache,
    * SURVEY §2.6 "stateful streaming ops"); this is the Spark-native
    * equivalent with explicit keyed state. Emits EVERY session touched in
    * the micro-batch — sessions both opened and closed within one batch
    * included — plus the still-open one (update mode). */
  def sessionize(events: Dataset[(Long, Double)], gapSeconds: Double):
      Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(0L, Double.NegativeInfinity, 0L))
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { t =>
            if (t - st.lastEpochS > gapSeconds) {
              if (st.sessionId > 0) closed += SessionOut(userId, st.sessionId, st.nEvents)
              st = SessionState(st.sessionId + 1, t, 1L)
            } else st = SessionState(st.sessionId, t, st.nEvents + 1)
          }
          state.update(st)
          (closed :+ SessionOut(userId, st.sessionId, st.nEvents)).iterator
      }
  }

  /** Streaming exact dedup — the streaming twin of [[graft.dedup.Dedup.exact]]
    * for continuous ingest: keep the first occurrence of each key, where
    * duplicate suppression is bounded by the watermark (state for keys
    * older than the watermark is dropped, so state size tracks the
    * late-data horizon, not the full corpus — the only state discipline
    * that survives an unbounded stream). */
  def dedupStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming dedup ignoring event time entirely (state grows with the
    * number of distinct keys — for bounded key domains). */
  def dedupStreamAllTime(stream: DataFrame, keyCols: Seq[String]): DataFrame =
    stream.dropDuplicates(keyCols)

  /** The incremental-curation loop as a STREAM: each micro-batch of raw
    * (doc_id, text) docs dedups against the signature store via
    * [[graft.text.Curation.admit]], the admitted docs land under
    * `corpusPath`, and their signatures land in the store — so batch
    * N+1 dedups against the frozen corpus AND everything admitted through
    * batch N. This is [[graft.text.Curation.materialize]]'s loop-closure
    * story under continuous arrival (fuel's converter-then-reload cycle,
    * fuel/converters/base.py:50-104, with the reload happening per
    * micro-batch).
    *
    * `storeTable` is a growing [[graft.dedup.Dedup.exactStore]]
    * [[graft.sources.Store]] — bootstrap it from the existing corpus's
    * signatureStore (or an empty frame for a from-scratch corpus).
    * Reading through the catalog keeps the xkey bucket spec, so the
    * exact-cross anti-join's store side never re-shuffles, however many
    * batches have accumulated (StreamingSpec pins the plan after two).
    * Pass `bandedTable` (a growing [[graft.dedup.Dedup.bandStore]]) to
    * give the NEAR join the same treatment — without it the fused path
    * re-bands the store's signature stream each batch, which at corpus
    * scale dwarfs the batch itself. The loop itself is
    * [[admissionLoop]]'s. */
  def admitStream(docs: DataFrame, storeTable: String, corpusPath: String,
      checkpoint: String, bandedTable: Option[String] = None,
      bands: Int = 4, rowsPerBand: Int = 2): StreamingQuery =
    admissionLoop(withTokens(docs), storeTable, corpusPath, checkpoint,
      Admission.minhash(bands, rowsPerBand), bandedTable)

  /** [[admitStream]] at SimHash parity — the streaming admission loop for
    * a corpus that dedups by Hamming distance: each micro-batch admits
    * via [[graft.text.Curation.admitSimhash]] against the simhash store
    * as of the batch boundary, lands the admitted docs and their
    * (xkey, simhash) signatures idempotently, and grows the store for
    * batch N+1. `storeTable` is a growing
    * [[graft.dedup.Dedup.exactStore]]`("simhash")` store; pass
    * `bandedTable` (a growing [[graft.dedup.Dedup.simhashBandStore]]) to
    * keep the Hamming near join's store side exchange-free per batch. */
  def admitSimhashStream(docs: DataFrame, storeTable: String, corpusPath: String,
      checkpoint: String, bandedTable: Option[String] = None,
      bands: Int = 4, bitsPerBand: Int = 15, maxHamming: Int = 3): StreamingQuery =
    admissionLoop(withTokens(docs), storeTable, corpusPath, checkpoint,
      Admission.simhash(bands = bands, bitsPerBand = bitsPerBand,
        maxHamming = maxHamming), bandedTable)

  /** [[admitStream]] at EMBEDDING parity — incremental admission for a
    * vector corpus that dedups by cosine: each micro-batch admits via
    * [[graft.text.Curation.admitEmbedding]] against the embedding store
    * as of the batch boundary, lands the admitted vectors and their
    * (xkey, qvec) rows idempotently, and grows the store for batch N+1.
    * `storeTable` is a growing
    * [[graft.dedup.Dedup.exactStore]]`("qvec", "vec_id")` store; pass
    * `bucketTable` (a growing [[graft.ann.Ann.signBucketStore]]) to keep
    * the cosine near join's store side exchange-free per batch. */
  def admitEmbeddingStream(vecs: DataFrame, storeTable: String,
      corpusPath: String, checkpoint: String,
      bucketTable: Option[String] = None, threshold: Double = 0.99,
      seed: Long = 42, tables: Int = 6, planes: Int = 8,
      dim: Int = 64): StreamingQuery =
    admissionLoop(vecs, storeTable, corpusPath, checkpoint,
      Admission.embedding(threshold, seed, tables, planes, dim), bucketTable)

  private def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("ts", graft.text.TextOps.tokens(col("text")))

  /** The one foreachBatch body of the three admission streams. Each
    * micro-batch is admitted by `family` against the exact store (and
    * the `nearTable`, when given) as of the batch boundary; the admitted
    * rows land under `corpusPath`, and their signatures land in both
    * stores via [[graft.sources.Store.land]], so batch N+1 sees
    * everything admitted through batch N. foreachBatch is the right tool, not a
    * stream-stream join: admission needs the store AS OF the batch
    * boundary (a self-feeding loop no watermark can express), and each
    * batch re-reads the table so the previous batch's landing is visible.
    *
    * Replay semantics: foreachBatch is at-least-once, so every sink here
    * is keyed by `batchId` and OVERWRITES — the corpus write uses
    * per-batch dynamic-partition overwrite, the store landings overwrite
    * their batch's own partition — making the whole batch idempotent: a
    * crash between writes replays into the same partitions instead of
    * re-appending (the r6 corruption hazard). The per-batch persists
    * inside the admit calls are batch-scoped, so the loop clears the
    * session cache after each batch — run admission as its own job, not
    * inside a session whose caches you need. */
  private def admissionLoop(rows: DataFrame, storeTable: String,
      corpusPath: String, checkpoint: String, family: Admission,
      nearTable: Option[String]): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // localCheckpoint (eager), not persist: a store landing refuses a
        // target its SELECT's lineage also reads, and the admitted frame's
        // lineage reads the store tables. Checkpointing truncates the plan
        // to the materialized batch-sized RDD, which both landings then
        // reference. (Executor-local: a lost executor fails the batch —
        // foreachBatch replays it, and every sink here overwrites.)
        val admitted = family(batch, Store.read(spark, storeTable),
          nearTable.map(Store.read(spark, _))).localCheckpoint(true)
        admitted.withColumn(Store.BatchCol, lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(Store.BatchCol).parquet(corpusPath)
        val sigs = family.signatures(admitted).persist()
        Store.land(sigs, family.exact, storeTable, batchId)
        nearTable.foreach(Store.land(sigs, family.near, _, batchId))
        sigs.unpersist()
        spark.catalog.clearCache()
        ()
      }
      .start()

  /** Maintain a growing [[graft.ann.Ann.writeIvfIndex]] ANN index
    * from a vector stream: each micro-batch is assigned by the FROZEN
    * quantizer (`centroids` — retraining per batch would re-bucket the
    * stored lists, a rebuild, not maintenance) and lands via
    * [[graft.ann.Ann.appendIvfBatch]]'s overwrite of its own batch
    * partition, so foreachBatch's at-least-once replay overwrites
    * instead of duplicating — the admission streams' idempotency
    * discipline applied to the ANN index artifact. */
  def ivfIndexStream(vecs: DataFrame, indexTable: String,
      centroids: Array[Array[Double]], checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ann.Ann.appendIvfBatch(batch, indexTable, centroids, batchId,
          idCol, vecCol)
        ()
      }
      .start()

  /** ServerDataStream analog: drive a streaming DataFrame into a bounded
    * in-process queue via foreachBatch — producer/consumer with HWM-style
    * backpressure (`capacity` plays fuel's hwm=10). Returns the queue and
    * the running query; the consumer drains with [[nextBatch]]. */
  def serve(stream: DataFrame, capacity: Int = 10): (BlockingQueue[Seq[Row]], StreamingQuery) = {
    val queue = new LinkedBlockingQueue[Seq[Row]](capacity)
    val query = stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val rows = batch.collect().toSeq
        if (rows.nonEmpty) queue.put(rows) // blocks when full = backpressure
      }
      .start()
    (queue, query)
  }

  /** Blocking consumer pull with timeout (recv_arrays analog). */
  def nextBatch(queue: BlockingQueue[Seq[Row]], timeoutMs: Long): Option[Seq[Row]] =
    Option(queue.poll(timeoutMs, TimeUnit.MILLISECONDS))
}
