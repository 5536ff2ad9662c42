package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.{SplitSource, Store, Synthetic}
import graft.streaming.Streaming

/** Streaming surface + split source + synthetic generators. */
class StreamingSpec extends SparkSpec {
  import SparkSpec.spark.implicits._
  private implicit def sqlCtx = spark.sqlContext

  test("windowedCounts aggregates an unbounded MemoryStream by event-time window") {
    val input = MemoryStream[Timestamp]
    val counts = Streaming.windowedCounts(
      input.toDF().toDF("ts"), "ts", "10 minutes", "1 minute")
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      input.addData(t(1), t(2), t(11), t(12), t(13))
      q.processAllAvailable()
      val got = spark.table("win_counts")
        .groupBy("win_start").agg(max("n_events").as("n"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
      assert(got("2024-01-01 00:00:00.0") == 2)
      assert(got("2024-01-01 00:10:00.0") == 3)
    } finally q.stop()
  }

  test("admitStream: each batch dedups against the store AND everything admitted before it") {
    def txt(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_admit_stream")
    val (corpusP, ckpt) = (s"$tmp/corpus", s"$tmp/ckpt")
    spark.sql("DROP TABLE IF EXISTS graft_admit_stream_store")
    spark.sql("DROP TABLE IF EXISTS graft_admit_stream_banded")
    // bootstrap: the frozen corpus is one doc E, in both bucketed stores
    val boot = graft.dedup.Dedup.signatureStore(
      Seq((1L, txt("e"))).toDF("doc_id", "text")
        .withColumn("ts", graft.text.TextOps.tokens(col("text"))),
      "doc_id", "text", "ts")
    Store.write(boot, Dedup.exactStore(),
      "graft_admit_stream_store", s"$tmp/store", buckets = 32, growing = true)
    Store.write(boot, Dedup.bandStore(4, 2),
      "graft_admit_stream_banded", s"$tmp/banded", buckets = 32, growing = true)

    val input = MemoryStream[(Long, String)]
    val q = Streaming.admitStream(
      input.toDF().toDF("doc_id", "text"), "graft_admit_stream_store", corpusP, ckpt,
      bandedTable = Some("graft_admit_stream_banded"))
    try {
      // batch 1: novel A + a copy of frozen E → only A admitted
      input.addData((10L, txt("a")), (11L, txt("e")))
      q.processAllAvailable()
      // batch 2: a copy of batch-1's A (must now be store-rejected: the
      // loop property), a near-dup of A, and novel B → only B admitted
      input.addData((20L, txt("a")), (21L, "zzz " + txt("a")), (22L, txt("b")))
      q.processAllAvailable()
      val corpus = spark.read.parquet(corpusP)
        .select("doc_id").as[Long].collect().toSet
      assert(corpus == Set(10L, 22L), s"expected {10, 22}, got $corpus")
      // both stores grew by exactly the admitted docs
      val storeIds = spark.table("graft_admit_stream_store")
        .select("doc_id").as[Long].collect().toSet
      assert(storeIds == Set(1L, 10L, 22L))
      val bandedIds = spark.table("graft_admit_stream_banded")
        .select("doc_id").as[Long].collect().toSet
      assert(bandedIds == Set(1L, 10L, 22L))

      // after two micro-batches (three __batch_id partitions, multiple
      // files per bucket) the store-side join is STILL exchange-free:
      // the bucket guarantee is per bucket id across batch partitions
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val batch3 = graft.dedup.Dedup.signatureStore(
          Seq((30L, txt("c"))).toDF("doc_id", "text")
            .withColumn("ts", graft.text.TextOps.tokens(col("text"))),
          "doc_id", "text", "ts")
        val p = batch3
          .join(spark.table("graft_admit_stream_store"), Seq("xkey"), "left_anti")
          .queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"),
          s"accumulated store scan must keep its bucket spec:\n$p")
        assert("Exchange hashpartitioning\\(xkey".r.findAllIn(p).length == 1,
          s"exactly ONE xkey exchange (the batch side) expected:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_admit_stream_store")
      spark.sql("DROP TABLE IF EXISTS graft_admit_stream_banded")
    }
  }

  test("admitSimhashStream: the Hamming admission loop matches the MinHash loop's story") {
    def txt(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    def rev(t: String) = t.split(" ").reverse.mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_simadmit_stream")
    val (corpusP, ckpt) = (s"$tmp/corpus", s"$tmp/ckpt")
    spark.sql("DROP TABLE IF EXISTS graft_simadmit_store")
    spark.sql("DROP TABLE IF EXISTS graft_simadmit_banded")
    val boot = graft.dedup.Dedup.simhashStore(
      Seq((1L, txt("e"))).toDF("doc_id", "text")
        .withColumn("ts", graft.text.TextOps.tokens(col("text"))),
      "doc_id", "text", "ts")
    Store.write(boot, Dedup.exactStore("simhash"),
      "graft_simadmit_store", s"$tmp/store", buckets = 32, growing = true)
    Store.write(boot, Dedup.simhashBandStore(4, 15),
      "graft_simadmit_banded", s"$tmp/banded", buckets = 32, growing = true)

    val input = MemoryStream[(Long, String)]
    val q = Streaming.admitSimhashStream(
      input.toDF().toDF("doc_id", "text"), "graft_simadmit_store", corpusP, ckpt,
      bandedTable = Some("graft_simadmit_banded"))
    try {
      // batch 1: novel A + a REVERSED copy of frozen E (simhash is
      // order-invariant: Hamming 0 under a new exact key — only the
      // banded near stage can reject it) → only A admitted
      input.addData((10L, txt("a")), (11L, rev(txt("e"))))
      q.processAllAvailable()
      // batch 2: verbatim batch-1 A (exact-cross vs the grown store),
      // reversed A (near-cross), novel B → only B admitted
      input.addData((20L, txt("a")), (21L, rev(txt("a"))), (22L, txt("b")))
      q.processAllAvailable()
      val corpus = spark.read.parquet(corpusP)
        .select("doc_id").as[Long].collect().toSet
      assert(corpus == Set(10L, 22L), s"expected {10, 22}, got $corpus")
      val storeIds = spark.table("graft_simadmit_store")
        .select("doc_id").as[Long].collect().toSet
      assert(storeIds == Set(1L, 10L, 22L))
      val bandedIds = spark.table("graft_simadmit_banded")
        .select("doc_id").as[Long].collect().toSet
      assert(bandedIds == Set(1L, 10L, 22L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_simadmit_store")
      spark.sql("DROP TABLE IF EXISTS graft_simadmit_banded")
    }
  }

  test("admitEmbeddingStream: the cosine admission loop matches the sketch loops' story") {
    def vec(parts: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(8)(0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_embadmit_stream")
    val (corpusP, ckpt) = (s"$tmp/corpus", s"$tmp/ckpt")
    spark.sql("DROP TABLE IF EXISTS graft_embadmit_store")
    spark.sql("DROP TABLE IF EXISTS graft_embadmit_bucket")
    val boot = graft.ann.Ann.embeddingStore(
      Seq(1L -> vec(0 -> 1.0)).toDF("vec_id", "embedding"), "vec_id", "embedding")
    Store.write(boot, Dedup.exactStore("qvec", "vec_id"),
      "graft_embadmit_store", s"$tmp/store", buckets = 32, growing = true)
    Store.write(boot, graft.ann.Ann.signBucketStore(dim = 8),
      "graft_embadmit_bucket", s"$tmp/bucket", buckets = 32, growing = true)

    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.admitEmbeddingStream(
      input.toDF().toDF("vec_id", "embedding"), "graft_embadmit_store",
      corpusP, ckpt, bucketTable = Some("graft_embadmit_bucket"), dim = 8)
    try {
      // batch 1: novel u3 + a SCALED copy of the frozen u0 — identical
      // qvec (quantize is scale-invariant), so the exact-cross tier
      // rejects it → only 10 admitted
      input.addData((10L, vec(3 -> 1.0)), (11L, vec(0 -> 2.5)))
      q.processAllAvailable()
      // batch 2: verbatim batch-1 u3 (exact-cross vs the GROWN store),
      // a near-dup of it (cos ≈ 0.9988 — the bucketed near tier), and
      // novel u4 → only 22 admitted
      input.addData((20L, vec(3 -> 1.0)), (21L, vec(3 -> 1.0, 5 -> 0.05)),
        (22L, vec(4 -> 1.0)))
      q.processAllAvailable()
      val corpus = spark.read.parquet(corpusP)
        .select("vec_id").as[Long].collect().toSet
      assert(corpus == Set(10L, 22L), s"expected {10, 22}, got $corpus")
      val storeIds = spark.table("graft_embadmit_store")
        .select("vec_id").as[Long].collect().toSet
      assert(storeIds == Set(1L, 10L, 22L))
      val bucketIds = spark.table("graft_embadmit_bucket")
        .select("vec_id").as[Long].collect().toSet
      assert(bucketIds == Set(1L, 10L, 22L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_embadmit_store")
      spark.sql("DROP TABLE IF EXISTS graft_embadmit_bucket")
    }
  }

  test("ivfIndexStream: frozen-quantizer appends across micro-batches, probe reaches new vectors") {
    def vec(parts: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(8)(0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_stream")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_stream_idx")
    val seed = Seq(1L -> vec(0 -> 1.0), 2L -> vec(1 -> 1.0), 3L -> vec(2 -> 1.0))
      .toDF("vec_id", "embedding")
    graft.ann.Ann.writeIvfIndex(seed, "graft_ivf_stream_idx",
      s"$tmp/index", "vec_id", "embedding", nCentroids = 3, buckets = 8,
      growing = true)
    val (_, cents) = graft.ann.Ann.readIvfIndex(spark, "graft_ivf_stream_idx",
      s"$tmp/index")
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.ivfIndexStream(input.toDF().toDF("vec_id", "embedding"),
      "graft_ivf_stream_idx", cents, s"$tmp/ckpt")
    try {
      input.addData((10L, vec(0 -> 1.0, 1 -> 0.2)))
      q.processAllAvailable()
      input.addData((20L, vec(2 -> 1.0, 0 -> 0.1)))
      q.processAllAvailable()
      val index = spark.table("graft_ivf_stream_idx")
      assert(index.count() == 5, "both batches landed")
      // probing with vector 20's direction must surface 20 itself
      val probe = graft.ann.Ann.ivfProbe(index, cents,
        Seq(99L -> vec(2 -> 1.0, 0 -> 0.1)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, nProbe = 3).collect()
      assert(probe.nonEmpty && probe(0).getLong(2) == 20L,
        s"probe must reach the streamed vector, got ${probe.toSeq}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_ivf_stream_idx")
    }
  }

  test("store batch landing is idempotent: a replayed batch overwrites its own partition") {
    def txt(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("ts", graft.text.TextOps.tokens(col("text")))
    def minhash(rows: (Long, String)*) =
      Dedup.signatureStore(docs(rows: _*), "doc_id", "text", "ts")
    def simhash(rows: (Long, String)*) =
      Dedup.simhashStore(docs(rows: _*), "doc_id", "text", "ts")
    // unit vectors along distinct axes: distinct qvecs, 8 dims
    def vecs(rows: (Long, Int)*) = graft.ann.Ann.embeddingStore(
      rows.map { case (id, axis) => id -> Seq.tabulate(8)(d => if (d == axis) 1f else 0f) }
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    // Every growing store kind: (kind, seed rows, batch rows, stored rows
    // per input row). The near tiers store one row per band / hash table.
    val kinds = Seq(
      (Dedup.exactStore(), minhash(1L -> txt("e")),
        minhash(10L -> txt("a"), 11L -> txt("b")), 1),
      (Dedup.bandStore(4, 2), minhash(1L -> txt("e")),
        minhash(10L -> txt("a"), 11L -> txt("b")), 4),
      (Dedup.simhashBandStore(4, 15), simhash(1L -> txt("e")),
        simhash(10L -> txt("a"), 11L -> txt("b")), 4),
      (graft.ann.Ann.signBucketStore(tables = 6, dim = 8), vecs(1L -> 0),
        vecs(10L -> 3, 11L -> 4), 6))
    val tmp = java.nio.file.Files.createTempDirectory("graft_store_replay")
    for ((kind, boot, sigs, perRow) <- kinds) {
      val t = s"graft_replay_${kind.name}"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      try {
        Store.write(boot, kind, t, s"$tmp/${kind.name}", buckets = 32, growing = true)
        Store.land(sigs, kind, t, 7L)
        val once = spark.table(t).count()
        // the at-least-once replay: same batch id lands again
        Store.land(sigs, kind, t, 7L)
        assert(spark.table(t).count() == once,
          s"${kind.name}: a replayed batch must overwrite its partition, not re-append")
        assert(once == 3 * perRow, s"${kind.name}: seed + batch rows expected, got $once")
        // batch -1 is the seed corpus: landing there would replace it
        val ex = intercept[IllegalArgumentException](Store.land(sigs, kind, t, -1L))
        assert(ex.getMessage.contains("reserved"))
        assert(spark.table(t).count() == once, s"${kind.name}: the seed partition must survive")
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("stream-stream interval join matches pairs within the window, drops the rest") {
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = Streaming.intervalJoin(
      clicks.toDF().toDF("cu", "cts"), buys.toDF().toDF("bu", "bts"),
      "cu", "bu", "cts", "bts", withinSeconds = 60)
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
      // user 1: click at 0s, buys at 30s (in) and 120s (out);
      // user 2: buy at 10s with no click — never emitted.
      clicks.addData((1L, t(0)))
      buys.addData((1L, t(30)), (1L, t(120)), (2L, t(10)))
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select("cu", "bts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
      assert(got == Set((1L, "2024-01-01 00:00:30.0")), s"got $got")
    } finally q.stop()
  }

  test("watermark drops late data: an event below the watermark cannot revise a window") {
    val input = MemoryStream[Timestamp]
    val counts = Streaming.windowedCounts(
      input.toDF().toDF("ts"), "ts", "10 minutes", "1 minute")
    val q = counts.writeStream.format("memory").queryName("late_counts")
      .outputMode("update").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
      input.addData(t(1), t(2))
      q.processAllAvailable()
      // advance the watermark far past the first window...
      input.addData(t(120))
      q.processAllAvailable()
      // ...then send an event 2 hours late into the first window
      input.addData(t(3))
      q.processAllAvailable()
      val first = spark.table("late_counts")
        .filter(col("win_start") === Timestamp.valueOf("2024-01-01 00:00:00"))
        .agg(max("n_events")).head().getLong(0)
      assert(first == 2, s"late event must be dropped, not counted (got $first)")
    } finally q.stop()
  }

  test("stateful sessionize carries session state across micro-batches") {
    val input = MemoryStream[(Long, Double)]
    val sessions = Streaming.sessionize(input.toDS(), gapSeconds = 100.0)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      input.addData((1L, 10.0), (1L, 50.0), (2L, 10.0))
      q.processAllAvailable()
      input.addData((1L, 90.0), (1L, 500.0)) // 90: same session; 500: new one
      // user 3: a session opened AND closed within one micro-batch must
      // still be emitted alongside the newly-opened one
      input.addData((3L, 10.0), (3L, 5000.0))
      q.processAllAvailable()
      val last = spark.table("sessions")
        .groupBy("userId").agg(max("sessionId").as("sid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last(1L) == 2L) // second session opened at t=500
      assert(last(2L) == 1L)
      val u3 = spark.table("sessions").filter(col("userId") === 3L)
        .select("sessionId", "nEvents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(u3 == Set((1L, 1L), (2L, 1L))) // both sessions visible
    } finally q.stop()
  }

  test("dedupStream keeps one row per key within the watermark horizon") {
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = Streaming.dedupStream(
      input.toDF().toDF("doc_hash", "ts"), Seq("doc_hash"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      // duplicates within one batch and across batches, inside the horizon
      input.addData((7L, t(1)), (7L, t(2)), (8L, t(1)))
      q.processAllAvailable()
      input.addData((7L, t(3)), (9L, t(4)))
      q.processAllAvailable()
      val keys = spark.table("dedup_stream").select("doc_hash")
        .collect().map(_.getLong(0)).toSeq
      assert(keys.sorted == Seq(7L, 8L, 9L), s"expected one row per key, got $keys")
    } finally q.stop()

    // the all-time variant needs no event-time column at all
    val input2 = MemoryStream[Long]
    val q2 = Streaming.dedupStreamAllTime(input2.toDF().toDF("k"), Seq("k"))
      .writeStream.format("memory").queryName("dedup_alltime")
      .outputMode("append").start()
    try {
      input2.addData(1L, 1L, 2L)
      q2.processAllAvailable()
      input2.addData(1L, 3L)
      q2.processAllAvailable()
      val ks = spark.table("dedup_alltime").collect().map(_.getLong(0)).toSeq
      assert(ks.sorted == Seq(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("streaming dedup agrees with the batch twin (Dedup.firstPerKey) on an ordered replay") {
    // dropDuplicates keeps the first ARRIVAL per key; Dedup.firstPerKey
    // keeps the earliest (ts, tie) row. On an event-time-ordered replay
    // (each micro-batch later than the last) the two must agree — the
    // q54 batch-twin contract.
    import graft.dedup.Dedup
    val rows = Seq(
      (1L, 10L, "click", Timestamp.valueOf("2024-01-01 00:01:00")),
      (2L, 10L, "view", Timestamp.valueOf("2024-01-01 00:02:00")),
      (3L, 10L, "click", Timestamp.valueOf("2024-01-01 00:03:00")), // dup
      (4L, 11L, "click", Timestamp.valueOf("2024-01-01 00:04:00")),
      (5L, 10L, "click", Timestamp.valueOf("2024-01-01 00:05:00"))) // dup
    val input = MemoryStream[(Long, Long, String, Timestamp)]
    val q = Streaming.dedupStreamAllTime(
        input.toDF().toDF("event_id", "user_id", "event_type", "ts"),
        Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_twin")
      .outputMode("append").start()
    try {
      rows.foreach { r => input.addData(r); q.processAllAvailable() }
      val streamed = spark.table("dedup_twin").select("event_id")
        .collect().map(_.getLong(0)).toSet
      val batch = Dedup.firstPerKey(
          rows.toDF("event_id", "user_id", "event_type", "ts"),
          Seq("user_id", "event_type"), "ts", "event_id")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(batch == Set(1L, 2L, 4L))
      assert(streamed == batch, "streaming and batch dedup must keep the same rows")
    } finally q.stop()
  }

  test("StreamServer: foreachBatch feeds a bounded queue (ServerDataStream analog)") {
    val input = MemoryStream[Long]
    val (queue, q) = Streaming.serve(input.toDF().toDF("v"), capacity = 10)
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      val batch = Streaming.nextBatch(queue, 5000)
      assert(batch.isDefined)
      assert(batch.get.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("windowedHistogram: stream output == batch twin, and driftFromHistograms flags the shifted window") {
    val input = MemoryStream[(Timestamp, Double)]
    val hist = Streaming.windowedHistogram(
      input.toDF().toDF("ts", "v"), "ts", "v", "10 minutes", "1 minute",
      lo = 0.0, width = 10.0, nBuckets = 4)
    val q = hist.writeStream.format("memory").queryName("win_hist")
      .outputMode("update").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      // window 0: values in bucket 0; window 1: shifted into bucket 3
      val rows = Seq((t(1), 1.0), (t(2), 5.0), (t(3), 8.0),
        (t(11), 35.0), (t(12), 39.0), (t(13), 99.0)) // 99 clamps to bucket 3
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("win_hist")
        .groupBy("win_start", "bucket").agg(max("n").as("n"))
      val batch = Streaming.windowedHistogram(
        rows.toDF("ts", "v"), "ts", "v", "10 minutes", "1 minute",
        0.0, 10.0, 4)
      assert(streamed.collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet, "stream must equal the batch twin")
      // drift assembly over the materialized histogram: reference = all
      // values; the shifted window carries ALL the positive PSI terms in
      // buckets where it diverges, and the spine is complete (4 buckets
      // per window even where n = 0)
      val ref = batch.groupBy("bucket").agg(sum("n").as("n_ref"))
      val drift = graft.operators.Drift
        .driftFromHistograms(streamed, ref, 4)
        .collect()
      assert(drift.length == 8, s"2 windows x 4 spine buckets, got ${drift.length}")
      val byWin = drift.groupBy(_.getTimestamp(0).toString)
      assert(byWin.forall(_._2.map(_.getLong(6)).forall(_ >= 0L)))
      assert(byWin.values.forall(_.map(r => r.getLong(1)).toSet == Set(0L, 1L, 2L, 3L)))
      assert(drift.map(_.getLong(6)).sum > 0L, "a shifted window must register drift")
    } finally q.stop()
  }

  test("text curation is streaming-transparent: stream results == batch twin") {
    // The LLM-ingest property: langId/quality/normalize are pure
    // projections, so the SAME columns run unchanged over an unbounded
    // source and agree row-for-row with the batch computation.
    import graft.text.TextOps
    val docs = Seq(
      (1L, "the cat and the dog"),
      (2L, "el perro y la casa"),
      (3L, "Short!!  TEXT, 42 things..."))
    def curated(df: org.apache.spark.sql.DataFrame) = {
      val toks = TextOps.tokens(lower(col("text")))
      df.select(Seq(col("doc_id"), TextOps.normalize(col("text")).as("norm"),
        TextOps.regexTokenCount(col("text")).as("n_regex_toks")) ++
        TextOps.langId(toks) ++ TextOps.qualityColumns(col("text"), toks): _*)
    }
    val input = MemoryStream[(Long, String)]
    val q = curated(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated_stream").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("curated_stream").collect().map(_.toSeq).sortBy(_.head.toString)
      val batch = curated(docs.toDF("doc_id", "text")).collect().map(_.toSeq).sortBy(_.head.toString)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.length == 3)
    } finally q.stop()
  }

  test("split assignment is deterministic, complete, and pruned on read") {
    val cust = graft.sources.Tables.load(spark, sf, "customer")
    val weights = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val a = SplitSource.assignSplit(cust, col("c_custkey"), 42, weights)
    val b = SplitSource.assignSplit(cust, col("c_custkey"), 42, weights)
    assert(a.select("c_custkey", "split").collect().toSet ==
      b.select("c_custkey", "split").collect().toSet)
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == cust.count())
    assert(counts("train") > counts.getOrElse("valid", 0L))

    val dir = java.nio.file.Files.createTempDirectory("graft_split").toString
    SplitSource.write(a, dir)
    val train = SplitSource.read(spark, dir, "train")
    assert(train.count() == counts("train"))
    // the split filter must be a partition filter (pruned scan), not a row filter
    val plan = train.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"))
  }

  test("stratifiedSample rebalances per stratum, deterministically, as a pure filter") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    def run() = SplitSource.stratifiedSample(docs, col("lang"), col("doc_id"), seed = 5,
      fractions = Seq("en" -> 0.3, "zh" -> 1.0), defaultFraction = 0.5)
    assert(run().select("doc_id").collect().toSet == run().select("doc_id").collect().toSet)
    val total = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run().groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("zh") == total("zh"), "fraction 1.0 keeps every row")
    assert(kept("en") < total("en"), "dominant stratum is downsampled")
    // listed-stratum sampling is independent of unlisted strata
    assert(kept.getOrElse("fr", 0L) <= total("fr"))
    // a pure filter: no shuffle in the sampling itself
    val plan = run().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"stratified sample must not shuffle:\n$plan")
    intercept[IllegalArgumentException] {
      SplitSource.stratifiedSample(docs, col("lang"), col("doc_id"), 5, Seq("en" -> 1.5))
    }
  }

  test("Spiral/SwissRoll: seeded determinism and manifold geometry") {
    val s1 = Synthetic.spiral(spark, 500, classes = 3, cycles = 1.0, seed = 7)
    val s2 = Synthetic.spiral(spark, 500, classes = 3, cycles = 1.0, seed = 7)
    assert(s1.collect().map(_.toSeq).toSeq == s2.collect().map(_.toSeq).toSeq)
    // radius in [1/3, 1]: r = (2*pos+1)/3, pos in [0,1)
    val radii = s1.select(sqrt(col("x") * col("x") + col("y") * col("y"))).collect()
      .map(_.getDouble(0))
    assert(radii.forall(r => r >= 1.0 / 3 - 1e-6 && r <= 1.0 + 1e-6))
    assert(s1.select("label").distinct().count() == 3)

    val roll = Synthetic.swissRoll(spark, 500, seed = 3).collect()
    roll.foreach { r =>
      val (x, y, z) = (r.getFloat(1), r.getFloat(2), r.getFloat(3))
      val radius = math.sqrt(x.toDouble * x + y.toDouble * y)
      assert(radius >= 1.0 / 3 - 1e-6 && radius <= 1.0 + 1e-6)
      assert(z >= -1.0 - 1e-6 && z <= 1.0 + 1e-6)
    }
  }
}
