package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.schemes._
import graft.sources.{Indexed, PrefixSum, Tables}
import graft.stream.DataStream

/** Scheme semantics in the spirit of the reference's tests/test_schemes.py:
  * exact request sequences, seeded reproducibility, fold boundaries. */
class SchemesSpec extends SparkSpec {
  private def supplier = Tables.load(spark, sf, "supplier") // 10 rows at sf0.001
  private def indexed = Indexed.withIdx(supplier, Seq(col("s_suppkey")))

  test("withIdx assigns a contiguous 0-based index in key order") {
    val rows = indexed.orderBy("__idx").select("s_suppkey", "__idx").collect()
    assert(rows.map(_.getLong(1)).toSeq == rows.indices.map(_.toLong))
    // index order == key order
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sorted.toSeq)
  }

  test("Indexed.slice selects [start, stop) like fuel's Subset") {
    val sliced = Indexed.slice(indexed, 2, 6).orderBy("__idx")
      .select("__idx").collect().map(_.getLong(0)).toSeq
    assert(sliced == Seq(2L, 3L, 4L, 5L))
    assert(Indexed.slice(indexed, 4, 4).count() == 0) // empty slice is legal
    intercept[IllegalArgumentException] { Indexed.slice(indexed, 5, 2) }
  }

  test("SequentialScheme partitions consecutive indices into batches, last short") {
    val n = indexed.count()
    val out = Schemes.compile(indexed, SequentialScheme(3))
      .orderBy("__pos").select("__idx", "__batch_id").collect()
    assert(out.map(_.getLong(0)).toSeq == (0L until n))
    assert(out.map(_.getLong(1)).toSeq == (0L until n).map(_ / 3))
  }

  test("ShuffledScheme: same seed => identical permutation; different seed differs") {
    def perm(seed: Long): Seq[Long] =
      Schemes.compile(indexed, ShuffledScheme(3, seed))
        .orderBy("__pos").select("__idx").collect().map(_.getLong(0)).toSeq
    val p1a = perm(1); val p1b = perm(1); val p2 = perm(2)
    assert(p1a == p1b)
    assert(p1a != p2)
    assert(p1a.sorted == (0L until indexed.count()))
    // a real shuffle, not the identity
    assert(p1a != (0L until indexed.count()).toSeq)
  }

  test("ShuffledScheme(sortedIndices): batch membership as shuffled, in-batch ascending") {
    val plain = Schemes.compile(indexed, ShuffledScheme(3, seed = 1))
      .select(col("__idx"), col("__batch_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val sorted = Schemes.compile(indexed, ShuffledScheme(3, seed = 1, sortedIndices = true))
      .orderBy("__pos").select("__idx", "__batch_id").collect()
    // same batch assignment
    sorted.foreach(r => assert(plain(r.getLong(0)) == r.getLong(1)))
    // ascending __idx within each batch
    sorted.groupBy(_.getLong(1)).values.foreach { batch =>
      val idxs = batch.map(_.getLong(0)).toSeq
      assert(idxs == idxs.sorted)
    }
  }

  test("ConstantScheme bounds: numExamples gives short last batch; times truncates") {
    val byN = Schemes.compile(indexed, ConstantScheme(4, numExamples = Some(7)))
      .groupBy("__batch_id").count().orderBy("__batch_id").collect()
    assert(byN.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 4L), (1L, 3L)))
    val byTimes = Schemes.compile(indexed, ConstantScheme(4, times = Some(2)))
    assert(byTimes.count() == 8)
  }

  test("PrefixSum equals the window cumulative sum at any input partitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = supplier.select(col("s_suppkey"), (col("s_suppkey") * 3 % 7).cast("bigint").as("v"))
    val expected = df
      .withColumn("off", sum("v").over(
        Window.orderBy("s_suppkey").rowsBetween(Window.unboundedPreceding, -1)))
      .na.fill(0, Seq("off"))
      .orderBy("s_suppkey").select("s_suppkey", "off")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val colSum = df.agg(sum("v")).head.getLong(0)
    for (parts <- Seq(1, 3, 8)) {
      val got = PrefixSum
        .withPrefixSum(df.repartition(parts), Seq(col("s_suppkey")), "v", "off")
        .orderBy("s_suppkey").select("s_suppkey", "off")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"prefix sum diverged at $parts input partitions")
      val (_, total) = PrefixSum
        .withPrefixSumTotal(df.repartition(parts), Seq(col("s_suppkey")), "v", "off")
      assert(total == colSum, s"prefix sum total diverged at $parts input partitions")
    }
    assertNullFails(df, PrefixSum.withPrefixSum(_, Seq(col("s_suppkey")), "v", "off"))
  }

  /** A NULL value fails loudly wherever it lands: at 1 partition phase 1
    * starts no job and phase 2 catches it when the frame is read; at 8
    * (uncoalesced) phase 1 reads partition 0, where the NULL row's smallest
    * key sorts, and fails while the frame is built. */
  private def assertNullFails(df: org.apache.spark.sql.DataFrame,
      scan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val withNull = df.withColumn("v",
      when(col("s_suppkey") === 1, lit(null).cast("bigint")).otherwise(col("v")))
    val one = scan(withNull.coalesce(1))
    val late = intercept[Exception](one.collect())
    assert(messageChain(late).contains("NULL in value column 'v'"), messageChain(late))
    val coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val early = intercept[Exception](scan(withNull.repartition(8)))
      assert(messageChain(early).contains("NULL in value column 'v'"), messageChain(early))
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
  }

  test("PrefixMax equals the window cumulative max at any input partitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = supplier.select(col("s_suppkey"), (col("s_suppkey") * 5 % 11).cast("bigint").as("v"))
    val expected = df
      .withColumn("pm", max("v").over(
        Window.orderBy("s_suppkey").rowsBetween(Window.unboundedPreceding, -1)))
      .na.fill(Long.MinValue, Seq("pm"))
      .orderBy("s_suppkey").select("s_suppkey", "pm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (parts <- Seq(1, 3, 8)) {
      val got = PrefixSum
        .withPrefixMax(df.repartition(parts), Seq(col("s_suppkey")), "v", "pm")
        .orderBy("s_suppkey").select("s_suppkey", "pm")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"prefix max diverged at $parts input partitions")
    }
    assertNullFails(df, PrefixSum.withPrefixMax(_, Seq(col("s_suppkey")), "v", "pm"))
  }

  test("ConcatenatedScheme closed-form offsets are exact with bounded Constant segments") {
    // supplier has 10 rows: segment 1 = Constant(4, numExamples=7) -> 7 rows,
    // batches {0,1}; segment 2 = Sequential(5) -> 10 rows, batches continue
    // at 2 with ceil(10/5)=2 more.
    val out = Schemes.compile(indexed,
        ConcatenatedScheme(Seq(ConstantScheme(4, numExamples = Some(7)), SequentialScheme(5))))
      .orderBy("__pos").select("__pos", "__batch_id").collect()
    assert(out.length == 17)
    assert(out.map(_.getLong(0)).toSeq == (0L until 17L))
    val batches = out.map(_.getLong(1)).toSeq
    assert(batches.take(7) == Seq(0L, 0, 0, 0, 1, 1, 1))
    assert(batches.drop(7) == Seq(2L, 2, 2, 2, 2, 3, 3, 3, 3, 3))
    assert(Schemes.numExamples(ConstantScheme(4, times = Some(2)), 10) == 8)
    assert(Schemes.numBatches(ConstantScheme(4, numExamples = Some(7)), 10) == 2)
  }

  test("ConcatenatedScheme: positions and batch ids continue across segments") {
    val n = indexed.count()
    val out = Schemes.compile(indexed,
        ConcatenatedScheme(Seq(SequentialScheme(4), ShuffledScheme(4, seed = 5))))
      .orderBy("__pos").select("__idx", "__pos", "__batch_id").collect()
    assert(out.length == 2 * n)
    assert(out.map(_.getLong(1)).toSeq == (0L until 2 * n))
    // second epoch segment revisits every index
    assert(out.drop(n.toInt).map(_.getLong(0)).sorted.toSeq == (0L until n))
    // batch ids: ceil(n/4) in segment 1, continuing in segment 2
    val nb1 = (n + 3) / 4
    assert(out.drop(n.toInt).map(_.getLong(2)).min == nb1)
  }

  test("cross_validation: fuel fold boundaries, strict divisibility enforced") {
    // n=10, k=5 -> folds of 2
    val folds = Schemes.crossValidation(indexed, 10, 5)
    assert(folds.size == 5)
    folds.zipWithIndex.foreach { case ((train, valid), i) =>
      assert(valid.count() == 2)
      assert(train.count() == 8)
      val vIdx = valid.select("__idx").collect().map(_.getLong(0)).sorted
      assert(vIdx.toSeq == Seq(2L * i, 2L * i + 1))
    }
    intercept[IllegalArgumentException] {
      Schemes.crossValidation(indexed, 10, 3)
    }
    // foldId closed form matches the boundary definition for awkward n/k
    for (n <- Seq(10L, 11L, 17L); k <- Seq(3, 5)) {
      val expected = (0L until n).map { p =>
        (0 until k).find(i => n * i / k <= p && p < n * (i + 1) / k).get.toLong
      }
      val df = spark.range(n).toDF("__idx")
      val got = df.select(Schemes.foldId(col("__idx"), n, k)).collect().map(_.getLong(0)).toSeq
      assert(got.sorted == expected.sorted)
      assert(got == expected, s"foldId mismatch for n=$n k=$k")
    }
  }

  test("epoch driver: batches arrive in scheme order with scheme-sized groups") {
    val stream = DataStream(supplier, ShuffledScheme(3, seed = 1), Seq(col("s_suppkey")))
    val batches = stream.epochIterator().toSeq
    val n = supplier.count()
    assert(batches.map(_.size).sum == n)
    assert(batches.init.forall(_.size == 3))
    // replay: second epoch identical (deterministic plan)
    val again = stream.epochIterator().toSeq
    assert(batches.map(_.map(_.toSeq)) == again.map(_.map(_.toSeq)))
    // resume mid-epoch: batches starting at pos >= 6 are the tail
    val tail = stream.resumeFrom(6).toSeq
    assert(tail.map(_.map(_.toSeq)) == batches.drop(2).map(_.map(_.toSeq)))
  }

  test("epochIterator and resumeFrom equal a driver-side sort of the compiled epoch") {
    // The iterator orders by __pos alone and lets the planner skip the sort
    // where the frame declares it; the reference collects the compiled
    // frame and sorts by (__batch_id, __pos) on the driver, grouping by
    // batch id (batch schemes) or one row per batch (example schemes).
    def reference(df: org.apache.spark.sql.DataFrame, cursor: Long): Seq[Seq[Seq[Any]]] = {
      val hasBatch = df.columns.contains(Schemes.BatchId)
      val data = df.columns.filterNot(Set(Indexed.Idx, Schemes.Pos, Schemes.BatchId)).toSeq
      def key(r: Row) = r.getAs[Long](if (hasBatch) Schemes.BatchId else Schemes.Pos)
      df.collect().toSeq
        .filter(_.getAs[Long](Schemes.Pos) >= cursor)
        .sortBy(r => (key(r), r.getAs[Long](Schemes.Pos)))
        .groupBy(key).toSeq.sortBy(_._1)
        .map(_._2.map(r => data.map(c => r.getAs[Any](c))))
    }
    // Uncoalesced shuffles keep the zipped frames multi-partition, so the
    // declared order is exercised across partition boundaries.
    val customers = Tables.load(spark, sf, "customer").select("c_custkey", "c_name")
    val schemes = Seq(SequentialScheme(3), SequentialExampleScheme(), ShuffledScheme(3, seed = 1),
      ShuffledScheme(3, seed = 1, sortedIndices = true), ShuffledExampleScheme(seed = 2),
      ConstantScheme(4, numExamples = Some(70)),
      ConcatenatedScheme(Seq(ConstantScheme(4, numExamples = Some(70)), ShuffledScheme(4, seed = 5))))
    val coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try for (scheme <- schemes; epoch <- Seq(0, 1)) {
      val stream = DataStream(customers, scheme, Seq(col("c_custkey")))
      assert(stream.epochIterator(epoch).map(_.map(_.toSeq)).toSeq ==
        reference(stream.compiledForEpoch(epoch), 0), s"$scheme epoch $epoch")
      // cursor 61 is mid-batch for both batch sizes
      assert(stream.resumeFrom(61, epoch).map(_.map(_.toSeq)).toSeq ==
        reference(stream.compiledForEpoch(epoch), 61), s"$scheme resumed at 61, epoch $epoch")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
  }
}
