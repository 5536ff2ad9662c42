package graft

import org.apache.spark.sql.functions._

import graft.schemes.ShuffledScheme
import graft.sources.{Indexed, SplitSource, Tables}
import graft.stream.DataStream
import graft.transform._

/** The canonical fuel program, end to end (SURVEY §3.1 — entry point A):
  *
  * ```python
  * train = MNIST(which_sets=('train',))                  # split-aware load
  * stream = DataStream.default_stream(train,
  *     iteration_scheme=ShuffledScheme(n, batch_size=32))  # seeded shuffle
  * for epoch in stream.iterate_epochs():                  # epoch loop
  *     for batch in epoch: ...
  * ```
  *
  * re-expressed on this engine, asserting the properties that program
  * relies on: split selection, seeded epoch reproducibility, default
  * transformer effects, batch shapes, and mid-epoch resume.
  */
class LifecycleSpec extends SparkSpec {

  test("Tables.load memoizes per session, and a discarded newSession that used it is garbage-collected") {
    // The session is made and dropped inside `use`; only the weak
    // reference outlives it. Tables.load's memo must not pin it. The
    // join is planned, not run: a run also pins the session for a while
    // in Spark's own query-stage pool threads, which inherit the session
    // active where they are spawned and keep it until they idle out.
    def use(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val s = spark.newSession()
      val orders = Tables.load(s, sf, "orders")
      // memoized per session: a second load is the same frame, and the
      // shared session has its own
      assert(Tables.load(s, sf, "orders") eq orders)
      assert(Tables.load(spark, sf, "orders") ne orders)
      orders.join(Tables.load(s, sf, "customer"), col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan
      new java.lang.ref.WeakReference(s)
    }
    val ref = use()
    var rounds = 0
    while (ref.get != null && rounds < 50) {
      System.gc()
      Thread.sleep(20)
      rounds += 1
    }
    assert(ref.get == null, s"the session is still reachable after $rounds GCs")
  }

  test("canonical program: split -> shuffled scheme -> defaults -> epoch loop") {
    // 1. split-aware load (H5PYDataset which_sets analog)
    val table = Tables.load(spark, sf, "customer")
    val train = SplitSource.assignSplit(table, col("c_custkey"), seed = 42,
        weights = Seq("train" -> 0.8, "valid" -> 0.2))
      .filter(col("split") === "train")

    // 2. default transformer chain (ScaleAndShift ∘ Cast(floatX) — the
    //    MNIST default pipeline, fuel/transformers/defaults.py:6-10)
    val defaults =
      ScaleAndShift(1.0 / 256, 0.0, Seq("c_acctbal")) andThen
      Cast("floatX", Seq("c_acctbal")) andThen
      FilterSources(Seq("c_custkey", "c_acctbal"))
    val prepared = defaults(train)

    // 3. seeded shuffled scheme over the stable index
    val stream = DataStream(
      Indexed.withIdx(prepared, Seq(col("c_custkey"))),
      ShuffledScheme(batchSize = 32, seed = 7),
      order = Seq(col("c_custkey")))

    // 4. epoch loop: batch shapes
    val epoch1 = stream.epochIterator().toSeq
    val n = prepared.count()
    assert(epoch1.map(_.size).sum == n)
    assert(epoch1.dropRight(1).forall(_.size == 32), "all but the last batch are full")
    assert(epoch1.last.size == (if (n % 32 == 0) 32 else n % 32))

    // scaled + cast: every value is a Float in the scaled range
    epoch1.head.foreach { row =>
      val v = row.getAs[Any](1)
      assert(v.isInstanceOf[Float], s"floatX cast lost: ${v.getClass}")
    }

    // 5. iterate_epochs: epoch 0 replays the base plan; epoch 1 RESHUFFLES
    //    (fuel's scheme rng advances across epochs — here deterministically
    //    as seed+epoch), still visiting every row, and any epoch is
    //    reproducible from (seed, epoch) alone
    val key1 = epoch1.flatMap(_.map(_.getLong(0)))
    val epochs = stream.iterateEpochs()
    assert(epochs.next().toSeq.flatMap(_.map(_.getLong(0))) == key1)
    val e1 = epochs.next().toSeq.flatMap(_.map(_.getLong(0)))
    assert(e1 != key1, "epoch 1 must reshuffle")
    assert(e1.sorted == key1.sorted, "every epoch visits every row exactly once")
    assert(stream.epochIterator(1).toSeq.flatMap(_.map(_.getLong(0))) == e1,
      "epoch 1 is reproducible from (seed, epoch)")
    assert(stream.iterateEpochs(reshuffle = false).drop(1).next().toSeq
      .flatMap(_.map(_.getLong(0))) == key1, "reshuffle=false replays epoch 0")
    val stream2 = DataStream(
      Indexed.withIdx(prepared, Seq(col("c_custkey"))),
      ShuffledScheme(batchSize = 32, seed = 7),
      order = Seq(col("c_custkey")))
    assert(stream2.epochIterator().toSeq.flatMap(_.map(_.getLong(0))) == key1)
    // ...and a different seed visits differently
    val other = DataStream(
      Indexed.withIdx(prepared, Seq(col("c_custkey"))),
      ShuffledScheme(batchSize = 32, seed = 8),
      order = Seq(col("c_custkey")))
    assert(other.epochIterator().toSeq.flatMap(_.map(_.getLong(0))) != key1)

    // 6. mid-epoch resume (the deterministic-replay answer to fuel's
    //    iterator pickling): resuming from position 64 yields exactly the
    //    batches after the first two — in any epoch's reshuffled order
    val resumed = stream.resumeFrom(64).toSeq
    assert(resumed.flatMap(_.map(_.getLong(0))) == key1.drop(64))
    assert(stream.resumeFrom(64, epoch = 1).toSeq.flatMap(_.map(_.getLong(0)))
      == e1.drop(64), "(seed, epoch, cursor) locates a point in any epoch")
  }
}
