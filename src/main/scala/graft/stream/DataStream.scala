package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

import graft.schemes.{ConcatenatedScheme, IterationScheme, Schemes,
  SequentialExampleScheme, ShuffledExampleScheme, ShuffledScheme}
import graft.sources.Indexed

/** The consumption API — fuel's DataStream + DataIterator (reference:
  * fuel/streams.py:96-183, fuel/iterator.py:28-36): a dataset plus an
  * iteration scheme, yielding epochs of minibatches to a (driver-side)
  * training loop.
  *
  * Execution model: fuel's request iterator cuts an epoch into batches on
  * the driver (fuel/schemes.py:180-229), and so does this one. An epoch is
  * its scheme's segments ([[Schemes.segments]]); each segment's visit
  * frame — its rows sorted in visit order — is pulled with
  * `toLocalIterator`, one partition at a time, so driver memory is bounded
  * by a partition, not the dataset. Segments follow one another, and rows
  * are counted as they arrive: every `batchSize` rows of a segment are one
  * batch, so no batch straddles a segment, and `sortedIndices` re-sorts a
  * batch by `__idx` on the driver (only that scheme pulls `__idx`). No
  * position column is computed: a shuffled epoch is one shuffle map stage,
  * which sends each row to its hash range with no sample job, and its
  * fetches; an epoch in declared `__idx` order is its fetches alone. The
  * map stage runs on adaptive execution's own thread, under the pulling
  * thread's call site, so every job of an epoch names this file.
  * `next` reads its batch and peeks one row beyond it, so every fetch
  * starts inside `next`, and `hasNext` peeks at most one row.
  *
  * Shuffled schemes reshuffle per epoch like fuel's persistent scheme rng,
  * but deterministically: epoch e shuffles with seed + e, so determinism
  * comes from (seed, epoch), not iterator state, and "pickling an iterator
  * mid-epoch" (fuel/tests/test_serialization.py) becomes "remember (seed,
  * epoch, cursor) and re-run, dropping the first `cursor` rows" — see
  * [[DataStream.resumeFrom]]. The same epoch as columns (`__pos`,
  * `__batch_id`) is [[compiledForEpoch]], for plans over it (q53, q188).
  */
final class DataStream(val source: DataFrame, val scheme: IterationScheme,
    order: Seq[Column]) {

  private lazy val indexed: DataFrame =
    if (source.columns.contains(Indexed.Idx)) source
    else Indexed.withIdx(source, order)

  /** The compiled epoch-0 plan: source + `__pos` (+ `__batch_id`). */
  lazy val compiled: DataFrame = Schemes.compile(indexed, scheme)

  /** The compiled plan for epoch `epoch`: shuffled schemes RESHUFFLE per
    * epoch — fuel's scheme rng advancing across epochs (schemes.py:195-257
    * shuffles with the stream's persistent rng, so successive epochs visit
    * in fresh orders) made explicit and deterministic: epoch e shuffles
    * with `seed + e`, so any epoch is reproducible from (seed, epoch)
    * alone. Non-shuffled schemes are epoch-invariant. Oracled end-to-end
    * by q53; the iterators below yield exactly its rows, grouped by
    * `__batch_id` (by `__pos` for example schemes) in `__pos` order. */
  def compiledForEpoch(epoch: Int): DataFrame =
    if (epoch == 0) compiled
    else Schemes.compile(indexed, DataStream.reseed(scheme, epoch))

  private lazy val dataCols: Seq[Column] = indexed.columns
    .filterNot(c => c == Indexed.Idx || c == Schemes.Pos || c == Schemes.BatchId).toSeq.map(col)

  /** One epoch of minibatches (example schemes yield singleton batches).
    * Rows carry only the data columns, in scheme order. */
  def epochIterator(): Iterator[Seq[Row]] = epochIterator(0)

  /** Epoch `epoch`'s minibatches (see [[compiledForEpoch]]). */
  def epochIterator(epoch: Int): Iterator[Seq[Row]] = resumeFrom(0, epoch)

  /** The compiled form of [[resumeFrom]]: epoch `epoch`'s compiled frame
    * restricted to positions `>= cursor`. Exposed so the resume seam is
    * oracle-checkable end-to-end (q188 replays the reseeded permutation +
    * the cursor cut in SQL), not just spec'd. A cursor on a batch boundary
    * resumes at a whole batch; mid-batch cursors yield that batch's
    * remaining rows. */
  def resumedPlan(cursor: Long, epoch: Int = 0): DataFrame =
    compiledForEpoch(epoch).filter(col(Schemes.Pos) >= cursor)

  /** Resume epoch `epoch` mid-way: the epoch's batches without its first
    * `cursor` rows (the deterministic-replay answer to iterator pickling:
    * (seed, epoch, cursor) fully locate a point in the epoch stream). The
    * skipped rows are still fetched; batch boundaries stay where the whole
    * epoch has them, so a mid-batch cursor yields that batch's rest. */
  def resumeFrom(cursor: Long, epoch: Int = 0): Iterator[Seq[Row]] =
    new DataStream.Batches(
      Schemes.segments(DataStream.reseed(scheme, epoch)).iterator.map(seg => (seg.batchSize, pull(seg))),
      cursor)

  /** `seg`'s data rows over the indexed frame, in their final order: the
    * visit order, with each batch re-sorted by `__idx` for `sortedIndices`. */
  private def pull(seg: Schemes.Segment): Iterator[Row] = {
    val visit = seg.visit(indexed)
    if (!seg.sortedIndices) fetch(visit.select(dataCols: _*))
    else {
      val idx = dataCols.length
      fetch(visit.select(dataCols :+ col(Indexed.Idx): _*))
        .grouped(seg.batchSize)
        .flatMap(_.sortBy(_.getLong(idx)).iterator.map(r => Row.fromSeq(r.toSeq.init)))
    }
  }

  /** `df`'s rows, one partition at a time. The stages `toLocalIterator`
    * materializes up front are submitted from adaptive execution's thread,
    * whose stack names no caller; this thread's call site rides there in
    * the local properties Spark copies to it, and is restored after. */
  private def fetch(df: DataFrame): Iterator[Row] = {
    val sc = df.sparkSession.sparkContext
    val depth = sys.props.getOrElse("spark.callstack.depth", "20").toInt // as Spark's own
    val stack = Thread.currentThread.getStackTrace.drop(1).take(depth)
    val site = Seq(
      "callSite.short" -> s"toLocalIterator at ${stack.head.getFileName}:${stack.head.getLineNumber}",
      "callSite.long" -> stack.mkString("\n"))
    val before = site.map { case (k, _) => k -> sc.getLocalProperty(k) }
    site.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try df.toLocalIterator().asScala
    finally before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Endless epochs (fuel/streams.py:113-119 `iterate_epochs`). With
    * `reshuffle` (default, fuel-faithful) shuffled schemes visit in a
    * fresh deterministic order each epoch ([[compiledForEpoch]]); with
    * `reshuffle = false` every epoch replays epoch 0's order. */
  def iterateEpochs(reshuffle: Boolean = true): Iterator[Iterator[Seq[Row]]] =
    if (reshuffle) Iterator.from(0).map(epochIterator)
    else Iterator.continually(epochIterator())
}

object DataStream {
  /** Stream over `df` ordered by `order` (must be a total order — include a
    * unique key). Default scheme: one example at a time in order, matching
    * `DataStream(dataset)` with an example scheme in fuel. */
  def apply(df: DataFrame, scheme: IterationScheme = SequentialExampleScheme(),
      order: Seq[Column]): DataStream =
    new DataStream(df, scheme, order)

  /** Epoch-e variant of a scheme: shuffled seeds advance by the epoch
    * index (the deterministic form of fuel's persistent scheme rng). */
  private[graft] def reseed(s: IterationScheme, epoch: Int): IterationScheme = s match {
    case sch: ShuffledScheme        => sch.copy(seed = sch.seed + epoch)
    case sch: ShuffledExampleScheme => sch.copy(seed = sch.seed + epoch)
    case ConcatenatedScheme(ss)     => ConcatenatedScheme(ss.map(reseed(_, epoch)))
    case other                      => other
  }

  /** Cuts `segments` — (batch size, rows in final order), opened one after
    * another as the earlier ones run out — into segment-local batches,
    * without the first `cursor` rows of the whole epoch. */
  private final class Batches(segments: Iterator[(Int, Iterator[Row])], cursor: Long)
      extends Iterator[Seq[Row]] {
    private var rows: Iterator[Row] = Iterator.empty
    private var batchSize = 1
    private var local = 0L // position of the next row in its segment
    private var skipped = 0L

    /** True when a row remains past the cursor; reads no row past the
      * cursor but peeks at the first one. */
    private def advance(): Boolean = {
      def open(): Boolean = {
        while (!rows.hasNext && segments.hasNext) {
          val (b, next) = segments.next()
          batchSize = b; rows = next; local = 0
        }
        rows.hasNext
      }
      while (skipped < cursor && open()) { rows.next(); local += 1; skipped += 1 }
      open()
    }

    def hasNext: Boolean = advance()

    def next(): Seq[Row] = {
      if (!advance()) throw new NoSuchElementException("epoch exhausted")
      val end = (local / batchSize + 1) * batchSize
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (local < end && rows.hasNext) { out += rows.next(); local += 1 }
      advance() // the next fetch starts here, not in the caller's hasNext
      out.toSeq
    }
  }
}
