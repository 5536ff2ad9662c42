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
  * Execution model: each epoch is ONE deterministic distributed plan
  * (scheme compilation = pure column derivation); iteration pulls it with
  * `toLocalIterator`, which fetches one partition at a time — driver memory
  * is bounded by a partition, not the dataset. Shuffled schemes reshuffle
  * per epoch like fuel's persistent scheme rng, but deterministically:
  * epoch e shuffles with seed + e ([[compiledForEpoch]]), so determinism
  * comes from (seed, epoch), not iterator state, and "pickling an iterator
  * mid-epoch" (fuel/tests/test_serialization.py) becomes "remember (seed,
  * epoch, cursor) and re-run with `__pos >= cursor`" — see
  * [[DataStream.resumeFrom]].
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
    * by q53. */
  def compiledForEpoch(epoch: Int): DataFrame =
    if (epoch == 0) compiled
    else Schemes.compile(indexed, DataStream.reseed(scheme, epoch))

  private def dataCols: Seq[String] =
    compiled.columns.filterNot(c => c == Indexed.Idx || c == Schemes.Pos || c == Schemes.BatchId).toSeq

  /** One epoch of minibatches (example schemes yield singleton batches).
    * Rows carry only the data columns, in scheme order. */
  def epochIterator(): Iterator[Seq[Row]] = epochFrom(compiled)

  /** Epoch `epoch`'s minibatches (see [[compiledForEpoch]]). */
  def epochIterator(epoch: Int): Iterator[Seq[Row]] =
    epochFrom(compiledForEpoch(epoch))

  /** The distributed plan [[resumeFrom]] iterates: epoch `epoch`'s
    * compiled frame restricted to positions `>= cursor`. Exposed
    * separately so the resume seam is oracle-checkable end-to-end
    * (q188 replays the reseeded permutation + the cursor cut in SQL),
    * not just spec'd. A cursor on a batch boundary resumes at a whole
    * batch; mid-batch cursors yield that batch's remaining rows. */
  def resumedPlan(cursor: Long, epoch: Int = 0): DataFrame =
    compiledForEpoch(epoch).filter(col(Schemes.Pos) >= cursor)

  /** Resume epoch `epoch` mid-way: yields batches whose first row position
    * is `>= cursor` (the deterministic-replay answer to iterator pickling:
    * (seed, epoch, cursor) fully locate a point in the epoch stream). */
  def resumeFrom(cursor: Long, epoch: Int = 0): Iterator[Seq[Row]] =
    epochFrom(resumedPlan(cursor, epoch))

  /** Pulls `df` in `__pos` order and groups consecutive rows that share a
    * key into batches: `__batch_id` for batch schemes, `__pos` itself for
    * example schemes (batches of one). Batch ids are monotone in `__pos`
    * for every scheme, so `__pos` alone orders the batches too — and
    * where the compiled frame declares its indexed `__pos` order
    * ([[Indexed]]) the planner drops this sort and its exchange. */
  private def epochFrom(df: DataFrame): Iterator[Seq[Row]] = {
    val key = if (df.columns.contains(Schemes.BatchId)) Schemes.BatchId else Schemes.Pos
    val rows = df.orderBy(col(Schemes.Pos))
      .selectExpr((key +: dataCols): _*)
      .toLocalIterator().asScala.buffered
    new Iterator[Seq[Row]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Seq[Row] = {
        val k = rows.head.getLong(0)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (rows.hasNext && rows.head.getLong(0) == k)
          buf += Row.fromSeq(rows.next().toSeq.drop(1))
        buf.toSeq
      }
    }
  }

  /** Endless epochs (fuel/streams.py:113-119 `iterate_epochs`). With
    * `reshuffle` (default, fuel-faithful) shuffled schemes visit in a
    * fresh deterministic order each epoch ([[compiledForEpoch]]); with
    * `reshuffle = false` every epoch replays epoch 0's plan. */
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
}
