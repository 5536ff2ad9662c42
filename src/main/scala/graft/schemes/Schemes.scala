package graft.schemes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{DirectShufflePartitionID, IntegralDivide, Literal}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf

import graft.functions.Stable
import graft.sources.Indexed

/** Iteration schemes — fuel's "query planner" surface (reference:
  * fuel/schemes.py:13-305). A scheme decides WHICH rows are visited, in WHAT
  * order, and how they group into batches. fuel's request iterator cuts an
  * index list into batches on the driver; here each scheme is a list of
  * [[Schemes.Segment]]s (one per concatenated scheme), each a visit order
  * over an indexed DataFrame plus a batch size, read two ways:
  *
  *   - [[graft.stream.DataStream]] pulls each segment's rows in visit order
  *     and cuts batches on the driver as they arrive;
  *   - [[Schemes.compile]] derives the epoch as columns, for plans that
  *     join or aggregate over it (q53, q188):
  *     - `__pos`      position of the row in the epoch's visit order (0-based)
  *     - `__batch_id` minibatch assignment (batch schemes only)
  *
  * Seeded shuffles use [[Stable.seededHash]] (md5-derived) — documented
  * contract is "seeded and reproducible" (fuel/schemes.py:216-221), not
  * NumPy-bit-identical; the permutation is deterministic under retries,
  * speculation and repartitioning, and reproducible by external engines.
  */
sealed trait IterationScheme {
  /** True when the scheme yields single examples, false for minibatches
    * (fuel's example/batch stream duality, fuel/streams.py:49-68). */
  def requestsExamples: Boolean
}

/** Consecutive batches in index order (fuel/schemes.py:180-192). */
final case class SequentialScheme(batchSize: Int) extends IterationScheme {
  val requestsExamples = false
}

/** Seeded shuffle, then consecutive batches of the permutation
  * (fuel/schemes.py:195-229). `sortedIndices` reorders rows WITHIN each
  * batch by original index (storage-locality option, schemes.py:226-229). */
final case class ShuffledScheme(batchSize: Int, seed: Long = 1, sortedIndices: Boolean = false)
    extends IterationScheme {
  val requestsExamples = false
}

/** Single examples in index order (fuel/schemes.py:232-239). */
final case class SequentialExampleScheme() extends IterationScheme {
  val requestsExamples = true
}

/** Single examples in seeded-shuffled order (fuel/schemes.py:242-257). */
final case class ShuffledExampleScheme(seed: Long = 1) extends IterationScheme {
  val requestsExamples = true
}

/** Constant batch size for `times` batches, or until `numExamples` rows are
  * consumed (last batch short), or unbounded (fuel/schemes.py:144-177). */
final case class ConstantScheme(batchSize: Int, numExamples: Option[Long] = None,
    times: Option[Long] = None) extends IterationScheme {
  require(numExamples.isEmpty || times.isEmpty, "num_examples and times are exclusive")
  val requestsExamples = false
}

/** Chain several schemes' epochs into one (fuel/schemes.py:95-124): positions
  * and batch ids continue across segments. */
final case class ConcatenatedScheme(schemes: Seq[IterationScheme]) extends IterationScheme {
  require(schemes.nonEmpty && schemes.map(_.requestsExamples).distinct.size == 1,
    "all schemes must produce the same type of requests (batches or examples)")
  val requestsExamples = schemes.head.requestsExamples
}

object Schemes {
  val Pos = "__pos"
  val BatchId = "__batch_id"
  private val VisitHash = "__visit_hash"

  /** The range of a seeded hash `h` in [0, 2^60) among `p` equal-width
    * ranges: `h div ceil(2^60 / p)`, in [0, p). The division is integral: a
    * double quotient rounds 2^60 - 1 up to p when p is a power of two. */
  private[graft] def hashRange(h: Column, p: Int): Column = {
    val width = ((1L << 60) + p - 1) / p
    Bridge.column(IntegralDivide(Bridge.expression(h), Literal(width))).cast("int")
  }

  /** One segment of an epoch: the rows with `__idx < bound` (all rows when
    * unbounded) visited in `__idx` order (`seed` empty) or in the seeded
    * shuffle `(seededHash(seed, __idx), __idx)`; each run of `batchSize`
    * consecutive rows (1 for example schemes) is one batch, re-sorted by
    * `__idx` when `sortedIndices`. */
  final case class Segment(bound: Option[Long], seed: Option[Long], batchSize: Int,
      sortedIndices: Boolean) {
    private[schemes] def rows(df: DataFrame): DataFrame =
      bound.fold(df)(k => df.filter(col(Indexed.Idx) < k))

    /** The rows to visit over an indexed `df`, sorted in visit order, with
      * `df`'s columns. In `__idx` order the sort is free wherever the index
      * declares its order ([[Indexed]]). A shuffle runs no sample job: its
      * hash is uniform on [0, 2^60) and known before any row is read, so
      * each row goes straight to its partition's equal-width hash range
      * ([[hashRange]]) and each partition sorts by `(hash, __idx)`; read in
      * partition order, the partitions give the global order. The count is
      * the session's `spark.sql.shuffle.partitions`, left unset on the
      * shuffle so adaptive execution may coalesce adjacent ranges, which
      * keeps the order. Build and run the frame under one conf: the shuffle
      * re-reads the count whenever the plan is rewritten. */
    def visit(df: DataFrame): DataFrame = seed match {
      case None => rows(df).sort(col(Indexed.Idx))
      case Some(s) =>
        val p = SQLConf.get.numShufflePartitions
        val ranged = rows(df).withColumn(VisitHash, Stable.seededHash(s, col(Indexed.Idx)))
          .repartition(Bridge.column(DirectShufflePartitionID(Bridge.expression(
            hashRange(col(VisitHash), p)))))
        // A range id >= the shuffle's count would wrap to a low partition.
        val shuffle = ranged.queryExecution.logical.asInstanceOf[RepartitionByExpression]
        if (shuffle.numPartitions != p) throw new IllegalStateException(
          s"visit: the hash ranges assume $p partitions, the shuffle has ${shuffle.numPartitions}")
        ranged.sortWithinPartitions(VisitHash, Indexed.Idx).drop(VisitHash)
    }

    /** Rows this segment visits over an `n`-row input. */
    private[schemes] def examples(n: Long): Long = bound.fold(n)(math.min(n, _))

    /** Batches this segment cuts over an `n`-row input. */
    private[schemes] def batches(n: Long): Long = (examples(n) + batchSize - 1) / batchSize
  }

  /** `scheme` as the segments one epoch visits, in order. */
  def segments(scheme: IterationScheme): Seq[Segment] = scheme match {
    case SequentialScheme(b) => Seq(Segment(None, None, b, sortedIndices = false))
    case ShuffledScheme(b, seed, sortedIdx) => Seq(Segment(None, Some(seed), b, sortedIdx))
    case SequentialExampleScheme() => Seq(Segment(None, None, 1, sortedIndices = false))
    case ShuffledExampleScheme(seed) => Seq(Segment(None, Some(seed), 1, sortedIndices = false))
    case ConstantScheme(b, numExamples, times) =>
      Seq(Segment(numExamples.orElse(times.map(_ * b)), None, b, sortedIndices = false))
    case ConcatenatedScheme(schemes) => schemes.flatMap(segments)
  }

  /** Compile `scheme` over an indexed DataFrame (must carry `__idx`; see
    * [[Indexed.withIdx]]). Returns the input plus `__pos` (and `__batch_id`
    * for batch schemes): `__idx` itself in index order, otherwise the
    * storage index of the visit frame ([[Segment.visit]]), the frame the
    * stream pulls. */
  def compile(df: DataFrame, scheme: IterationScheme): DataFrame = {
    require(df.columns.contains(Indexed.Idx),
      s"scheme compilation requires a stable ${Indexed.Idx}; use Indexed.withIdx first")
    val withBatch = !scheme.requestsExamples
    def one(seg: Segment): DataFrame = {
      val withPos =
        if (seg.seed.isEmpty) seg.rows(df).withColumn(Pos, col(Indexed.Idx))
        else Indexed.withStorageIdx(seg.visit(df), Pos)
      if (!withBatch) withPos
      else {
        val b = seg.batchSize
        val batched = withPos.withColumn(BatchId, floor(col(Pos) / b).cast("bigint"))
        if (!seg.sortedIndices) batched
        else {
          // Re-derive within-batch positions in index order: batch start +
          // rank of __idx inside the batch. Window over __batch_id is
          // scale-safe: batches are small (= batchSize rows) and numerous.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(BatchId).orderBy(Indexed.Idx)
          batched.withColumn(Pos, (col(BatchId) * b) + row_number().over(w) - 1)
        }
      }
    }
    segments(scheme) match {
      case Seq(seg) => one(seg)
      case segs =>
        // Positions/batch ids of each segment are offset by the totals of
        // the preceding segments. Those totals have a closed form given
        // the input size (every segment visits a known subset), so ONE
        // count() of the input covers all segments — no per-segment
        // actions, no recomputing each segment's plan to count it.
        val n = df.count()
        var posOff = 0L
        var batchOff = 0L
        segs.map { seg =>
          val out0 = one(seg).withColumn(Pos, col(Pos) + posOff)
          val out = if (withBatch) out0.withColumn(BatchId, col(BatchId) + batchOff) else out0
          posOff += seg.examples(n)
          batchOff += seg.batches(n)
          out
        }.reduce(_ unionByName _)
    }
  }

  /** Rows one epoch of `scheme` visits over an `n`-row input (closed form;
    * mirrors fuel's num_examples accounting, fuel/schemes.py:95-177). */
  def numExamples(scheme: IterationScheme, n: Long): Long =
    segments(scheme).map(_.examples(n)).sum

  /** Minibatches one epoch of `scheme` yields over an `n`-row input;
    * 0 for example-wise schemes. */
  def numBatches(scheme: IterationScheme, n: Long): Long =
    if (scheme.requestsExamples) 0L else segments(scheme).map(_.batches(n)).sum

  /** fuel's k-fold cross-validation boundaries (fuel/schemes.py:260-305):
    * fold i covers positions `[n*i/k, n*(i+1)/k)` (integer division).
    * Closed form: `fold_id(p) = (k*(p+1) - 1) div n` — exact for
    * `k * n < 2^52` (double floor). */
  def foldId(pos: Column, n: Long, k: Int): Column =
    floor((lit(k) * (pos + 1) - 1) / lit(n.toDouble)).cast("bigint")

  /** Train/valid scheme pair per fold, as (train, valid) index filters over
    * an indexed DataFrame. */
  def crossValidation(df: DataFrame, n: Long, k: Int, strict: Boolean = true): Seq[(DataFrame, DataFrame)] = {
    require(!strict || n % k == 0,
      s"$n examples are not divisible in $k evenly-sized folds (strict)")
    (0 until k).map { i =>
      val begin = n * i / k
      val end = n * (i + 1) / k
      val idx = col(Indexed.Idx)
      (df.filter(idx < begin || idx >= end), df.filter(idx >= begin && idx < end))
    }
  }
}
