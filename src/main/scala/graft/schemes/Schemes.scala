package graft.schemes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Stable
import graft.sources.Indexed

/** Iteration schemes — fuel's "query planner" surface (reference:
  * fuel/schemes.py:13-305). A scheme decides WHICH rows are visited, in WHAT
  * order, and how they group into batches. fuel materializes an index list on
  * the driver; here each scheme compiles to two columns over an indexed
  * DataFrame:
  *
  *   - `__pos`      position of the row in the epoch's visit order (0-based)
  *   - `__batch_id` minibatch assignment (batch schemes only)
  *
  * so the "request iterator" is a fully distributed plan, never a driver-side
  * list. Seeded shuffles use [[Stable.seededHash]] (md5-derived) — documented
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

  /** Contiguous position column in the total order `order` — distributed
    * sort + InternalRow-level index scan (see [[Indexed]] for why not a
    * window, and why not `df.rdd`). The result declares its `__pos` order,
    * so the epoch iterator's `orderBy(__pos)` costs no second sort. */
  private def posIn(df: DataFrame, order: Seq[Column], posName: String): DataFrame =
    Indexed.withIdx(df, order, posName)

  private def shuffleOrder(seed: Long): Seq[Column] =
    Seq(Stable.seededHash(seed, col(Indexed.Idx)), col(Indexed.Idx))

  /** Compile `scheme` over an indexed DataFrame (must carry `__idx`; see
    * [[Indexed.withIdx]]). Returns the input plus `__pos` (and `__batch_id`
    * for batch schemes). */
  def compile(df: DataFrame, scheme: IterationScheme): DataFrame = {
    require(df.columns.contains(Indexed.Idx),
      s"scheme compilation requires a stable ${Indexed.Idx}; use Indexed.withIdx first")
    scheme match {
      case SequentialScheme(b) =>
        df.withColumn(Pos, col(Indexed.Idx))
          .withColumn(BatchId, floor(col(Pos) / b).cast("bigint"))

      case ShuffledScheme(b, seed, sortedIdx) =>
        val withPos = posIn(df, shuffleOrder(seed), Pos)
          .withColumn(BatchId, floor(col(Pos) / b).cast("bigint"))
        if (!sortedIdx) withPos
        else {
          // Re-derive within-batch positions in index order: batch start +
          // rank of __idx inside the batch. Window over __batch_id is
          // scale-safe: batches are small (= batchSize rows) and numerous.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(BatchId).orderBy(Indexed.Idx)
          withPos.withColumn(Pos,
            (col(BatchId) * b) + row_number().over(w) - 1)
        }

      case SequentialExampleScheme() =>
        df.withColumn(Pos, col(Indexed.Idx))

      case ShuffledExampleScheme(seed) =>
        posIn(df, shuffleOrder(seed), Pos)

      case ConstantScheme(b, numExamples, times) =>
        val bounded = (numExamples, times) match {
          case (Some(n), _) => df.filter(col(Indexed.Idx) < n)
          case (_, Some(t)) => df.filter(col(Indexed.Idx) < t * b)
          case _            => df
        }
        bounded.withColumn(Pos, col(Indexed.Idx))
          .withColumn(BatchId, floor(col(Pos) / b).cast("bigint"))

      case ConcatenatedScheme(schemes) =>
        // Each segment is compiled independently; positions/batch ids are
        // offset by the totals of the preceding segments. Those totals have
        // a closed form given the input size (every scheme visits a known
        // subset), so ONE count() of the input covers all segments — no
        // per-segment actions, no recomputing each segment's plan to count
        // it.
        val n = df.count()
        val withBatch = !schemes.head.requestsExamples
        var posOff = 0L
        var batchOff = 0L
        val shifted = schemes.map { sch =>
          val seg = compile(df, sch)
          val out0 = seg.withColumn(Pos, col(Pos) + posOff)
          val out = if (withBatch) out0.withColumn(BatchId, col(BatchId) + batchOff) else out0
          posOff += numExamples(sch, n)
          batchOff += numBatches(sch, n)
          out
        }
        shifted.reduce(_ unionByName _)
    }
  }

  /** Rows one epoch of `scheme` visits over an `n`-row input (closed form;
    * mirrors fuel's num_examples accounting, fuel/schemes.py:95-177). */
  def numExamples(scheme: IterationScheme, n: Long): Long = scheme match {
    case ConstantScheme(b, numEx, times) =>
      val bound = numEx.orElse(times.map(_ * b)).getOrElse(n)
      math.min(n, bound)
    case ConcatenatedScheme(ss) => ss.map(numExamples(_, n)).sum
    case _ => n // Sequential / Shuffled / *Example visit every row
  }

  /** Minibatches one epoch of `scheme` yields over an `n`-row input;
    * 0 for example-wise schemes. */
  def numBatches(scheme: IterationScheme, n: Long): Long = scheme match {
    case SequentialScheme(b) => (n + b - 1) / b
    case ShuffledScheme(b, _, _) => (n + b - 1) / b
    case c @ ConstantScheme(b, _, _) => (numExamples(c, n) + b - 1) / b
    case ConcatenatedScheme(ss) => ss.map(numBatches(_, n)).sum
    case _ => 0L
  }

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
