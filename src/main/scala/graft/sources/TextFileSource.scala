package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-backed text sources.
  *
  * - [[lines]]: fuel TextFile's scan stage (fuel/datasets/text.py:7-144):
  *   one row per line with the source file path; gzip is transparent
  *   (Hadoop codec). Tokenization + dictionary lookup compose via
  *   [[graft.text.TextOps.tokenize]].
  * - [[partitioned]]: the OneBillionWord layout (fuel/datasets/billion.py:
  *   7-61) — a glob over numbered partition files; selecting partitions is
  *   just a narrower glob, no driver-side file loop.
  */
object TextFileSource {
  /** Read lines from files/globs with their source path and a stable
    * per-file line number (deterministic — derived from file content
    * order, not partitioning). Gzip (`.gz`) files decode transparently
    * via the Hadoop codec (fuel TextFile gzip support, text.py:96-101).
    *
    * SKEW CAVEAT: the line number is a per-FILE window, so one file's
    * rows converge on one task for numbering. Right-sized for the
    * many-similar-files corpus layout this mirrors (1B-word ships 100
    * partition files; gzip is unsplittable anyway, so the scan itself is
    * already per-file). For a single giant splittable file, number lines
    * with [[Indexed.withStorageIdx]] (the distributed index scan) instead
    * and treat the whole corpus as one sequence. */
  def lines(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read.textFile(paths: _*)
      .select(input_file_name().as("file"), col("value").as("line"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file").orderBy(monotonically_increasing_id())
    raw.withColumn("line_no", row_number().over(w).cast("bigint") - 1)
  }

  /** OneBillionWord-style partitioned corpus: `dir/prefix-NNNNN-of-MMMMM`.
    * `which` selects partition numbers (like which_partitions). */
  def partitioned(spark: SparkSession, dir: String, prefix: String,
      which: Seq[Int], of: Int): DataFrame = {
    val paths = which.map(i => f"$dir/$prefix-$i%05d-of-$of%05d")
    lines(spark, paths)
  }
}

/** Driver-memory sources (fuel IterableDataset/IndexableDataset analogs,
  * fuel/datasets/base.py:244-388): a local collection parallelized with a
  * stable `__idx` in collection order. */
object InMemory {
  def fromSeq[T: org.apache.spark.sql.Encoder](spark: SparkSession, data: Seq[T],
      colName: String = "value"): DataFrame =
    Indexed.withStorageIdx(spark.createDataset(data).toDF(colName))
}
