package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ILSVRC ingest shaping — the converter-pipeline analog
  * (reference: fuel/converters/ilsvrc2010.py:42-88 drives the split
  * processing; the train set arrives as a TAR OF TARS — one inner tar
  * per class, named `<wnid>.tar`, each holding JPEGs — unpacked there
  * through a zmq producer/consumer worker pool, ilsvrc2010.py:204-316).
  *
  * Spark-first split of responsibilities: the heavy lifting (streaming
  * the nested archives across executors) is [[Archive.tarEntries]] /
  * `Convert tar`; THIS is the shaping step — entry names to the ILSVRC
  * storage schema `(idx, filename, targets, encoded_images, split)`
  * ready for [[SplitSource.write]] + [[Catalog.registerIlsvrc]]. No
  * image decodes here: the stored source is ENCODED bytes (the
  * reference stores JPEG bytes too — `encoded_images` with vlen uint8),
  * and decode happens in the default transformer chain at read time.
  */
object Ilsvrc {
  /** Shape the TRAIN split from a tar-of-tars [[Archive.tarEntries]]
    * frame (entries named `<wnid>.tar!<filename>`). Labels: when
    * `wnidLabels` (wnid → 0-based target, the devkit's wnid map —
    * ilsvrc2010.py's `prepare_metadata`) is absent, dense ids over the
    * SORTED distinct wnids — deterministic and devkit-free; the
    * distinct-wnid collect is class-count-bounded (ILSVRC: 1,000 —
    * driver-scale, like a codebook). idx: [[Indexed.withIdx]] over
    * (targets, filename) — a distributed range-partitioned sort + index
    * scan, NOT a single-partition window; ingest is the
    * one-time materialization where that sort amortizes (the reference
    * converter itself does a full shuffle-to-disk pass here). */
  def shapeTrain(entries: DataFrame,
      wnidLabels: Option[Map[String, Int]] = None): DataFrame = {
    val named = entries
      .filter(col("entry").contains("!")) // inner-tar members only
      .select(
        regexp_extract(col("entry"), """([^/!]+)\.tar(?:\.gz)?!""", 1).as("wnid"),
        regexp_extract(col("entry"), """!(?:.*/)?([^/!]+)$""", 1).as("filename"),
        col("content").as("encoded_images"))
    val labels = wnidLabels.getOrElse {
      named.select("wnid").distinct().collect().map(_.getString(0))
        .sorted.zipWithIndex.toMap
    }
    val spark = entries.sparkSession
    import spark.implicits._
    val labelDf = labels.toSeq.toDF("wnid", "targets")
    val labeled = named
      .join(broadcast(labelDf), Seq("wnid"))
      .select(col("filename"), col("targets"), col("encoded_images"))
    Indexed.withIdx(labeled, Seq(col("targets"), col("filename")), "idx")
      .select(col("idx"), col("filename"), col("targets"),
        col("encoded_images"), lit("train").as("split"))
  }

  /** Shape a FLAT-tar split (valid/test — one tar of JPEGs, ground
    * truth as a parallel (filename, targets) frame in filename order,
    * ilsvrc2010.py's `process_other_set`). `groundTruth` may be empty
    * to land an unlabeled split (ILSVRC2012 test): targets is then
    * null — the reference's split dict simply omits the source. */
  def shapeFlat(entries: DataFrame, split: String,
      groundTruth: Option[DataFrame] = None): DataFrame = {
    val named = entries
      .filter(!col("entry").contains("!"))
      .select(
        regexp_extract(col("entry"), """(?:.*/)?([^/!]+)$""", 1).as("filename"),
        col("content").as("encoded_images"))
    val labeled = groundTruth match {
      case Some(gt) => named.join(gt, Seq("filename"), "left")
      case None => named.withColumn("targets", lit(null).cast("int"))
    }
    Indexed.withIdx(labeled, Seq(col("filename")), "idx")
      .select(col("idx"), col("filename"), col("targets"),
        col("encoded_images"), lit(split).as("split"))
  }

  /** Land shaped splits as ONE split-partitioned artifact — the
    * converter's `fill_hdf5_file` edge. One write for ALL splits:
    * [[SplitSource.write]] overwrites the whole path, so per-split
    * writes would clobber each other; compose first, land once. */
  def ingest(outPath: String, splits: Seq[DataFrame]): Unit = {
    require(splits.nonEmpty, "Ilsvrc.ingest: no splits to land")
    SplitSource.write(splits.reduce(_ unionByName _), outPath)
  }
}
