package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft

/** Core columnwise transformers (reference: fuel/transformers/__init__.py:
  * 187-474, 890-987). fuel's transformers are pull-iterator wrappers; here
  * each is a pure `DataFrame => DataFrame` — a declarative projection that
  * Catalyst collapses into a single codegen'd select (`CollapseProject`), so
  * a chained default pipeline (ScaleAndShift ∘ Cast ∘ Flatten) costs one
  * pass, no per-operator materialization.
  *
  * Elementwise ops apply to numeric columns directly and map over
  * `ArrayType` columns (fuel's unit of data is the ndarray; ours is the
  * array column) with Catalyst `transform` — still codegen, no UDFs.
  */
trait Transform extends (DataFrame => DataFrame) { self =>
  def andThen(next: Transform): Transform = new Transform {
    def apply(df: DataFrame): DataFrame = next(self(df))
  }
}

object Transform {
  /** Engine-internal bookkeeping columns, never touched by sourcewise ops. */
  val Internal: Set[String] = Set("__idx", "__pos", "__batch_id")

  private[transform] def dataColumns(df: DataFrame): Seq[String] =
    df.columns.filterNot(Internal).toSeq

  /** Apply `f` elementwise through any nesting of arrays. */
  private[transform] def elementwise(dt: DataType, c: Column, f: Column => Column): Column =
    dt match {
      case ArrayType(inner, _) => transform(c, x => elementwise(inner, x, f))
      case _                   => f(c)
    }

  /** Leaf type under any array nesting. */
  @annotation.tailrec
  private[transform] def leafType(dt: DataType): DataType = dt match {
    case ArrayType(inner, _) => leafType(inner)
    case other               => other
  }
}

/** Arbitrary derived columns; `addSources` appends new named sources
  * (fuel Mapping + add_sources, __init__.py:187-238). With `replace`
  * mappings the source keeps its name but takes the mapped value. */
final case class Mapping(replace: Seq[(String, Column)] = Nil,
    addSources: Seq[(String, Column)] = Nil) extends Transform {
  def apply(df: DataFrame): DataFrame = {
    val replaced = replace.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
    addSources.foldLeft(replaced) { case (d, (name, c)) =>
      require(!d.columns.contains(name), s"add_sources collision: $name already exists")
      d.withColumn(name, c)
    }
  }
}

/** Reshape nested array sources to rank 1 (fuel Flatten, __init__.py:343-382):
  * repeatedly applies Catalyst `flatten` until the column is a flat array. */
final case class Flatten(sources: Seq[String]) extends Transform {
  def apply(df: DataFrame): DataFrame =
    sources.foldLeft(df) { (d, s) =>
      var dt = d.schema(s).dataType
      var c = col(s)
      var depth = 0
      while (dt.isInstanceOf[ArrayType] &&
             dt.asInstanceOf[ArrayType].elementType.isInstanceOf[ArrayType]) {
        c = flatten(c); dt = dt.asInstanceOf[ArrayType].elementType; depth += 1
      }
      if (depth == 0) d
      else {
        // withColumn drops metadata; read labels from the input frame
        val out = d.withColumn(s, c)
        if (graft.types.AxisLabels.get(d, s).isDefined)
          graft.types.AxisLabels.set(out, s, Seq("feature"))
        else out
      }
    }
}

/** `x * scale + shift` elementwise (fuel ScaleAndShift, __init__.py:385-408). */
final case class ScaleAndShift(scale: Double, shift: Double, sources: Seq[String]) extends Transform {
  def apply(df: DataFrame): DataFrame =
    sources.foldLeft(df) { (d, s) =>
      d.withColumn(s, Transform.elementwise(d.schema(s).dataType, col(s),
        x => x * lit(scale) + lit(shift)))
    }
}

/** Dtype cast incl. the `floatX` indirection (fuel Cast, __init__.py:411-434;
  * floatX config fuel/config_parser.py:49-52). */
final case class Cast(dtype: String, sources: Seq[String]) extends Transform {
  private def target: DataType =
    if (dtype == "floatX") Graft.floatX
    else CatalystSqlParser.parseDataType(dtype)
  def apply(df: DataFrame): DataFrame = {
    val t = target
    sources.foldLeft(df) { (d, s) =>
      d.withColumn(s, Transform.elementwise(d.schema(s).dataType, col(s), _.cast(t)))
    }
  }
}

/** Cast only floating-point sources that are not already floatX
  * (fuel ForceFloatX, __init__.py:437-451). */
final case class ForceFloatX() extends Transform {
  def apply(df: DataFrame): DataFrame =
    Transform.dataColumns(df).foldLeft(df) { (d, s) =>
      val leaf = Transform.leafType(d.schema(s).dataType)
      val isFloat = leaf == FloatType || leaf == DoubleType
      if (isFloat && leaf != Graft.floatX)
        d.withColumn(s, Transform.elementwise(d.schema(s).dataType, col(s), _.cast(Graft.floatX)))
      else d
    }
}

/** Keep rows satisfying the predicate (fuel Filter, __init__.py:454-474). */
final case class Filter(predicate: Column) extends Transform {
  def apply(df: DataFrame): DataFrame = df.filter(predicate)
}

/** Rename sources with collision checks (fuel Rename, __init__.py:890-952).
  * `onNonExistent`: "raise" (default) | "ignore" | "warn". */
final case class Rename(names: Map[String, String], onNonExistent: String = "raise") extends Transform {
  require(Set("raise", "ignore", "warn")(onNonExistent),
    s"onNonExistent must be raise/ignore/warn, got $onNonExistent")
  def apply(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    names.keys.filterNot(cols).foreach { from =>
      val msg = s"Rename: source '$from' does not exist"
      if (onNonExistent == "raise") throw new IllegalArgumentException(msg)
      else if (onNonExistent == "warn") System.err.println(s"[graft] warning: $msg")
    }
    // Simultaneous rename (a<->b swaps are legal, as in fuel): one select
    // with aliases; collisions are whatever leaves duplicate final names.
    val mapping = names.filter { case (f, _) => cols(f) }
    val finalNames = df.columns.map(c => mapping.getOrElse(c, c))
    val dup = finalNames.diff(finalNames.distinct).distinct
    require(dup.isEmpty, s"Rename: duplicate resulting source names ${dup.toSeq}")
    df.select(df.columns.map(c => mapping.get(c).map(t => col(c).as(t)).getOrElse(col(c))).toSeq: _*)
  }
}

/** Project a subset of sources, preserving stream order (fuel FilterSources,
  * __init__.py:955-987). Engine bookkeeping columns are kept. */
final case class FilterSources(sources: Seq[String]) extends Transform {
  def apply(df: DataFrame): DataFrame = {
    val missing = sources.filterNot(df.columns.contains)
    require(missing.isEmpty, s"FilterSources: unknown sources $missing")
    val keep = df.columns.filter(c => sources.contains(c) || Transform.Internal(c))
    df.select(keep.map(col).toSeq: _*)
  }
}

/** Persist the stream (fuel Cache, __init__.py:477-536 — chunked read-ahead;
  * in Spark the vectorized reader already chunks, so this maps to persist).
  *
  * SESSION-LIFECYCLE ASSUMPTION (VERDICT r14): Cache() sites are never
  * explicitly unpersisted — a query's caches cannot be dropped before
  * its action runs (the DataFrame is lazy), and after it runs the
  * engine's harnesses clear them wholesale (Bench and Verify both call
  * `spark.catalog.clearCache()` between queries; tests stop their
  * sessions). A long-lived interactive session issuing many engine
  * queries accumulates MEMORY_AND_DISK blocks until LRU eviction — call
  * `spark.catalog.clearCache()` (or unpersist the returned frames) at
  * its own query boundaries.
  *
  * Each persist runs under a clone of the session (Spark's CacheManager
  * switches off the confs that could change a cached plan's
  * partitioning). The clone no longer costs a classloader of its own and
  * a recompile of the pass's generated code: [[graft.Graft.session]]
  * turns artifact isolation off. */
final case class Cache(level: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) extends Transform {
  def apply(df: DataFrame): DataFrame = df.persist(level)
}

/** Re-order rows WITHIN each batch by a key (fuel SortMapping,
  * __init__.py:539-563 — used for length-bucketing before Padding).
  * Requires `__batch_id`/`__pos`; the per-batch window is scale-safe
  * (batches are small and numerous). */
final case class SortMapping(key: Column, reverse: Boolean = false) extends Transform {
  def apply(df: DataFrame): DataFrame = {
    require(df.columns.contains("__batch_id"), "SortMapping requires __batch_id")
    // __pos tiebreak: equal keys keep their prior order deterministically
    // (a key-only sort would assign ties in partition-arrival order).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__batch_id")
      .orderBy(if (reverse) key.desc else key.asc, col("__pos").asc)
    val start = min(col("__pos")).over(
      org.apache.spark.sql.expressions.Window.partitionBy("__batch_id"))
    df.withColumn("__pos", start + row_number().over(w) - 1)
  }
}

/** Parser access for [[Cast]] without importing catalyst everywhere. */
private object CatalystSqlParser {
  def parseDataType(s: String): DataType =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(s)
}
