package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Stable
import graft.schemes._
import graft.sources.{Indexed, Subset, Tables}
import graft.transform._

/** Scheme-surface queries (SURVEY.md §2.2): every entry compiles an
  * iteration scheme to (pos, batch_id) columns and is checked against a
  * DuckDB oracle computing the identical permutation via `row_number()` and
  * the shared md5 hash construction ([[Stable]]).
  */
object Pipeline {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SequentialScheme: consecutive batches in key order. Columns are
    // pruned BEFORE indexing: Catalyst cannot push pruning through the
    // index scan's RDD boundary, so an unpruned withIdx would sort and
    // carry the full 16-column row to index 2 of them.
    "q13_scheme_sequential" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val idx = Indexed.withIdx(li, Seq(col("l_orderkey"), col("l_linenumber")))
      Schemes.compile(idx, SequentialScheme(4096))
        .select(col("l_orderkey"), col("l_linenumber"),
          col(Schemes.Pos).as("pos"), col(Schemes.BatchId).as("batch_id"))
    }),

    // ShuffledScheme: seeded reproducible permutation (md5-derived), then
    // consecutive batches of the permutation.
    "q14_scheme_shuffled" -> ((s, dir) => {
      val ord = Indexed.withIdx(t(s, dir, "orders").select("o_orderkey"), Seq(col("o_orderkey")))
      Schemes.compile(ord, ShuffledScheme(batchSize = 512, seed = 7))
        .select(col("o_orderkey"),
          col(Schemes.Pos).as("pos"), col(Schemes.BatchId).as("batch_id"))
    }),

    // cross_validation fold assignment: fold i covers [n*i/k, n*(i+1)/k).
    "q15_cross_validation" -> ((s, dir) => {
      val cust = Indexed.withIdx(t(s, dir, "customer").select("c_custkey"), Seq(col("c_custkey")))
      val n = cust.count()
      cust.select(col("c_custkey"), col(Indexed.Idx).as("pos"),
          Schemes.foldId(col(Indexed.Idx), n, 5).as("fold_id"))
        .withColumn("role", when(col("fold_id") === 2, "valid").otherwise("train"))
    }),

    // ConcatenatedScheme: a sequential epoch segment followed by a shuffled
    // one; positions and batch ids continue across segments.
    "q16_scheme_concatenated" -> ((s, dir) => {
      val part = Indexed.withIdx(t(s, dir, "part").select("p_partkey"), Seq(col("p_partkey")))
      Schemes.compile(part,
          ConcatenatedScheme(Seq(SequentialScheme(50), ShuffledScheme(50, seed = 3))))
        .select(col("p_partkey"),
          col(Schemes.Pos).as("pos"), col(Schemes.BatchId).as("batch_id"))
    }),

    // The canonical fuel default pipeline (ScaleAndShift ∘ Cast(floatX) ∘
    // Rename ∘ FilterSources — fuel/transformers/defaults.py:6-10) as one
    // collapsed Catalyst projection. Scale 1/256 is a power of two, so the
    // arithmetic is exact in IEEE double and the float32 output bit-stable.
    "q17_default_pipeline" -> ((s, dir) => {
      val pipeline =
        ScaleAndShift(1.0 / 256, 0.5, Seq("l_quantity")) andThen
        Cast("floatX", Seq("l_quantity")) andThen
        Rename(Map("l_quantity" -> "qty_scaled")) andThen
        FilterSources(Seq("l_orderkey", "l_linenumber", "qty_scaled"))
      pipeline(t(s, dir, "lineitem"))
    }),

    // Batch ∘ Unpack round-trip: examples → minibatch rows (array sources,
    // one groupBy shuffle) → back to examples via posexplode.
    "q18_batch_unpack" -> ((s, dir) => {
      val sup = Indexed.withIdx(t(s, dir, "supplier").select("s_suppkey", "s_name"),
        Seq(col("s_suppkey")))
      val pipeline = Batch(16) andThen Unpack()
      pipeline(Schemes.compile(sup, SequentialScheme(16)))
        .select(col("__batch_id").as("batch_id"), col("__i").cast("bigint").as("pos_in_batch"),
          col("s_suppkey"), col("s_name"))
    }),

    // Padding + mask over variable-length token sequences from `documents`:
    // per-doc token-length sequences, batched 32 per row, zero-padded to the
    // batch max with a float mask; unpacked back to per-doc stats.
    "q19_padding" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), transform(split(col("text"), " "), t => length(t)).as("tok_lens"))
      val indexed = Indexed.withIdx(docs, Seq(col("doc_id")))
      val pipeline = Batch(32) andThen Padding(Seq("tok_lens")) andThen Unpack()
      pipeline(Schemes.compile(indexed, SequentialScheme(32)))
        .select(col("doc_id"),
          size(col("tok_lens")).cast("bigint").as("padded_len"),
          aggregate(col("tok_lens_mask"), lit(0.0), (acc, x) => acc + x).as("mask_sum"))
    }),

    // Merge: positional zip of two independent streams on the stable index
    // (an equi-join on __idx, never a cartesian).
    "q20_merge" -> ((s, dir) => {
      val parts = Indexed.withIdx(t(s, dir, "part").select("p_partkey"), Seq(col("p_partkey")))
      val sups = Indexed.withIdx(t(s, dir, "supplier").select("s_suppkey"), Seq(col("s_suppkey")))
      Merge(Seq(parts, sups)).select(col("__idx").as("pair_idx"), col("p_partkey"), col("s_suppkey"))
    }),

    // The epoch driver oracled end-to-end: two epochs of ONE DataStream
    // over a seeded shuffled scheme, each epoch the (pos, batch_id) plan
    // its iterator pulls (DataStream.compiledForEpoch — epoch e reshuffles
    // with seed+e, fuel's cross-epoch rng advance made deterministic),
    // reduced to per-batch boundary facts (first/last id by position,
    // batch size).
    "q53_epoch_batches" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select("o_orderkey")
      val ds = graft.stream.DataStream(ord, ShuffledScheme(64, seed = 11),
        Seq(col("o_orderkey")))
      (0 until 2).map { e =>
        ds.compiledForEpoch(e).select(lit(e.toLong).as("epoch"), col("o_orderkey"),
          col(Schemes.Pos).as("pos"), col(Schemes.BatchId).as("batch_id"))
      }.reduce(_ unionByName _)
        .groupBy("epoch", "batch_id")
        .agg(min_by(col("o_orderkey"), col("pos")).as("first_id"),
          max_by(col("o_orderkey"), col("pos")).as("last_id"),
          count(lit(1)).as("n"))
    }),

    // Mid-epoch resume oracled end-to-end ([[graft.stream.DataStream
    // .resumeFrom]]'s exact plan via resumedPlan): epoch 1 of q53's
    // stream resumed at cursor 192 (= batch boundary 3·64), reduced to
    // the same per-batch boundary facts. The oracle replays the
    // reseeded permutation (seed 11 + epoch 1) and the cursor cut in
    // SQL — (seed, epoch, cursor) fully locate the resume point, so
    // the yielded batch set is bit-reproducible.
    "q188_resume_epoch" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select("o_orderkey")
      val ds = graft.stream.DataStream(ord, ShuffledScheme(64, seed = 11),
        Seq(col("o_orderkey")))
      ds.resumedPlan(cursor = 192L, epoch = 1)
        .groupBy(col(Schemes.BatchId).as("batch_id"))
        .agg(min_by(col("o_orderkey"), col(Schemes.Pos)).as("first_id"),
          max_by(col("o_orderkey"), col(Schemes.Pos)).as("last_id"),
          count(lit(1)).as("n"))
    }),

    // List-form Subset algebra (fuel/utils/__init__.py:30-397): the split
    // below exercises beautify (dups + contiguous tail), overlapping-slice
    // merging, mixed list∪slice union, and slice-request composition — all
    // driver-side metadata ops; the cluster sees ONE index predicate.
    "q49_subset" -> ((s, dir) => {
      val docs = Indexed.withIdx(t(s, dir, "documents").select("doc_id"), Seq(col("doc_id")))
      Q49Split(docs).select(col("doc_id"), col(Indexed.Idx).as("idx"))
    })
  )

  /** The q49 split, shared verbatim by query and oracle (the seed-derived-
    * constants pattern of q31/q39): since the algebra is deterministic
    * driver-side metadata, the oracle embeds its list representation and
    * DuckDB reproduces the selection bit-for-bit. Constants fit the
    * sf0.01 documents table (500 rows). */
  private val Q49Split: Subset = {
    val scattered = Subset.list(Seq(7L, 3L, 11L, 3L, 443L, 441L, 442L), 500L)
    val merged = Subset.slice(100L, 140L, 500L) + Subset.slice(135L, 180L, 500L)
    Subset.subsetOf(scattered + merged, 2L, 60L)
  }

  private def duckShuffleHash(seed: Long, idxExpr: String): String =
    Stable.duckSeededHash(seed, idxExpr)

  val oracles: Map[String, String] = Map(
    "q13_scheme_sequential" ->
      """SELECT l_orderkey, l_linenumber,
        |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS pos,
        |  CAST(floor((row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) / 4096) AS BIGINT) AS batch_id
        |FROM lineitem""".stripMargin,

    "q14_scheme_shuffled" ->
      s"""WITH idx AS (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS i FROM orders),
         |perm AS (
         |  SELECT o_orderkey,
         |    row_number() OVER (ORDER BY ${duckShuffleHash(7, "i")}, i) - 1 AS pos
         |  FROM idx)
         |SELECT o_orderkey, pos,
         |  CAST(floor(pos / 512) AS BIGINT) AS batch_id
         |FROM perm""".stripMargin,

    "q15_cross_validation" ->
      """WITH idx AS (
        |  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS pos FROM customer),
        |n AS (SELECT count(*) AS n FROM customer)
        |SELECT c_custkey, pos,
        |  CAST(floor((5 * (pos + 1) - 1) / n) AS BIGINT) AS fold_id,
        |  CASE WHEN CAST(floor((5 * (pos + 1) - 1) / n) AS BIGINT) = 2
        |       THEN 'valid' ELSE 'train' END AS role
        |FROM idx, n""".stripMargin,

    "q16_scheme_concatenated" ->
      s"""WITH idx AS (
         |  SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS i FROM part),
         |n AS (SELECT count(*) AS n, CAST(ceil(count(*) / 50.0) AS BIGINT) AS nb FROM part)
         |SELECT p_partkey, i AS pos, CAST(floor(i / 50) AS BIGINT) AS batch_id FROM idx
         |UNION ALL
         |SELECT p.p_partkey, n.n + p.rn AS pos,
         |  n.nb + CAST(floor(p.rn / 50) AS BIGINT) AS batch_id
         |FROM (
         |  SELECT p_partkey,
         |    row_number() OVER (ORDER BY ${duckShuffleHash(3, "i")}, i) - 1 AS rn
         |  FROM idx) p, n""".stripMargin,

    "q17_default_pipeline" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity / 256.0 + 0.5 AS REAL) AS qty_scaled
        |FROM lineitem""".stripMargin,

    "q18_batch_unpack" ->
      """WITH idx AS (
        |  SELECT s_suppkey, s_name, row_number() OVER (ORDER BY s_suppkey) - 1 AS i
        |  FROM supplier)
        |SELECT CAST(floor(i / 16) AS BIGINT) AS batch_id, i % 16 AS pos_in_batch,
        |  s_suppkey, s_name
        |FROM idx""".stripMargin,

    "q19_padding" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |p AS (
        |  SELECT doc_id, n, row_number() OVER (ORDER BY doc_id) - 1 AS pos FROM d),
        |b AS (
        |  SELECT doc_id, n, CAST(floor(pos / 32) AS BIGINT) AS batch_id FROM p)
        |SELECT doc_id,
        |  CAST(max(n) OVER (PARTITION BY batch_id) AS BIGINT) AS padded_len,
        |  CAST(n AS DOUBLE) AS mask_sum
        |FROM b""".stripMargin,

    "q20_merge" ->
      """WITH a AS (
        |  SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS i FROM part),
        |b AS (
        |  SELECT s_suppkey, row_number() OVER (ORDER BY s_suppkey) - 1 AS i FROM supplier)
        |SELECT a.i AS pair_idx, a.p_partkey, b.s_suppkey
        |FROM a JOIN b ON a.i = b.i""".stripMargin,

    "q53_epoch_batches" -> {
      def epoch(e: Int, seed: Long): String =
        s"""SELECT CAST($e AS BIGINT) AS epoch, o_orderkey,
           |    row_number() OVER (ORDER BY ${duckShuffleHash(seed, "i")}, i) - 1 AS pos
           |  FROM idx""".stripMargin
      s"""WITH idx AS (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS i FROM orders),
         |p AS (
         |  ${epoch(0, 11)}
         |  UNION ALL
         |  ${epoch(1, 12)})
         |SELECT epoch, CAST(floor(pos / 64) AS BIGINT) AS batch_id,
         |  min_by(o_orderkey, pos) AS first_id, max_by(o_orderkey, pos) AS last_id,
         |  count(*) AS n
         |FROM p GROUP BY 1, 2""".stripMargin
    },

    "q188_resume_epoch" ->
      s"""WITH idx AS (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS i FROM orders),
         |p AS (
         |  SELECT o_orderkey,
         |    row_number() OVER (ORDER BY ${duckShuffleHash(12, "i")}, i) - 1 AS pos
         |  FROM idx)
         |SELECT CAST(floor(pos / 64) AS BIGINT) AS batch_id,
         |  min_by(o_orderkey, pos) AS first_id, max_by(o_orderkey, pos) AS last_id,
         |  count(*) AS n
         |FROM p WHERE pos >= 192 GROUP BY 1""".stripMargin,

    "q49_subset" ->
      s"""WITH d AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx FROM documents)
         |SELECT doc_id, idx FROM d
         |WHERE idx IN (${Q49Split.listRepresentation.mkString(", ")})""".stripMargin
  )
}
