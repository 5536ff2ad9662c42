package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.operators.Layout

/** The data-layout kit ([[graft.operators.Layout]]) and the OPQ permutation
  * tier ([[graft.ann.Ann.opqPermutation]]): hand-computed bit positions
  * for the compact Morton interleave, a fully hand-checked skipping card
  * on a dense grid (where the z-order win is provable, not statistical),
  * the physical write's near-cube envelopes, and the energy-balancing
  * permutation's allocation rule. The DuckDB oracles (q234-q236) pin
  * cross-engine exactness; these pin the SEMANTICS against hand math. */
class LayoutSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("zValue: compact interleave, hand-computed positions at unequal widths") {
    // bitLens (2, 1): level 0 packs d1 bit0 -> pos 0, d2 bit0 -> pos 1;
    // level 1 has only d1 left -> pos 2.
    // (3, 1): 1 + 2 + 4 = 7; (2, 0): 4; (1, 1): 1 + 2 = 3; (0, 0): 0.
    val df = Seq((3L, 1L), (2L, 0L), (1L, 1L), (0L, 0L)).toDF("p", "s")
    val out = df.select(Layout.zValue(Seq(col("p"), col("s")), Seq(2, 1)).as("z"))
      .as[Long].collect().toSeq
    assert(out == Seq(7L, 4L, 3L, 0L))
  }

  test("zValue: equal widths reduce to the classic Morton interleave") {
    // bitLens (2, 2): d1 b0 -> 0, d2 b0 -> 1, d1 b1 -> 2, d2 b1 -> 3.
    // (2, 3): p1<<2 + s0<<1 + s1<<3 = 4 + 2 + 8 = 14.
    val z = Seq((2L, 3L)).toDF("p", "s")
      .select(Layout.zValue(Seq(col("p"), col("s")), Seq(2, 2)).as("z"))
      .as[Long].head()
    assert(z == 14L)
  }

  test("skippingCard: hand-computed on a dense 16x16 grid — z-order reads 4x fewer rows") {
    // Every (p, s) combination once; box [0,3]x[0,3]; 16 buckets.
    // linear: maxLin 15 -> shift 0, bucket = p: 16 buckets x 16 rows,
    //   envelopes (p=[p,p], s=[0,15]) -> 4 buckets read, 64 rows read.
    // zorder: bitLens (4,4), maxZ 255 -> shift 4, bucket = top 4 z bits
    //   = (p3,p2,s3,s2): 16 buckets = 4x4 cubes -> the box IS cube
    //   (0,0): 1 bucket read, 16 rows read. Both match exactly 16 rows.
    val grid = (for { p <- 0L until 16L; s <- 0L until 16L } yield (p, s))
      .toDF("p", "s")
    val card = Layout.skippingCard(grid, Seq("p", "s"),
      lo = Seq(0L, 0L), hi = Seq(3L, 3L), log2Buckets = 4)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(card("linear") == ((16L, 4L, 256L, 64L, 16L)))
    assert(card("zorder") == ((16L, 1L, 256L, 16L, 16L)))
  }

  test("zorderWrite: round trip preserved; per-file envelopes bound BOTH dims") {
    val grid = (for { p <- 0L until 16L; s <- 0L until 16L } yield (p, s))
      .toDF("p", "s")
    val path = java.nio.file.Files.createTempDirectory("zorder").toString + "/t"
    Layout.zorderWrite(grid, Seq("p", "s"), path, nFiles = 16)
    val back = spark.read.parquet(path)
    assert(back.count() == 256)
    // A linear-sorted 16-file layout has per-file s-spread 15 (each file
    // is a p-strip); z-order files are ~4x4 cubes (a boundary-straddling
    // range can widen one), so the MEAN spread collapses.
    val spreads = back.withColumn("f", input_file_name())
      .groupBy("f").agg((max("s") - min("s")).as("ss"), (max("p") - min("p")).as("ps"))
      .select(avg("ss").as("as"), avg("ps").as("ap"))
      .collect()(0)
    assert(spreads.getDouble(0) < 12.0 && spreads.getDouble(1) < 12.0,
      s"per-file envelopes not cube-like: $spreads")
  }

  test("opqPermutation: deals dimensions round-robin by descending energy") {
    // Two symmetric rows with maxAbs 127 -> qscale 1, qvec = v exactly.
    // Energies n*Σx²-(Σx)²: d2 (127) > d0 (63) > d3 (1) > d1 (0).
    // Round-robin over m=2, dsub=2: rank 0 -> slot (0,0), rank 1 ->
    // (1,0), rank 2 -> (0,1), rank 3 -> (1,1)  =>  perm = [2, 3, 0, 1]:
    // subspace 0 gets energies (1st, 3rd), subspace 1 gets (2nd, 4th).
    val df = Seq(
      (1L, Array(63.0, 0.0, 127.0, 1.0)),
      (2L, Array(-63.0, 0.0, -127.0, -1.0))).toDF("id", "v")
    val perm = Ann.opqPermutation(df, "id", "v", m = 2, dim = 4)
    assert(perm.toSeq == Seq(2, 3, 0, 1))
  }

  test("permuteVec: a bijection — inverse permutation restores the vector") {
    val perm = Array(2, 3, 0, 1)
    val inv = new Array[Int](4)
    perm.zipWithIndex.foreach { case (src, dst) => inv(src) = dst }
    val df = Seq(Array(10.0, 20.0, 30.0, 40.0)).toDF("v")
    val round = df
      .select(Ann.permuteVec(Ann.permuteVec(col("v"), perm), inv).as("r"))
      .as[Array[Double]].head()
    assert(round.toSeq == Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("opqTopK: pqTopK's exact contract — ranks 1..k, no self pairs, all queries served") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val out = Ann.opqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 3, m = 4, ksub = 16, oversample = 20, seed = 42,
      iters = 1).collect()
    assert(out.length == 15)
    assert(out.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
    assert(out.forall(r => r.getLong(0) != r.getLong(2)))
    assert(out.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("ivfPqTopKResidual: the same contract — ranks 1..k, no self pairs, all queries served") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val out = Ann.ivfPqTopKResidual(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 3).collect()
    assert(out.length == 15)
    assert(out.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
    assert(out.forall(r => r.getLong(0) != r.getLong(2)))
    assert(out.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
