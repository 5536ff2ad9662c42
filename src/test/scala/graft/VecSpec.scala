package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.VecExpressions

/** The codegen dot-product contract: [[graft.functions.DotExpr]] must be
  * bit-identical to the HOF formulation it replaced (which defines the
  * DuckDB oracle equivalence for the ANN queries) across float arrays,
  * mixed float/double, nulls, and length mismatches — in both the codegen
  * and interpreted eval paths. */
class VecSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** The exact expression DotExpr replaced in graft.ann.Ann. */
  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("DotExpr bit-matches aggregate(zip_with) on random float vectors") {
    val gen = Gen.listOfN(64, Gen.chooseNum(-1e6f, 1e6f))
    val vecs = (1 to 200).flatMap(i => gen.sample).map(_.toArray)
    val df = vecs.zip(vecs.reverse).toDF("a", "b")
    val mismatch = df.select(
        VecExpressions.dot(col("a"), col("b")).as("native"),
        hofDot(col("a"), col("b")).as("hof"))
      // bit-compare: NaN == NaN, -0.0 != 0.0
      .filter(expr("CAST(native AS STRING) IS DISTINCT FROM CAST(hof AS STRING)") ||
        col("native") =!= col("hof"))
    assert(mismatch.count() == 0)
  }

  test("DotExpr handles empty, length-mismatch, and null-element inputs like the HOF") {
    val rows = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),   // plain
      (Array.empty[Float], Array.empty[Float])) // empty -> 0.0
    val df = rows.toDF("a", "b")
    val r = df.select(VecExpressions.dot(col("a"), col("b")).as("d"),
      hofDot(col("a"), col("b")).as("h")).collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1)))

    // length mismatch -> NULL (zip_with pads with null, poisons the fold)
    val mm = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
      .select(VecExpressions.dot(col("a"), col("b")).as("d")).head()
    assert(mm.isNullAt(0))

    // null element anywhere -> NULL
    val ne = Seq((Seq[java.lang.Float](1.0f, null, 3.0f), Seq[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
      .select(VecExpressions.dot(col("a"), col("b")).as("d")).head()
    assert(ne.isNullAt(0))
  }

  test("DotExpr mixed float x double literal array (LSH hyperplane shape)") {
    val plane = Array(0.25, -0.5, 0.125, 1.0)
    val df = Seq(Array(1.0f, 2.0f, 3.0f, 4.0f)).toDF("v")
    val native = df.select(
      VecExpressions.dot(col("v"), array(plane.map(lit).toSeq: _*)).as("d")).head().getDouble(0)
    val hof = df.select(
      hofDot(col("v"), array(plane.map(lit).toSeq: _*)).as("d")).head().getDouble(0)
    assert(native == hof)
    assert(native == (0.25 - 1.0 + 0.375 + 4.0))
  }

  test("SQL entry point reaches the native expressions via GraftExtensions") {
    // the shared session is built by Graft.session -> withExtensions
    val viaSql = spark.sql(
      "SELECT graft_hash64('abc'), graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head()
    val direct = Seq("abc").toDF("s")
      .select(graft.functions.Stable.hash64(col("s"))).head().getLong(0)
    assert(viaSql.getLong(0) == direct)
    assert(viaSql.getDouble(1) == 11.0)
    val err = intercept[Exception] { spark.sql("SELECT graft_dot(array(1.0D))") }
    assert(err.getMessage.contains("2 arguments") || err.getMessage.contains("graft_dot"))
  }

  test("SignBucketsExpr bit-matches the literal-array bucketKey formulation") {
    import graft.ann.Ann
    import graft.functions.SignBuckets
    val hp = Ann.hyperplanes(42, tables = 6, planes = 12, dim = 64)
    val gen = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f))
    val vecs = (1 to 100).flatMap(_ => gen.sample).map(_.toArray)
    val df = vecs.toDF("v")
    val native = df.select(SignBuckets(col("v"), hp).as("b")).collect()
      .map(_.getSeq[Long](0).toVector)
    val viaLiterals = df.select(
        array(hp.indices.map(t => Ann.bucketKey(col("v"), hp(t))): _*).as("b")).collect()
      .map(_.getSeq[Long](0).toVector)
    assert(native.toSeq == viaLiterals.toSeq)
    // interpreted eval agrees with codegen
    import graft.functions.SignBucketsExpr
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val lit0 = Literal.create(ArrayData.toArrayData(vecs.head), ArrayType(FloatType))
    val viaEval = SignBucketsExpr(lit0, hp).eval(null)
      .asInstanceOf[ArrayData].toLongArray.toVector
    assert(viaEval == native.head)
    // dim guard fails loudly (the anti-degeneration contract)
    val bad = Seq(Array(1.0f, 2.0f)).toDF("v").select(SignBuckets(col("v"), hp))
    val err = intercept[Exception] { bad.collect() }
    assert(err.getMessage != null)
  }

  test("MatDotsExpr bit-matches per-row DotExpr against literal arrays") {
    val rows = Array.tabulate(16, 64)((r, d) =>
      math.sin(r * 64 + d + 1.0)) // deterministic non-trivial matrix
    val gen = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f))
    val vecs = (1 to 100).flatMap(_ => gen.sample).map(_.toArray)
    val df = vecs.toDF("v")
    val native = df.select(VecExpressions.matDots(col("v"), rows).as("d")).collect()
      .map(_.getSeq[Double](0).toVector)
    val viaLiterals = df.select(array(rows.map(r =>
        VecExpressions.dot(col("v"), array(r.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*).as("d"))
      .collect().map(_.getSeq[Double](0).toVector)
    // bit-compare via raw bits (NaN-safe, -0.0-exact)
    assert(native.map(_.map(java.lang.Double.doubleToLongBits)).toSeq ==
      viaLiterals.map(_.map(java.lang.Double.doubleToLongBits)).toSeq)
    // interpreted eval agrees with codegen
    import graft.functions.MatDotsExpr
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val lit0 = Literal.create(ArrayData.toArrayData(vecs.head), ArrayType(FloatType))
    val viaEval = MatDotsExpr(lit0, rows).eval(null)
      .asInstanceOf[ArrayData].toDoubleArray.toVector
    assert(viaEval == native.head)
    // length mismatch nulls the output (every per-row dot would be NULL)
    val mm = Seq(Array(1.0f, 2.0f)).toDF("v")
      .select(VecExpressions.matDots(col("v"), rows).as("d")).head()
    assert(mm.isNullAt(0))
  }

  test("DotExpr interpreted eval path agrees with codegen") {
    import graft.functions.DotExpr
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = Literal.create(ArrayData.toArrayData(Array(1.5f, -2.0f, 3.25f)), ArrayType(FloatType))
    val b = Literal.create(ArrayData.toArrayData(Array(2.0f, 0.5f, -1.0f)), ArrayType(FloatType))
    val viaEval = DotExpr(a, b).eval(null).asInstanceOf[Double]
    val viaDf = Seq((Array(1.5f, -2.0f, 3.25f), Array(2.0f, 0.5f, -1.0f))).toDF("a", "b")
      .select(VecExpressions.dot(col("a"), col("b"))).head().getDouble(0)
    assert(viaEval == viaDf)
    assert(viaEval == (3.0 - 1.0 - 3.25))
  }

  test("GatherSumExpr bit-matches the element_at HOF across index widths") {
    // The HOF formulation the expression replaced (0-based indices,
    // sequential left fold, null poisons the fold).
    def hofGather(vals: org.apache.spark.sql.Column, idx: org.apache.spark.sql.Column) =
      aggregate(transform(idx, i => try_element_at(vals, i.cast("int") + lit(1))),
        lit(0.0), (acc, v) => acc + v)
    val vals = (0 until 64).map(i => math.sin(i + 1.0))
    val gen = Gen.listOfN(8, Gen.chooseNum(0, 63))
    val idxRows = (1 to 100).flatMap(_ => gen.sample)
    val df = idxRows.map(ix => (vals, ix)).toDF("vals", "idx")
    // int indices (the pqEncode shape)
    val mismatch = df.select(
        VecExpressions.gatherSum(col("vals"), col("idx")).as("native"),
        hofGather(col("vals"), col("idx")).as("hof"))
      .filter(expr("native IS DISTINCT FROM hof"))
    assert(mismatch.count() == 0)
    // byte and short index arrays are accepted and agree
    val narrow = idxRows.take(20)
      .map(ix => (vals, ix.map(_.toByte), ix.map(_.toShort), ix))
      .toDF("vals", "b", "s", "i")
      .filter(
        expr("graft_gather_sum(vals, b) IS DISTINCT FROM graft_gather_sum(vals, i)") ||
        expr("graft_gather_sum(vals, s) IS DISTINCT FROM graft_gather_sum(vals, i)"))
    assert(narrow.count() == 0)
    // empty indices -> 0.0; out-of-range or null index -> NULL
    val edge = Seq((vals, Seq.empty[Int]), (vals, Seq(64)), (vals, Seq(-1)))
      .toDF("vals", "idx")
      .select(VecExpressions.gatherSum(col("vals"), col("idx")).as("g")).collect()
    assert(edge(0).getDouble(0) == 0.0)
    assert(edge(1).isNullAt(0) && edge(2).isNullAt(0))
    val ni = Seq((vals, Seq[Integer](1, null, 2))).toDF("vals", "idx")
      .select(VecExpressions.gatherSum(col("vals"), col("idx")).as("g")).head()
    assert(ni.isNullAt(0))
    // interpreted eval agrees with codegen
    import graft.functions.GatherSumExpr
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val litV = Literal.create(ArrayData.toArrayData(vals.toArray), ArrayType(DoubleType))
    val litI = Literal.create(ArrayData.toArrayData(idxRows.head.toArray), ArrayType(IntegerType))
    val viaEval = GatherSumExpr(litV, litI).eval(null).asInstanceOf[Double]
    val viaDf = df.limit(1)
      .select(VecExpressions.gatherSum(col("vals"), col("idx"))).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(viaEval) ==
      java.lang.Double.doubleToLongBits(viaDf))
  }

  test("mmrSelect picks diversity over redundancy; lambda=den degenerates to top-k by rel") {
    import graft.ann.Ann
    // Pool: two near-duplicate high-relevance vectors (1, 2), one
    // orthogonal medium-relevance vector (3), one low (4). Plain top-2
    // by relevance = {1, 2}; MMR at lambda 7/10 must pick 1 then skip
    // its near-clone for the orthogonal 3.
    val rows = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0.95),
      (2L, Seq(0.999, 0.01, 0.0), 0.94),
      (3L, Seq(0.0, 1.0, 0.0), 0.60),
      (4L, Seq(0.0, 0.0, 1.0), 0.10)).toDF("id", "v", "rel")
    val got = Ann.mmrSelect(rows, "id", "v", "rel", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 3L), (3L, 2L)), s"got $got")
    // lambda = 1 (num = den): pure relevance order — the ranker limit
    val pure = Ann.mmrSelect(rows, "id", "v", "rel", k = 3,
        lambdaNum = 1, lambdaDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pure == Seq((1L, 1L), (2L, 2L), (3L, 3L)), s"got $pure")
    // pool-exhaustion: k beyond the pool stops cleanly
    val all = Ann.mmrSelect(rows, "id", "v", "rel", k = 10)
    assert(all.count() == 4)
    // bounded-pool contract enforced: the first round fails with the
    // message, and the persisted pool does not outlive the failure
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = messageChain(intercept[Exception] {
      Ann.mmrSelect(rows, "id", "v", "rel", k = 2, maxCandidates = 2)
    })
    assert(e.contains("mmrSelect: candidate pool exceeds 2 rows"), e)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }
}
