package graft

import org.apache.spark.sql.functions._

import graft.functions.Stable

/** The deterministic-hash contract: the native codegen expression must be
  * bit-identical to the built-in composition (which defines the DuckDB
  * oracle equivalence), and the derived uniforms/families must stay in
  * range. */
class StableSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("native Hash64Expr == conv(substring(md5)) on varied inputs, incl. interpreted path") {
    val inputs = Seq("", "a", "hello42", "x" * 1000, "émoji ✓ ünïcode",
      "sep", "0", "-1", "spark native hash") ++
      (0 until 200).map(i => s"doc $i token ${i * 31}")
    val df = inputs.toDF("s")
    val mismatch = df.select(
        Stable.hash64(col("s")).as("native"),
        ReferenceForms.hash64Composed(col("s")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(mismatch.count() == 0)
    // interpreted (non-codegen) eval path agrees too
    import graft.functions.Hash64Expr
    import org.apache.spark.unsafe.types.UTF8String
    inputs.foreach { s =>
      val viaExpr = Hash64Expr.hash(UTF8String.fromString(s))
      val viaSql = spark.sql(
        s"SELECT CAST(conv(substring(md5(X'${s.getBytes("UTF-8").map("%02x".format(_)).mkString}'), 1, 15), 16, 10) AS BIGINT)")
        .head().getLong(0)
      assert(viaExpr == viaSql, s"mismatch for '$s'")
    }
  }

  test("native NgramHashesExpr == HOF reference form, incl. edge cases and real corpus") {
    import graft.text.TextOps
    // Edge cases: empty array (one hash of ""), short doc (whole-doc
    // gram), exact-k doc, nulls vanishing without separator (concat_ws),
    // repeated tokens, unicode.
    val edge = Seq(
      Seq.empty[String], Seq("solo"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", null, "c", "d"), Seq("a", "a", "a", "a", "a"),
      Seq("émoji", "✓", "ünïcode", "x")
    ).toDF("ts")
    for (k <- Seq(1, 2, 3, 20)) {
      val bad = edge.select(
          TextOps.ngramHashes(col("ts"), k).as("native"),
          ReferenceForms.ngramHashesRef(col("ts"), k).as("ref"))
        .filter(!(col("native") <=> col("ref")))
      assert(bad.count() == 0, s"edge mismatch at k=$k")
    }
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
      .select(TextOps.tokens(col("text")).as("ts"))
    val bad = corpus.select(
        TextOps.ngramHashes(col("ts"), 20).as("native"),
        ReferenceForms.ngramHashesRef(col("ts"), 20).as("ref"))
      .filter(!(col("native") <=> col("ref")))
    assert(bad.count() == 0, "corpus mismatch at k=20")
  }

  test("hash64 values are non-negative and fit in 60 bits") {
    val stats = spark.range(10000)
      .select(Stable.hash64(col("id")).as("h"))
      .agg(min("h"), max("h")).head()
    assert(stats.getLong(0) >= 0L)
    assert(stats.getLong(1) < (1L << 60))
  }

  test("uniform01 stays in [0,1) and is seed-sensitive") {
    val u = spark.range(5000).select(Stable.uniform01(7, col("id")).as("u"))
    val mm = u.agg(min("u"), max("u"), avg("u")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) < 1.0)
    assert(math.abs(mm.getDouble(2) - 0.5) < 0.05) // roughly uniform
    val u2 = spark.range(5000).select(Stable.uniform01(8, col("id")).as("u"))
    assert(u.collect().map(_.getDouble(0)).toSeq != u2.collect().map(_.getDouble(0)).toSeq)
  }

  test("familyHash members are in [0, 2^61-1) and mutually distinct") {
    val base = Stable.hash64(col("id"))
    val df = spark.range(2000).select(
      Stable.familyHash(base, 0).as("f0"),
      Stable.familyHash(base, 1).as("f1"))
    val r = df.agg(min("f0"), max("f0"), sum(when(col("f0") === col("f1"), 1).otherwise(0))).head()
    assert(r.getLong(0) >= 0L && r.getLong(1) < 2305843009213693951L)
    assert(r.getLong(2) == 0L) // families don't collide pointwise here
  }

  test("digest pair: native Hash64PairExpr == portable composition; lo == seededHash; hi 60-bit disjoint") {
    val df = SparkSpec.spark.range(500).select(col("id"))
    val d = Stable.seededDigest(7L, col("id"), col("id") * 3)
    val pair = Stable.seededHashPair(7L, col("id"), col("id") * 3)
    val out = df.select(
      Stable.seededHash(7L, col("id"), col("id") * 3).as("sh"),
      Stable.digestLo(d).as("lo"), Stable.digestHi(d).as("hi"),
      pair.getItem(0).as("nlo"), pair.getItem(1).as("nhi")).collect()
    out.foreach { r =>
      // lo IS seededHash of the same inputs — one definition, two forms —
      // and the native pair expression matches the portable
      // conv(substring(md5)) composition bit-for-bit on both halves
      // (the DuckDB-oracle contract).
      assert(r.getLong(0) == r.getLong(1), s"lo != seededHash: $r")
      assert(r.getLong(3) == r.getLong(1), s"native lo != portable lo: $r")
      assert(r.getLong(4) == r.getLong(2), s"native hi != portable hi: $r")
      assert(r.getLong(2) >= 0 && r.getLong(2) < (1L << 60), s"hi out of range: $r")
    }
    // The two draws come from disjoint digest bits: across 500 rows they
    // must not be correlated enough to collide more than rarely (an
    // identical-bits bug would make every pair equal).
    assert(out.count(r => r.getLong(1) == r.getLong(2)) <= 1)
  }

  test("optimizer rule rewrites the portable md5 composition to Hash64Expr") {
    // A SQL user writing the documented portable form gets the native
    // codegen expression automatically (GraftExtensions injectOptimizerRule).
    // range, not a local Seq: ConvertToLocalRelation would constant-fold
    // a LocalRelation projection before the plan can be inspected.
    val df = spark.range(3).selectExpr("CAST(id AS STRING) AS s")
      .selectExpr("s", "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS h")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_hash64"), optimized)
    df.collect().foreach { r =>
      assert(r.getLong(1) == graft.functions.Hash64Expr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))),
        s"rewritten value drifted for '${r.getString(0)}'")
    }
    // A genuinely-binary md5 input has no string child — the contract
    // form is defined over strings, so the rule must leave it alone.
    val bin = spark.range(2).selectExpr("unhex(CAST(id AS STRING)) AS b")
      .selectExpr("CAST(conv(substring(md5(b), 1, 15), 16, 10) AS BIGINT) AS h")
    assert(!bin.queryExecution.optimizedPlan.toString.contains("graft_hash64"))
    // A 14-digit substring is NOT the contract form — untouched.
    val off = spark.range(2).selectExpr("CAST(id AS STRING) AS s")
      .selectExpr("CAST(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT) AS h")
    assert(!off.queryExecution.optimizedPlan.toString.contains("graft_hash64"))
  }
}
