package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.schemes.{Schemes, SequentialScheme}
import graft.transform._

/** Property-based laws (the SURVEY §5 additions the reference lacks):
  * generator-driven invariants over the structural operators. Trial counts
  * are small — each trial runs real Spark jobs on tiny data. */
class PropertiesSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def check(prop: Prop, trials: Int = 12): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), prop)
    assert(res.passed, res.status.toString)
  }

  private def indexedInts(n: Int) = {
    val df = (0 until n).map(i => (i.toLong, i * 7 % 23)).toDF("__idx", "v")
    Schemes.compile(df, SequentialScheme(1)).drop("__batch_id", "__pos")
      .withColumn("__pos", col("__idx"))
  }

  test("property: Batch then Unpack is the identity for any (n, batchSize)") {
    val gen = for {
      n <- Gen.choose(1, 40)
      b <- Gen.choose(1, 10)
    } yield (n, b)
    check(Prop.forAll(gen) { case (n, b) =>
      val df = indexedInts(n)
      val compiled = df.withColumn("__batch_id", floor(col("__pos") / b).cast("bigint"))
      val out = (Batch(b) andThen Unpack())(compiled)
        .select("v").collect().map(_.getInt(0)).sorted.toSeq
      out == df.select("v").collect().map(_.getInt(0)).sorted.toSeq
    })
  }

  test("property: Padding masks row-sum to original lengths, pads to batch max") {
    val gen = for {
      lens <- Gen.nonEmptyListOf(Gen.choose(1, 8)).map(_.take(12))
      b <- Gen.choose(1, 5)
    } yield (lens, b)
    check(Prop.forAll(gen) { case (lens, b) =>
      val rows = lens.zipWithIndex.map { case (len, i) =>
        (i.toLong, i.toLong, (i / b).toLong, Seq.tabulate(len)(_ + 1))
      }
      val df = rows.toDF("__idx", "__pos", "__batch_id", "seq")
      val padded = Padding(Seq("seq"))(Batch(b)(df))
      val out = Unpack()(padded).orderBy("__batch_id", "__i").collect()
      val gotLens = out.map(_.getSeq[Float](3).map(_.toDouble).sum.round.toInt).toSeq
      val gotPad = out.map(_.getSeq[Int](2).length)
      // mask sums recover the original lengths (in batch order)
      val expected = lens.zipWithIndex.sortBy { case (_, i) => (i / b, i) }.map(_._1)
      gotLens == expected &&
        // every padded row in a batch has that batch's max length
        out.groupBy(_.getLong(0)).values.forall(rs => rs.map(_.getSeq[Int](2).length).distinct.size == 1)
    }, trials = 10)
  }

  test("property: simhash banding finds EXACTLY the pairs within Hamming <= bands-1") {
    // The pigeonhole law behind Dedup.simhashNearDup: with 4 bands, any
    // pair within Hamming 3 shares at least one band (recall 1), and the
    // exact verify removes everything else (precision 1) — so the banded
    // result must equal the all-pairs ground truth, for ANY signature set.
    import graft.dedup.Dedup
    val gen = for {
      n <- Gen.choose(2, 10)
      base <- Gen.listOfN(n, Gen.choose(0L, (1L << 32) - 1))
      flips <- Gen.nonEmptyListOf(Gen.choose(0, 31)).map(_.take(3))
    } yield (base, flips)
    check(Prop.forAll(gen) { case (base, flips) =>
      // plant one near-dup of the first signature (<= 3 bits flipped)
      val planted = base.head ^ flips.distinct.map(1L << _).fold(0L)(_ | _)
      val sigs = (base :+ planted).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = Dedup.simhashNearDup(sigs.toDF("id", "h"), "id", "h",
          bands = 4, bitsPerBand = 8, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = sigs.combinations(2).collect {
        case Seq((i1, s1), (i2, s2)) if java.lang.Long.bitCount(s1 ^ s2) <= 3 =>
          (i1, i2)
      }.toSet
      got == want
    }, trials = 8)
  }

  test("property: firstPerKey keeps exactly the earliest row per key; n_dups partitions the input") {
    import graft.dedup.Dedup
    val gen = for {
      n <- Gen.choose(1, 50)
      ks <- Gen.listOfN(n, Gen.choose(0L, 5L))
      ts <- Gen.listOfN(n, Gen.choose(0L, 20L))
    } yield ks.lazyZip(ts).lazyZip(0L until n.toLong).map((k, t, i) => (i, k, t)).toList
    check(Prop.forAll(gen) { rows =>
      val out = Dedup.firstPerKey(rows.toDF("id", "k", "ts"), Seq("k"), "ts", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val byKey = rows.groupBy(_._2)
      out.length == byKey.size &&
        out.forall { case (id, k, ts, nd) =>
          nd == byKey(k).size && (ts, id) == byKey(k).map(r => (r._3, r._1)).min
        } &&
        out.map(_._4).sum == rows.size
    }, trials = 10)
  }

  test("property: packTokens concatenated in seq order replays the corpus in (doc, pos) order") {
    import graft.text.TextOps
    val gen = for {
      nd <- Gen.choose(1, 8)
      lens <- Gen.listOfN(nd, Gen.choose(0, 12))
      sl <- Gen.choose(1, 7)
    } yield (lens, sl)
    check(Prop.forAll(gen) { case (lens, sl) =>
      val rows = lens.zipWithIndex.flatMap { case (len, d) =>
        (0 until len).map(p => (d.toLong, p.toLong, (d * 100 + p).toLong)) }
      rows.isEmpty || {
        val packed = TextOps.packTokens(rows.toDF("id", "pos", "tok"), "id", "pos", "tok", sl)
          .orderBy("seq_id").collect()
        val flat = packed.flatMap(_.getSeq[Long](1)).toSeq
        flat == rows.sortBy(r => (r._1, r._2)).map(_._3) &&
          packed.dropRight(1).forall(_.getSeq[Long](1).size == sl)
      }
    }, trials = 10)
  }

  test("packSequencesOrdered: the curriculum key reorders offsets; empty order = packSequences") {
    import SparkSpec.spark.implicits._
    import graft.text.TextOps
    val d = Seq((1L, 10L, 3L), (2L, 20L, 1L), (3L, 30L, 2L))
      .toDF("doc_id", "n_tokens", "score")
    val out = TextOps.packSequencesOrdered(d, "doc_id", "n_tokens", 16,
        Seq(col("score")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("tok_offset"))
      .toMap
    // score-ascending layout: doc 2 (20 toks), doc 3 (30), doc 1 (10)
    assert(out == Map(2L -> 0L, 3L -> 20L, 1L -> 50L))
    val plain = TextOps.packSequences(d.select("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("tok_offset"))
      .toMap
    assert(plain == Map(1L -> 0L, 2L -> 10L, 3L -> 30L))
  }

  test("property: Rename by a bijection then its inverse restores the schema") {
    val names = Seq("a", "b", "c", "d")
    val gen = Gen.someOf(names).map(_.toList)
    check(Prop.forAll(gen) { subset =>
      val df = Seq((1, 2, 3, 4)).toDF(names: _*)
      val fwd = subset.map(n => n -> s"${n}_x").toMap
      val bwd = fwd.map(_.swap)
      Rename(bwd)(Rename(fwd)(df)).columns.toSeq == names
    })
  }

  test("property: FilterSources output order is the input column order") {
    val names = Seq("a", "b", "c", "d", "e")
    val gen = Gen.atLeastOne(names).map(_.toList)
    check(Prop.forAll(gen) { subset =>
      val df = Seq((1, 2, 3, 4, 5)).toDF(names: _*)
      FilterSources(subset)(df).columns.toSeq == names.filter(subset.contains)
    })
  }

  test("property: foldId matches the reference fold boundaries for any (n, k)") {
    val gen = for {
      k <- Gen.choose(2, 8)
      n <- Gen.choose(k, 60)
    } yield (n.toLong, k)
    check(Prop.forAll(gen) { case (n, k) =>
      val got = spark.range(n).toDF("__idx")
        .select(Schemes.foldId(col("__idx"), n, k)).collect().map(_.getLong(0)).toSeq
      val want = (0L until n).map { p =>
        (0 until k).find(i => n * i / k <= p && p < n * (i + 1) / k).get.toLong
      }
      got == want
    }, trials = 10)
  }

  test("property: Flatten preserves element count and order for nesting depth 2-3") {
    val gen = Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.choose(0, 99))).map(_.take(5))
    check(Prop.forAll(gen) { nested =>
      val df = Seq(Tuple1(nested.map(_.take(5)))).toDF("x")
      val flat = Flatten(Seq("x"))(df).collect()(0).getSeq[Int](0).toSeq
      flat == nested.flatMap(_.take(5))
    })
  }

  test("property: asofBackward equals brute-force max(right.ts <= left.ts) per key") {
    val rowGen = for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 40L)
    } yield (k, t)
    val gen = for {
      left <- Gen.listOfN(15, rowGen)
      right <- Gen.listOfN(15, rowGen)
    } yield (left, right)
    check(Prop.forAll(gen) { case (left, right) =>
      val l = left.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("id", "k", "ts")
      val r = right.toDF("k", "ts")
      val got = graft.operators.AsOf.asofBackward(l, r, "k", "ts", "m")
        .select("id", "m")
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      val want = left.zipWithIndex.map { case ((k, t), i) =>
        i.toLong -> right.filter(rr => rr._1 == k && rr._2 <= t).map(_._2).maxOption
      }.toMap
      got == want
    }, trials = 8)
  }

  test("property: Subset algebra laws (pure driver-side, high trial count)") {
    import graft.sources.Subset
    val N = 50L
    val genIdx = Gen.listOf(Gen.choose(0L, N - 1)) // may be empty, dups ok
    // union membership = set union; empty is neutral; union is commutative
    check(Prop.forAll(genIdx, genIdx) { (a, b) =>
      val (sa, sb) = (Subset.list(a, N), Subset.list(b, N))
      val u = sa + sb
      u.listRepresentation.toSet == (a.toSet ++ b.toSet) &&
        (sb + sa).listRepresentation == u.listRepresentation &&
        (sa + Subset.empty(N)).listRepresentation == sa.listRepresentation
    }, trials = 200)
    // beautify is idempotent and canonical: contiguous non-empty -> slice
    check(Prop.forAll(genIdx) { a =>
      val s = Subset.list(a, N)
      val again = Subset.list(s.listRepresentation, N)
      again.repr == s.repr &&
        (s.listRepresentation.isEmpty ||
          s.isList != (s.listRepresentation.last - s.listRepresentation.head + 1 ==
            s.listRepresentation.size))
    }, trials = 200)
    // composition: subsetOf(s, [i..j)) selects exactly positions i..j-1 of
    // the canonical list representation
    val genNonEmpty = Gen.nonEmptyListOf(Gen.choose(0L, N - 1))
    check(Prop.forAll(genNonEmpty, Gen.choose(0, 100)) { (a, salt) =>
      val s = Subset.list(a, N)
      val n = s.numExamples
      val i = salt % n
      val j = i + 1 + (salt % (n - i))
      Subset.subsetOf(s, i, j).listRepresentation ==
        s.listRepresentation.slice(i.toInt, j.toInt).distinct.sorted
    }, trials = 200)
  }

  test("law: withIdx is invariant to input partitioning; withStorageIdx is not") {
    // withIdx's claim — a total sort makes the index a pure function of the
    // DATA, not of how the input happened to be partitioned — asserted by
    // running the same frame through 2-way and 32-way round-robin shuffles:
    // every key must land on the identical __idx.
    import graft.sources.{Indexed, Tables}
    val base = Tables.load(spark, sf, "customer").select("c_custkey", "c_name")
    def idxMap(df: org.apache.spark.sql.DataFrame) =
      Indexed.withIdx(df, Seq(col("c_custkey")))
        .select(col("c_custkey").cast("long"), col(Indexed.Idx))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at2 = idxMap(base.repartition(2))
    val at32 = idxMap(base.repartition(32))
    assert(at2 == at32, "withIdx must assign identical indices at any input partitioning")
    // withStorageIdx explicitly does NOT carry that guarantee — it numbers
    // rows in the source's layout, so the SAME data shuffled into different
    // layouts numbers differently (here: 2 vs 32 round-robin partitions of
    // 1500 rows — identical global orders would mean the layouts coincide).
    def storageMap(df: org.apache.spark.sql.DataFrame) =
      Indexed.withStorageIdx(df)
        .select(col("c_custkey").cast("long"), col(Indexed.Idx))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storageMap(base.repartition(2)) != storageMap(base.repartition(32)),
      "withStorageIdx numbers the layout, not the data — a shuffle voids determinism")
    // ...while staying deterministic for a FIXED layout (the contract it
    // does make: same parquet files, same indices, run to run).
    assert(storageMap(base) == storageMap(base),
      "withStorageIdx must be deterministic for an unchanged source layout")
  }

  test("law: the zipped index's declared order holds — partition ranges ascend, never overlap") {
    // Every scan output declares an order — the index [__idx ASC], a
    // prefix scan the sort it ran — and range partitioning on it, and the
    // planner drops sorts on that word alone. Check it against the data:
    // within each partition the order key ascends, and each non-empty
    // partition's [min, max] lies wholly below the next one's. Shuffles
    // stay uncoalesced so the sorted inputs keep several partitions.
    import graft.sources.{Indexed, PrefixSum, Tables}
    import graft.schemes.ShuffledScheme
    import graft.stream.DataStream
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val base = Tables.load(spark, sf, "customer").select("c_custkey", "c_name")
      .withColumn("v", (col("c_custkey") * 7 % 11).cast("bigint"))
    def assertDeclared(df: DataFrame, key: Column, what: String): Unit = {
      val keys = df.select(key.cast("bigint")).rdd
      val ranges = keys.mapPartitionsWithIndex { (p, rows) =>
        val xs = rows.map(_.getLong(0)).toVector
        if (xs.isEmpty) Iterator.empty
        else Iterator((p, xs.head, xs.last, xs == xs.sorted))
      }.collect().sortBy(_._1)
      assert(ranges.forall(_._4), s"$what: the order key descends inside a partition")
      assert(ranges.sliding(2).forall {
        case Array(a, b) => a._3 < b._2
        case _ => true
      }, s"$what: partition ranges overlap or descend: ${ranges.mkString(", ")}")
      df.queryExecution.executedPlan.outputPartitioning match {
        case RangePartitioning(_, n) => assert(n == keys.getNumPartitions, what)
        case other => fail(s"$what: declares $other, not a range partitioning")
      }
    }
    // the prefix max runs in DESCENDING key order, so its ascending key
    // is the negated one
    val scans = Seq[(String, DataFrame => DataFrame, Column)](
      ("withIdx", Indexed.withIdx(_, Seq(col("c_custkey"))), col(Indexed.Idx)),
      ("withPrefixSum", PrefixSum.withPrefixSum(_, Seq(col("c_custkey")), "v"), col("c_custkey")),
      ("withPrefixMax", PrefixSum.withPrefixMax(_, Seq(col("c_custkey").desc), "v"), -col("c_custkey")))
    val coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      for ((name, scan, key) <- scans; parts <- Seq(1, 2, 32))
        assertDeclared(scan(base.repartition(parts)), key, s"$name over $parts partitions")
      assertDeclared(Indexed.withStorageIdx(base.repartition(32)), col(Indexed.Idx),
        "withStorageIdx")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
    // An input with no partitions at all declares nothing and still builds
    // and plans; the empty index still iterates an (empty) epoch.
    for ((name, scan, _) <- scans) {
      val empty = scan(base.filter(lit(false)))
      assert(empty.rdd.getNumPartitions == 0, name)
      assert(!empty.queryExecution.executedPlan.outputPartitioning
        .isInstanceOf[RangePartitioning], name)
      assert(empty.collect().isEmpty, name)
    }
    val empty = Indexed.withIdx(base.filter(lit(false)), Seq(col("c_custkey")))
    val stream = DataStream(empty, ShuffledScheme(3, seed = 1), Seq(col("c_custkey")))
    assert(stream.epochIterator(1).isEmpty)
  }

  test("law: packDocSpans tiles every sequence exactly — no gaps, no overlaps, full cover") {
    // For any (doc sizes, seqLen): within each seq_id the spans, sorted by
    // start, must begin at 0, abut exactly, and sum to seqLen (the final
    // sequence sums to totalTokens % seqLen instead). This IS the
    // attention-mask contract: every token position belongs to exactly
    // one document.
    val gen = for {
      seqLen <- Gen.choose(3, 17)
      sizes <- Gen.nonEmptyListOf(Gen.choose(0L, 40L))
    } yield (seqLen, sizes)
    check(Prop.forAll(gen) { case (seqLen, sizes) =>
      val docs = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, n) }.toDF("doc_id", "n_tokens")
      val spans = graft.text.TextOps.packDocSpans(docs, "doc_id", "n_tokens", seqLen)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      val total = sizes.sum
      val lastSeq = if (total == 0) -1L else (total - 1) / seqLen
      spans.forall { case (seqId, rows) =>
        val sorted = rows.map(t => (t._2, t._3)).sortBy(_._1)
        val expectedLen = if (seqId == lastSeq && total % seqLen != 0) total % seqLen
                          else seqLen.toLong
        sorted.head._1 == 0 &&
          sorted.last._2 == expectedLen &&
          sorted.sliding(2).forall {
            case Array((_, e1), (s2, _)) => e1 == s2
            case _ => true
          } &&
          sorted.forall { case (s, e) => e > s }
      } && (total == 0 || spans.keySet == (0L to lastSeq).toSet)
    }, trials = 20)
  }

  test("property: capPerGroup keeps exactly min(cap, |group|) rows per group, output ⊆ input") {
    val gen = for {
      sizes <- Gen.listOfN(3, Gen.choose(0, 12))
      cap <- Gen.choose(1, 8)
      seed <- Gen.choose(1L, 1000L)
    } yield (sizes, cap, seed)
    check(Prop.forAll(gen) { case (sizes, cap, seed) =>
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (0 until n).map(i => (s"g$g", g * 100L + i))
      }
      if (rows.isEmpty) true
      else {
        val df = rows.toDF("grp", "id")
        val out = graft.text.Curation.capPerGroup(df, "grp", "id", cap, seed)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val byGroup = out.groupBy(_._1).view.mapValues(_.length).toMap
        sizes.zipWithIndex.forall { case (n, g) =>
          byGroup.getOrElse(s"g$g", 0) == math.min(cap, n)
        } && out.toSet.subsetOf(rows.toSet)
      }
    }, trials = 10)
  }

  test("property: lengthPercentileGate bands are monotone — a wider band keeps a superset") {
    val gen = for {
      n <- Gen.choose(1, 30)
      lo <- Gen.choose(0, 40)
      hi <- Gen.choose(60, 100)
      w <- Gen.choose(1, 20)
    } yield (n, lo, hi, w)
    check(Prop.forAll(gen) { case (n, lo, hi, w) =>
      val docs = (1 to n).map(i => (i.toLong, (i * w % 29 + 1).toLong))
        .toDF("doc_id", "len")
      def kept(l: Int, h: Int) = graft.text.TextOps
        .lengthPercentileGate(docs, "len", l, h)
        .select("doc_id").as[Long].collect().toSet
      val inner = kept(lo, hi)
      val outer = kept(math.max(0, lo - 10), math.min(100, hi + 10))
      inner.subsetOf(outer) && kept(0, 100).size == n
    }, trials = 10)
  }

  test("property: mixWithRepeats row count = fullEpochs·|docs| + |fractional admits|") {
    val gen = for {
      n <- Gen.choose(1, 10)
      budgetMult <- Gen.choose(1, 30) // rate = budgetMult / 10
      seed <- Gen.choose(1L, 500L)
    } yield (n, budgetMult, seed)
    check(Prop.forAll(gen) { case (n, budgetMult, seed) =>
      val docs = (1L to n.toLong).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
      val total = 10L * n
      val budget = total * budgetMult / 10
      if (budget == 0) true
      else {
        val rate = budget.toDouble / total.toDouble
        val full = math.floor(rate).toLong
        val threshold = math.floor((rate - math.floor(rate)) * 1000000).toLong
        val fracN = docs.filter(
          pmod(graft.functions.Stable.seededHash(seed, lit("s"), col("doc_id")),
            lit(1000000L)) < threshold).count()
        val out = graft.text.Curation.mixWithRepeats(
          Seq(("s", docs, 1.0)), "doc_id", "n_tokens", budget, seed)
        out.count() == full * n + fracN
      }
    }, trials = 10)
  }

  test("law: threshold samples are nested — the p% corpus is a subset of the q% corpus") {
    // The q159 ablation contract: one hash, any two rates p < q —
    // every row kept at p is kept at q, for any seed.
    import org.scalacheck.Gen
    check(Prop.forAll(Gen.choose(0L, 9999L),
        Gen.choose(1, 499), Gen.choose(500, 999)) { (seed, p, q) =>
      val h = pmod(graft.functions.Stable.seededHash(seed, col("id")), lit(1000L))
      val df = SparkSpec.spark.range(300).select(col("id"), h.as("__h"))
      df.filter(col("__h") < p && !(col("__h") < q)).count() == 0L
    }, trials = 10)
  }

  test("law: saltedJoin is salt-invariant and equals the plain join for any salt") {
    // The lane count is pure plumbing: for ANY salt (including the
    // degenerate 1) the joined multiset must equal the unsalted join —
    // the q189 invariance, quantified over salt and data shape.
    import org.scalacheck.Gen
    check(Prop.forAll(Gen.choose(1, 24), Gen.choose(2L, 40L)) { (salt, n) =>
      val facts = SparkSpec.spark.range(n * 5)
        .selectExpr("id AS fid", "id % " + n + " AS k")
      val dim = (0L until n by 2).map(k => (k, s"d$k")).toDF("dk", "name")
      val plain = facts.join(dim, facts("k") === dim("dk")).drop("dk")
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val salted = graft.operators.Skew
        .saltedJoin(facts, dim, "k", "dk", saltBy = col("fid"), salt = salt)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      salted == plain
    }, trials = 8)
  }

  test("law: packEfficiency's closed form equals the actual pack's sequence count") {
    // n_sequences = ceil(total/seqLen) must agree with max(last_seq)+1
    // of packSequences — the card predicts exactly what the pack does.
    import org.scalacheck.Gen
    check(Prop.forAll(Gen.choose(1, 40), Gen.choose(1L, 9999L)) { (seqLen, seed) =>
      val docs = SparkSpec.spark.range(30).select(col("id").as("doc_id"),
        pmod(graft.functions.Stable.seededHash(seed, col("id")), lit(25L))
          .as("n_tokens"))
      val card = graft.text.TextOps
        .packEfficiency(docs, "n_tokens", Seq(seqLen))
        .head()
      val packed = graft.text.TextOps
        .packSequences(docs.filter(col("n_tokens") > 0), "doc_id", "n_tokens", seqLen)
        .agg(max(col("last_seq")).as("mx")).head()
      val expected = if (packed.isNullAt(0)) 0L else packed.getLong(0) + 1
      card.getAs[Long]("n_sequences") == expected &&
        card.getAs[Long]("pad_tokens") ==
          card.getAs[Long]("n_sequences") * seqLen - card.getAs[Long]("total_tokens")
    }, trials = 8)
  }

  test("law: grouped split assigns every cluster to exactly one split") {
    // The q157 invariant — the split key is the cluster id, so members
    // of a family can never straddle train/test (the leakage q119
    // audits is impossible by construction).
    import org.scalacheck.Gen
    check(Prop.forAll(Gen.choose(1L, 64L), Gen.choose(0L, 9999L)) { (n, seed) =>
      val members = (0L until n * 3).map(i => (i, i % n)).toDF("doc_id", "__unit")
      val s = graft.sources.SplitSource.assignSplit(members, col("__unit"), seed,
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      s.groupBy("__unit").agg(countDistinct(col("split")).as("k"))
        .agg(max(col("k")).as("mx")).head().getLong(0) == 1L
    }, trials = 10)
  }

  test("law: conversionLags is salt-invariant — any salt reproduces the plain path exactly") {
    // q192 pins salt = 16 against the oracle; this quantifies the same
    // invariance over the salt knob on a generated event log (every
    // user converts with scattered A/B interleavings, some users have
    // no A — the drop case).
    import org.scalacheck.Gen
    check(Prop.forAll(Gen.choose(1, 24), Gen.choose(20L, 200L)) { (salt, n) =>
      val ev = SparkSpec.spark.range(n).selectExpr(
        "id % 7 AS u",
        "CASE WHEN id % 5 = 0 AND id % 7 <> 3 THEN 'A' ELSE 'B' END AS t",
        "timestamp_micros(id * 1000000 + 1000000000) AS ts")
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val plain = graft.operators.Events
        .conversionLags(ev, "u", "t", "ts", "A", "B")
        .collect().map(key).toSet
      val salted = graft.operators.Events
        .conversionLags(ev, "u", "t", "ts", "A", "B", salt = salt)
        .collect().map(key).toSet
      salted == plain
    }, trials = 8)
  }

  test("law: grouped prefix sum = per-group window sum, restarts at 0, invariant to partitioning") {
    import org.scalacheck.Gen
    check(Prop.forAll(Gen.choose(1, 5), Gen.choose(1L, 200L)) { (nGroups, n) =>
      val df = SparkSpec.spark.range(n).selectExpr(
        s"id % $nGroups AS g", "id AS k", "(id * 7) % 13 AS v")
      val got = graft.sources.PrefixSum
        .withGroupedPrefixSum(df.repartition(5), Seq("g"), Seq(col("k")), "v", "off")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      val expect = df.selectExpr("g", "k", "v",
          "coalesce(sum(v) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS off")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      got == expect && (0L until math.min(nGroups.toLong, n)).forall(g => got((g, g)) == 0L)
    }, trials = 8)
  }

  test("law: rrfFuse is invariant to ranking-list order, and self-fusion preserves order") {
    import graft.text.TextOps
    def ranking(ids: Seq[Long], qid: Long = 1L) =
      ids.zipWithIndex.map { case (id, i) => (qid, (i + 1).toLong, id) }
        .toDF("query_id", "rank", "doc_id")
    val a = ranking(Seq(10L, 20L, 30L, 40L))
    val b = ranking(Seq(30L, 10L, 50L, 60L))
    def fused(rs: Seq[org.apache.spark.sql.DataFrame]) =
      TextOps.rrfFuse(rs, "doc_id", k = 6)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // permutation invariance: the contribution sum is commutative
    assert(fused(Seq(a, b)) sameElements fused(Seq(b, a)))
    // self-fusion: 1/(k0+r) is strictly decreasing in r, so fusing a
    // ranking with itself reproduces it exactly
    val self = fused(Seq(a, a))
    assert(self.map(_._2).toSeq == Seq(10L, 20L, 30L, 40L), s"got ${self.toSeq}")
    // a doc on BOTH lists at mid rank outranks a single-list top doc
    // only when the reciprocal sums say so — pin one interior value:
    // doc 30 (ranks 3 and 1) vs doc 10 (ranks 1 and 2):
    // 10: 1e12/61 + 1e12/62 > 30: 1e12/63 + 1e12/61 -> 10 first, 30 second
    val ab = fused(Seq(a, b))
    assert(ab.take(2).map(_._2).toSeq == Seq(10L, 30L), s"got ${ab.toSeq}")
  }

  test("property: rank statistics (Mann-Whitney, KS) are invariant under strictly monotone transforms") {
    import graft.operators.Stats
    // U, tie_cube, z and D depend only on the ORDER of pooled values —
    // the defining property of a rank test. f(x) = x^3 + 2x is strictly
    // increasing and exact on small-integer doubles.
    val gen = for {
      a <- Gen.nonEmptyListOf(Gen.choose(-20, 20))
      b <- Gen.nonEmptyListOf(Gen.choose(-20, 20))
    } yield (a, b)
    check(Prop.forAll(gen) { case (a, b) =>
      val f = (x: Int) => { val d = x.toDouble; d * d * d + 2.0 * d }
      val (da, db) = (a.map(_.toDouble).toDF("v"), b.map(_.toDouble).toDF("v"))
      val (fa, fb) = (a.map(f).toDF("v"), b.map(f).toDF("v"))
      val u0 = Stats.mannWhitney(da, db, "v").head()
      val u1 = Stats.mannWhitney(fa, fb, "v").head()
      val k0 = Stats.ksTwoSample(da, db, "v").head()
      val k1 = Stats.ksTwoSample(fa, fb, "v").head()
      u0.toSeq == u1.toSeq &&
        (k0.getLong(0), k0.getLong(1), k0.getLong(2), k0.getLong(3)) ==
          ((k1.getLong(0), k1.getLong(1), k1.getLong(2), k1.getLong(3)))
    }, trials = 6)
  }

  test("property: kCore output has min degree >= k and is a fixed point (idempotence)") {
    import graft.operators.Graphs
    val gen = for {
      m <- Gen.choose(5, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, 14L); b <- Gen.choose(0L, 14L)
      } yield (a, b))
      k <- Gen.choose(2, 4)
    } yield (es, k)
    check(Prop.forAll(gen) { case (es, k) =>
      val e = es.toDF("s", "d")
      val core = Graphs.kCore(e, "s", "d", k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // defining postcondition: every survivor keeps >= k neighbors
      val minDegOk = core.values.forall(_ >= k)
      // idempotence: the core's induced edge set is already its own
      // k-core (peeling a fixed point changes nothing)
      val keep = core.keySet
      val induced = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b && keep(a) && keep(b) }.distinct
      val again =
        if (induced.isEmpty) Map.empty[Long, Long]
        else Graphs.kCore(induced.toDF("s", "d"), "s", "d", k).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      minDegOk && again == core
    }, trials = 6)
  }

  test("property: robustMean is shift-equivariant on integer-valued data; constant data fixes everything") {
    import graft.operators.Stats
    // adding an integer constant shifts every output statistic by
    // c*1e6 exactly (integer-valued doubles keep the micro grid exact)
    val gen = for {
      v <- Gen.listOfN(12, Gen.choose(0, 50)).suchThat(_.nonEmpty)
      c <- Gen.choose(1, 30)
    } yield (v, c)
    check(Prop.forAll(gen) { case (v, c) =>
      val r0 = Stats.robustMean(v.map(_.toDouble).toDF("v"), "v", 0.2).head()
      val r1 = Stats.robustMean(v.map(x => (x + c).toDouble).toDF("v"), "v", 0.2).head()
      val d = c.toLong * 1000000L
      r1.getLong(2) == r0.getLong(2) + d && r1.getLong(3) == r0.getLong(3) + d &&
        r1.getLong(4) == r0.getLong(4) + d && r1.getLong(5) == r0.getLong(5) + d &&
        r1.getLong(0) == r0.getLong(0) && r1.getLong(1) == r0.getLong(1)
    }, trials = 6)
    // degenerate distribution: every bootstrap replicate mean is the value
    val one = Seq.fill(40)(7.0).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("k", "v")
    val bs = graft.operators.Stats.poissonBootstrap(one, col("k"), "v",
      replicates = 20).collect()
    assert(bs.filter(!_.isNullAt(2)).forall(_.getLong(2) == 7000000L))
  }
}
