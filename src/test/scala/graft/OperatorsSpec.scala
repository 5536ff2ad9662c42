package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Graphs}

/** Whole-operator semantics with exact small expected values. */
class OperatorsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("asofBackward: latest right ts at-or-before, per key, null when none") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L), (1L, 15L), (3L, 1L)).toDF("k", "ts")
    val got = AsOf.asofBackward(left, right, "k", "ts", "m")
      .select("tag", "m").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(
      "a" -> 10L, // exact-ts right row matches (<= semantics)
      "b" -> 15L, // latest of {10, 15}
      "c" -> -1L, // no right row at or before 5
      "d" -> -1L)) // key 2 has no right rows at all
  }

  test("asofBackward plan: one key-partitioned window, no range join blow-up") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val c = ev.filter(col("event_type") === "click").select("user_id", "ts")
    val plan = AsOf.asofBackward(p, c, "user_id", "ts").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not be a range/cross join:\n$plan")
    assert(plan.contains("Window"), "as-of should compile to a per-key window")
  }

  test("funnel: strict order converts, out-of-order does not, counts cascade") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // user 1: signup -> view -> purchase in order: full conversion
      (1L, "signup", ts(1)), (1L, "view", ts(2)), (1L, "purchase", ts(3)),
      // user 2: purchase BEFORE view: reaches step 2 only
      (2L, "signup", ts(1)), (2L, "purchase", ts(2)), (2L, "view", ts(3)),
      // user 3: view without signup: reaches no step
      (3L, "view", ts(1)), (3L, "purchase", ts(2)),
      // user 4: signup only
      (4L, "signup", ts(5))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.operators.Events.funnel(ev, "user_id", "event_type", "ts",
        Seq("signup", "view", "purchase"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == (("signup", 3L, 1.0)))
    assert(out(2L) == (("view", 2L, 2.0 / 3.0)))
    assert(out(3L) == (("purchase", 1L, 1.0 / 3.0)))
  }

  test("topJourneys: gap-cut paths in event order, ranked with lexicographic ties") {
    import java.sql.Timestamp
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      // user 1, session A: view > click; 2h gap; session B: view > click
      (1L, 1L, "view", ts(1, 0)), (2L, 1L, "click", ts(1, 5)),
      (3L, 1L, "view", ts(4, 0)), (4L, 1L, "click", ts(4, 2)),
      // user 2, one session: signup alone
      (5L, 2L, "signup", ts(2, 0))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.operators.Events.topJourneys(ev, "user_id", "event_type",
        "ts", "event_id", gapSeconds = 1800, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("view>click", 2L), ("signup", 1L)), s"got ${out.toSeq}")
  }

  test("withinWindowPairs: bucket-straddling pairs caught once, boundary inclusive") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
    val ev = Seq(
      (1L, 1L, ts(5)),    // pairs with e2 (same bucket) and e3 (straddles)
      (2L, 1L, ts(20)),
      (3L, 1L, ts(65)),   // 60s after e1: boundary inclusive; 45 after e2
      (4L, 1L, ts(200)),  // isolated
      (5L, 2L, ts(6))     // other user: never pairs with user 1
    ).toDF("event_id", "user_id", "ts")
    val out = graft.operators.Events.withinWindowPairs(ev, "user_id", "ts",
        "event_id", deltaSeconds = 60)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(out == Map(
      (1L, 2L) -> 15000000L,
      (1L, 3L) -> 60000000L,   // exactly delta: inclusive
      (2L, 3L) -> 45000000L), s"got $out")
  }

  test("retentionCohorts: hand-computed weekly matrix") {
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // 2024-01-01 is a Monday. User 1 cohort = week of Jan 1, active
    // weeks 0 and 2; user 2 same cohort, week 0 only; user 3 cohort =
    // week of Jan 8, active weeks 0 and 1.
    val ev = Seq(
      (1L, ts(2)), (1L, ts(16)),
      (2L, ts(3)), (2L, ts(4)),
      (3L, ts(9)), (3L, ts(15))
    ).toDF("user_id", "ts")
    val out = graft.operators.Events.retentionCohorts(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(
      ("2024-01-01", 0L) -> 2L, ("2024-01-01", 2L) -> 1L,
      ("2024-01-08", 0L) -> 1L, ("2024-01-08", 1L) -> 1L), s"got $out")
  }

  test("pageRank: symmetric 2-cycle is stationary at uniform rank") {
    // A<->B, scale 10^6: r0 = 500000 each; every iteration
    // base = 15e6//200 = 75000, contrib = (85*500000)//100 = 425000 —
    // the uniform distribution reproduces itself exactly.
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iters = 3,
        scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 500000L, 1L -> 500000L), s"got $got")
  }

  test("pageRank: dangling node leaks mass, teleport keeps ranks positive") {
    // A->B only. iter1: A = base = 75000, B = 75000 + 425000 = 500000.
    // iter2: B's inflow is A's r1 (75000): B = 75000 + (85*75000)//100
    // = 138750; A stays at base — hand-computed, truncation included.
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iters = 2,
        scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 75000L, 1L -> 138750L), s"got $got")
  }

  test("pageRank: parallel edges weight the target, outdeg counts the multigraph") {
    // A->B, A->B, A->C: outdeg(A) = 3, B receives two shares, C one.
    // iter1 (scale 10^6, N=3): r0 = 333333 each, share = 333333//3 =
    // 111111; base = 15e6//300 = 50000.
    // B = 50000 + (85*222222)//100 = 50000 + 188888 = 238888.
    // C = 50000 + (85*111111)//100 = 50000 + 94444 = 144444. A = 50000.
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iters = 1,
        scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 50000L, 1L -> 238888L, 2L -> 144444L), s"got $got")
  }

  test("fuzzyPairs: blocking bounds comparisons, exact dupes collapse, guard trips") {
    import graft.operators.Linkage
    // "acme corp"~"acme corp." (dist 1) share block "acme"; "acme corp"
    // appears twice (ids 1,9) and must collapse to min-id 1; "zeta corp"
    // is 4 edits from both acme rows but in block "zeta" — never compared.
    val df = Seq((1L, "acme corp"), (9L, "acme corp"), (2L, "acme corp."),
        (3L, "zeta corp")).toDF("id", "name")
    val got = Linkage.fuzzyPairs(df, "id", "name",
        c => element_at(split(c, " "), 1), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got == Set((1L, 2L, 1L)), s"got $got")
    // maxDist 0 on distinct strings: nothing to pair.
    assert(Linkage.fuzzyPairs(df, "id", "name",
      c => element_at(split(c, " "), 1), maxDist = 0).count() == 0)
    // A degenerate block key sends everything to one block → guard.
    val ex = intercept[Exception] {
      Linkage.fuzzyPairs(df, "id", "name", _ => lit("all"),
        maxDist = 1, maxBlock = 2).collect()
    }
    assert(ex.getMessage.contains("occupancy"), ex.getMessage)
  }

  test("labelPropagation: triangle converges to min label, 2-cycle oscillates deterministically") {
    // Triangle 1-2-3 plus the disconnected pair 10-11. Round 1: node 1
    // sees labels {2,3} (tie -> 2); nodes 2,3 see label 1 win. Round 2:
    // every triangle node's neighbors carry label 1 (or tie resolving
    // to 1) -> all 1. The pair swaps labels each round (the documented
    // bipartite oscillation) — after an even horizon each is back to
    // its own id. Fixed iters makes even this pathology reproducible.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = Graphs.labelPropagation(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 11L),
      s"got $got")
    val odd = Graphs.labelPropagation(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(odd(10L) == 11L && odd(11L) == 10L, s"got $odd")
  }

  test("rankWeightedSample: max-rank node always survives, zero rank never, deterministic") {
    val ranks = Seq((1L, 1000L), (2L, 500L), (3L, 0L)).toDF("node", "rank")
    (0L to 4L).foreach { seed =>
      val kept = Graphs.rankWeightedSample(ranks, "node", "rank", seed)
        .select("node").as[Long].collect().toSet
      assert(kept.contains(1L), s"seed $seed dropped the max-rank node")
      assert(!kept.contains(3L), s"seed $seed kept a zero-rank node")
      val again = Graphs.rankWeightedSample(ranks, "node", "rank", seed)
        .select("node").as[Long].collect().toSet
      assert(again == kept, "not deterministic")
    }
  }

  test("snapshot diff: added/removed/changed classified, unchanged dropped") {
    import graft.operators.Snapshot
    val old = Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"))
      .toDF("id", "txt", "src")
    val nw = Seq((1L, "a", "s1"), (2L, "B", "s1"), (4L, "d", "s2"))
      .toDF("id", "txt", "src")
    val got = Snapshot.diff(old, nw, "id", "txt", carry = Seq("src"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((2L, "changed", "s1"), (3L, "removed", "s2"),
      (4L, "added", "s2")), s"got $got")
    val sum = Snapshot.diffSummary(old, nw, "id", "txt", "src")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sum == Map(("s1", "changed") -> 1L, ("s2", "removed") -> 1L,
      ("s2", "added") -> 1L), s"got $sum")
  }

  test("applyChanges: upsert shadows, delete removes, untouched rows survive; diff of result is the changeset") {
    import graft.operators.Snapshot
    val old = Seq((1L, "a", "s"), (2L, "b", "s"), (3L, "c", "s")).toDF("id", "txt", "src")
    val ups = Seq((2L, "B", "s"), (9L, "d", "s")).toDF("id", "txt", "src")
    val dels = Seq(Tuple1(3L)).toDF("id")
    val res = Snapshot.applyChanges(old, ups, dels, "id")
    val got = res.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 9L -> "d"), s"got $got")
    // Round trip: diff(old, applied) recovers exactly the changeset.
    val d = Snapshot.diff(old, res, "id", "txt")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((2L, "changed"), (3L, "removed"), (9L, "added")), s"got $d")
  }

  test("resampleFfill: grid tiles the span, gaps carry forward, guard trips") {
    import graft.operators.Events
    // User u: values at buckets 0 (v=1.5) and 3 (v=2.5); bucket 0 has
    // two events — the later (ts 50, id 9) wins. Grid = 0..3, buckets
    // 1-2 filled with 1.5.
    val ev = Seq(
      ("u", 10L, 1L, 0.5), ("u", 50L, 9L, 1.5), ("u", 190L, 2L, 2.5))
      .toDF("user_id", "sec", "event_id", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.resampleFfill(ev, "user_id", "ts", "value", "event_id",
        bucketSeconds = 60)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == Set((0L, 1.5, 1L), (60L, 1.5, 0L), (120L, 1.5, 0L),
      (180L, 2.5, 1L)), s"got $got")
    val ex = intercept[Exception] {
      Events.resampleFfill(ev, "user_id", "ts", "value", "event_id",
        bucketSeconds = 1, maxBuckets = 10).collect()
    }
    assert(ex.getMessage.contains("maxBuckets"), ex.getMessage)
  }

  test("conversionLags: earlier purchases ignored, FIRST view anchors, non-converters drop") {
    import graft.operators.Events
    val ev = Seq((1L, 10L, "view"), (1L, 5L, "purchase"), (1L, 30L, "purchase"),
      (2L, 10L, "view"), (3L, 5L, "purchase"),
      (4L, 50L, "view"), (4L, 10L, "view"), (4L, 60L, "purchase"))
      .toDF("user_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.conversionLags(ev, "user_id", "event_type", "ts",
      "view", "purchase").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10000000L, 20000000L), (4L, 10000000L, 50000000L)),
      s"got $got")
  }

  test("theilSenTrend: median pairwise slope shrugs an outlier day, OLS would not") {
    import graft.operators.Events
    // a: days 1,2,3 counts 1,3,4 -> slopes 2e6, 1e6, 1.5e6 -> median 1.5e6.
    // b: days 1,2,3,4 counts 1,2,3,40 (outlier last day) -> 6 slopes:
    // 1e6,1e6,1e6 (within 1-3) + 37e6,19e6,13e6 (to day 4) -> median 1e6.
    def rows(t: String, day: Long, n: Int) =
      (1 to n).map(i => (t, day * 86400L + i))
    val ev = (rows("a", 1, 1) ++ rows("a", 2, 3) ++ rows("a", 3, 4) ++
      rows("b", 1, 1) ++ rows("b", 2, 2) ++ rows("b", 3, 3) ++
      rows("b", 4, 40))
      .toDF("event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.theilSenTrend(ev, "event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 3L, 1500000L), ("b", 6L, 1000000L)), s"got $got")
  }

  test("burstiness: gaps pool across users within type, exact CV2, cross-user no gap") {
    import graft.operators.Events
    // u1/A: gaps 10,10; u2/A: gaps 1,9 -> n=4 sg=30 sg2=282
    // cv2=(4*282-900)/900; no gap is ever computed across users.
    val ev = Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "A"), (1L, 20L, 3L, "A"),
      (2L, 100L, 4L, "A"), (2L, 101L, 5L, "A"), (2L, 110L, 6L, "A"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.burstiness(ev, "event_type", "user_id", "ts",
      "event_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    assert(got == Set(("A", 4L, 30L, 7.5, 228.0 / 900.0)), s"got $got")
  }

  test("crossCorrelation: shifted copy peaks at its lag, inner alignment, exact r") {
    import graft.operators.Events
    // A on days 1-4: 1,2,5,3; B = A shifted +1 day. lag 1 aligns
    // perfectly (r=1); lag 0 aligns days 2-4: a=(2,5,3) vs b=(1,2,5)
    // -> r = 1/sqrt(14*26).
    def rows(t: String, day: Long, n: Int) =
      (1 to n).map(i => (t, day * 86400L + i))
    val ev = (rows("A", 1, 1) ++ rows("A", 2, 2) ++ rows("A", 3, 5) ++
      rows("A", 4, 3) ++ rows("B", 2, 1) ++ rows("B", 3, 2) ++
      rows("B", 4, 5) ++ rows("B", 5, 3))
      .toDF("event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.crossCorrelation(ev, "event_type", "ts", maxLag = 1)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("A", "B", 1L)) == (4L, 1.0), s"got $got")
    assert(got(("A", "B", 0L)) == (3L, 1.0 / math.sqrt(14.0 * 26.0)),
      s"got $got")
  }

  test("inFlightByDay: sweep-line curve, exclusive end, same-day interval vanishes") {
    import graft.operators.Events
    // [1,3) [1,2) [2,4) + degenerate [2,2): curve 1:2 2:2 3:1 4:0.
    val iv = Seq((1L, 3L), (1L, 2L), (2L, 4L), (2L, 2L)).toDF("s", "e")
      .select(timestamp_seconds(col("s") * 86400).as("start"),
        timestamp_seconds(col("e") * 86400).as("end"))
    val got = Events.inFlightByDay(iv, "start", "end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 2L), (2L, 0L, 2L), (3L, -1L, 1L),
      (4L, -1L, 0L)), s"got $got")
  }

  test("mortonKey: hand-computed interleavings, 31-bit guard trips") {
    import graft.operators.Layout
    // spread(3)=0b101=5; y rides the odd lane (<<1); 5⊕2 -> 17|8=25.
    val got = Seq((3L, 0L), (0L, 3L), (1L, 1L), (5L, 2L)).toDF("x", "y")
      .select(Layout.mortonKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L, 10L, 3L, 25L), s"got $got")
    val ex = intercept[Exception] {
      Seq((2147483648L, 0L)).toDF("x", "y")
        .select(Layout.mortonKey(col("x"), col("y"))).collect()
    }
    assert(ex.getMessage.contains("mortonKey"), ex.getMessage)
  }

  test("dailyTrend: exact OLS on 1,3,5; single-day type drops") {
    import graft.operators.Events
    def rows(t: String, day: Long, n: Int) =
      (1 to n).map(i => (t, day * 86400L + i))
    val ev = (rows("a", 1, 1) ++ rows("a", 2, 3) ++ rows("a", 3, 5) ++
      rows("b", 1, 7))
      .toDF("event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.dailyTrend(ev, "event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    assert(got == Set(("a", 3L, 9L, 2.0, -1.0)), s"got $got")
  }

  test("activityProfile: weekday-zero Monday, ppm shares per type") {
    import graft.operators.Events
    // Epoch day 4 = Mon 1970-01-05. A: 3 hits Mon 10h, 1 hit Tue 11h.
    val ev = Seq(("A", 4L, 10L), ("A", 4L, 10L), ("A", 4L, 10L),
      ("A", 5L, 11L))
      .toDF("event_type", "day", "h")
      .withColumn("ts", timestamp_seconds(col("day") * 86400 + col("h") * 3600))
    val got = Events.activityProfile(ev, "event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(("A", 0L, 10L, 3L, 750000L), ("A", 1L, 11L, 1L, 250000L)),
      s"got $got")
  }

  test("sessionCooccurrence: distinct-per-session baskets, a<b pairs, lift") {
    import graft.operators.Events
    // user 1: [A,B,A] then (gap) [B,C]; user 2: [A]. S=3, nA=2,nB=2,nC=1.
    val ev = Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "A"),
      (1L, 5000L, 4L, "B"), (1L, 5010L, 5L, "C"), (2L, 0L, 6L, "A"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.sessionCooccurrence(ev, "user_id", "event_type", "ts",
      "event_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(("A", "B", 1L, 2L, 2L, 750000L),
      ("B", "C", 1L, 2L, 1L, 1500000L)), s"got $got")
  }

  test("changePoint: level shift found, single-day type drops, ties to earliest day") {
    import graft.operators.Events
    // a: 10,10,20,20 per day -> |S'| peaks at k=2 (abs 40).
    // b: one day -> no interior point. c: 1,2,1 -> tie abs 1, earliest day.
    def rows(t: String, day: Long, n: Int) =
      (1 to n).map(i => (t, day * 86400L + i))
    val ev = (rows("a", 1, 10) ++ rows("a", 2, 10) ++ rows("a", 3, 20) ++
      rows("a", 4, 20) ++ rows("b", 1, 5) ++
      rows("c", 1, 1) ++ rows("c", 2, 2) ++ rows("c", 3, 1))
      .toDF("event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.changePoint(ev, "event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(("a", 4L, 60L, 2L, 40L), ("c", 3L, 4L, 1L, 1L)),
      s"got $got")
  }

  test("skyline2D: frontier with duplicates, same-x shadowing, tie-on-y drops") {
    import graft.operators.Skyline
    // Distinct pairs: (3,3)x2 (3,1) (2,5) (2,4) (1,5) (0,9).
    // Frontier: (3,3) [n=2], (2,5); (1,5) ties y=5 vs larger x -> dominated;
    // (0,9) beats the running max.
    val pts = Seq((1L, 5L), (2L, 4L), (3L, 3L), (2L, 5L), (3L, 1L), (0L, 9L),
      (3L, 3L)).toDF("x", "y")
    val got = Skyline.skyline2D(pts, "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((3L, 3L, 2L), (2L, 5L, 1L), (0L, 9L, 1L)), s"got $got")
  }

  test("maintainAggregate: delta rollup — modify, new group, emptied group, guard") {
    import graft.operators.Snapshot
    val old = Seq((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g2", 30L))
      .toDF("id", "g", "v")
    val oldAgg = old.groupBy("g").agg(count(lit(1)).as("n_rows"),
      sum(col("v")).as("sum_val"))
    val ups = Seq((2L, "g1", 25L), (4L, "g3", 40L)).toDF("id", "g", "v")
    val del = Seq(Tuple1(3L)).toDF("id")
    val got = Snapshot.maintainAggregate(oldAgg, old, ups, del, "id", "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // g1: (2, 10+25); g3 enters; g2 empties and drops.
    assert(got == Set(("g1", 2L, 35L), ("g3", 1L, 40L)), s"got $got")
    val over = Snapshot.maintainAggregate(oldAgg, old, ups, del, "id", "g", "v",
      maxChangeRows = 2)
    val ex = messageChain(intercept[Exception](over.collect()))
    assert(ex.contains("maxChangeRows"), ex)
  }

  test("transitionMatrix: session cuts, boundary states, ppm rows sum") {
    import graft.operators.Events
    // user 1: [A,B] then (gap>1800s) [C]; user 2: [A] alone.
    val ev = Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 2000L, 3L, "C"),
      (2L, 0L, 4L, "A"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.transitionMatrix(ev, "user_id", "event_type", "ts",
      "event_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      ("__start", "A", 2L, 3L, 666666L), ("__start", "C", 1L, 3L, 333333L),
      ("A", "B", 1L, 2L, 500000L), ("A", "__end", 1L, 2L, 500000L),
      ("B", "__end", 1L, 1L, 1000000L), ("C", "__end", 1L, 1L, 1000000L)),
      s"got $got")
  }

  test("triangles: K4 + pendant; dup/reversed/self-loop edges canonicalize") {
    import graft.operators.Graphs
    // K4 on {1,2,3,4} (edge 2-1 also given reversed, 1-2 duplicated),
    // pendant 4-5, self-loop 6-6 (dropped entirely). K4 has 4 triangles,
    // 3 per node; cc(K4 node)=1.0; node 4 also touches 5: deg 4, cc=1/2.
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L), (6L, 6L)).toDF("s", "d")
    val got = Graphs.triangles(e, "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 3L, 3L, 1000000L), (2L, 3L, 3L, 1000000L), (3L, 3L, 3L, 1000000L),
      (4L, 4L, 3L, 500000L), (5L, 1L, 0L, 0L)), s"got $got")
  }

  test("scd2: runs collapse, null-safe change gate, intervals chain, current open") {
    import graft.operators.Events
    // Key a: A A B A -> 3 versions (the middle A collapses); key b: one
    // row; key c: null -> null -> X -> 2 versions (null==null collapses
    // null-safely, null->X opens).
    val ch = Seq(
      ("a", 10L, 1L, Some("A")), ("a", 20L, 2L, Some("A")),
      ("a", 30L, 3L, Some("B")), ("a", 40L, 4L, Some("A")),
      ("b", 10L, 5L, Some("Z")),
      ("c", 10L, 6L, None), ("c", 20L, 7L, None), ("c", 30L, 8L, Some("X")))
      .toDF("k", "sec", "id", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Events.scd2(ch, "k", "ts", "v", "id")
      .select(col("k"), col("version"), unix_micros(col("valid_from")).as("f"),
        unix_micros(col("valid_to")).as("t"), col("v"), col("is_current"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) "~" else r.getString(4), r.getInt(5))).toSet
    val M = 1000000L
    assert(got == Set(
      ("a", 1L, 10 * M, 30 * M, "A", 0), ("a", 2L, 30 * M, 40 * M, "B", 0),
      ("a", 3L, 40 * M, -1L, "A", 1),
      ("b", 1L, 10 * M, -1L, "Z", 1),
      ("c", 1L, 10 * M, 30 * M, "~", 0), ("c", 2L, 30 * M, -1L, "X", 1)),
      s"got $got")
  }

  test("saltedJoin: hot key spreads across salt lanes, results invariant, left join exact") {
    import graft.operators.Skew
    // 1000 facts, 90% on the hot key 7 — the known-skew shape
    val facts = SparkSpec.spark.range(1000).selectExpr("id AS fid",
      "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 10 END AS k",
      "id * 3 AS v")
    val dim = Seq((7L, "hot"), (0L, "zero"), (3L, "three"), (99L, "absent"))
      .toDF("dk", "name")
    // Disable auto-broadcast so the join actually shuffles — the shape
    // salting exists for (a broadcastable dim needs no salt).
    val conf = SparkSpec.spark.conf
    val prior = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = Skew.saltedJoin(facts, dim, "k", "dk",
        saltBy = col("fid"), salt = 8)
      // the physical shuffle must be keyed by (k, __salt): the hot key
      // can then never land on a single reducer
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"join not salted:\n$plan")
      // semantics: exactly the plain join
      val expect = facts.join(dim, facts("k") === dim("dk")).drop("dk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val got = salted.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == expect && got.size == 900) // only the hot key 7 has a dim row (k=9 rows do not)
      // the fact rows spread across DISTINCT salt lanes for the hot key
      val lanes = facts.filter(col("k") === 7)
        .select(pmod(graft.functions.Stable.hash64(col("fid")), lit(8L)).as("s"))
        .distinct().count()
      assert(lanes == 8, s"hot key used only $lanes of 8 lanes")
      // left join: unmatched facts survive exactly once with null dim cols
      val left = Skew.saltedJoin(facts, dim, "k", "dk",
        saltBy = col("fid"), salt = 8, joinType = "left")
      assert(left.count() == 1000)
      assert(left.filter(col("name").isNull).count() ==
        facts.join(dim, facts("k") === dim("dk"), "left_anti").count())
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("Checks.run: planted violations counted per declared NULL semantics, one row per check") {
    import graft.operators.Checks
    import graft.operators.Checks._
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 5.0, "ok"), (1L, 25.0, "ok"),      // dup id; 25 out of range
      (2L, null, "zz"),                        // null v (NOT a range violation); zz not accepted
      (null, 3.0, null)                        // null id; null s violates regex+accepted
    ).toDF("id", "v", "s")
    val ref = Seq(1L).toDF("rid")              // id=2 breaks referential integrity
    val out = Checks.run(df, Seq(
        NotNull("id"), InRange("v", 0.0, 10.0), MatchesRegex("s", "[a-z]+"),
        AcceptedValues("s", Seq("ok")), Unique(Seq("id")),
        RefIntegrity("id", ref, "rid"), MinRows(10)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("not_null", "id", 1L, 0L),
      ("in_range", "v", 1L, 0L),          // only 25.0; the NULL is not a range violation
      ("matches_regex", "s", 1L, 0L),     // the NULL; "zz" matches [a-z]+
      ("accepted_values", "s", 2L, 0L),   // "zz" and the NULL
      ("unique", "id", 1L, 0L),           // one row beyond id=1's first
      ("ref_integrity", "id", 1L, 0L),    // id=2 (the NULL id is exempt)
      ("min_rows", "", 6L, 0L)), s"got ${out.toSeq}")
  }

  test("chi2Contingency: hand-computed 2x2 table, micro-exact terms") {
    import graft.operators.Stats
    // observed [[10, 20], [30, 40]]: E = [12, 18, 28, 42]; terms
    // 4/12, 4/18, 4/28, 4/42 -> 333333, 222222, 142857, 95238 micro.
    val rows = Seq(("a", "x", 10), ("a", "y", 20), ("b", "x", 30), ("b", "y", 40))
      .flatMap { case (g, o, n) => Seq.fill(n)((g, o)) }.toDF("g", "o")
    val out = Stats.chi2Contingency(rows, "g", "o")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out == Set(
      ("a", "x", 10L, 12000000L, 333333L),
      ("a", "y", 20L, 18000000L, 222222L),
      ("b", "x", 30L, 28000000L, 142857L),
      ("b", "y", 40L, 42000000L, 95238L)), s"got $out")
    // a perfectly proportional table has zero statistic
    val prop = Seq(("a", "x", 10), ("a", "y", 20), ("b", "x", 20), ("b", "y", 40))
      .flatMap { case (g, o, n) => Seq.fill(n)((g, o)) }.toDF("g", "o")
    assert(Stats.chi2Contingency(prop, "g", "o")
      .agg(sum(col("term_micro"))).head().getLong(0) == 0L)
    // STRUCTURAL ZEROS count: arm b never shows outcome y, but E > 0
    // there — the cell must appear with O=0 and term = E (the
    // association signal an observed-cells-only statistic would miss).
    val zero = Seq(("a", "x", 10), ("a", "y", 10), ("b", "x", 20))
      .flatMap { case (g, o, n) => Seq.fill(n)((g, o)) }.toDF("g", "o")
    val z = Stats.chi2Contingency(zero, "g", "o")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // N=40, R_b=20, C_y=10 -> E(b,y)=5, O=0, term = 25/5 = 5.0
    assert(z(("b", "y")) == ((0L, 5000000L, 5000000L)), s"got ${z(("b", "y"))}")
    assert(z.size == 4, s"spine incomplete: ${z.keySet}")
  }

  test("histogramDrift: zero on identical snapshots, positive on a shift, terms never negative") {
    import graft.operators.Drift
    val a = SparkSpec.spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    val shifted = SparkSpec.spark.range(1000).selectExpr("CAST(id % 100 + 40 AS DOUBLE) AS v")
    val same = Drift.histogramDrift(a, a, "v", lo = 0.0, width = 20.0, nBuckets = 8)
      .collect()
    assert(same.length == 8)
    assert(same.forall(r => r.getLong(5) == 0L), "identical snapshots must have zero PSI")
    assert(same.forall(r => r.getLong(1) == r.getLong(2)))
    val drift = Drift.histogramDrift(a, shifted, "v", lo = 0.0, width = 20.0, nBuckets = 8)
      .collect()
    assert(drift.map(_.getLong(5)).sum > 0L, "a 40-unit shift must register")
    assert(drift.forall(_.getLong(5) >= 0L), "psi terms are nonnegative by construction")
    // every bucket reports, observed or not (the spine)
    assert(drift.map(_.getLong(0)).sorted.toSeq == (0L to 7L))
    // clamping: out-of-grid values land in the edge buckets, not dropped
    assert(drift.map(r => r.getLong(2)).sum == 1000L)
  }

  test("mannWhitney: hand-computed U, tie cube, all-tied variance -> NULL z, a/b symmetry") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    // a = {1,2,3} all below b = {4,5,6}: ranks of a are 1,2,3 so
    // R_a = 6, u2_a = 2*6 - 3*4 = 0 (complete separation), u2_b = 18.
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(4.0, 5.0, 6.0).toDF("v")
    val r = Stats.mannWhitney(a, b, "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 3L, 0L, 18L, 0L)))
    assert(r.getLong(5) < 0L, "a below b must give a negative z")
    // symmetry: swapping the samples swaps the U statistics
    val s = Stats.mannWhitney(b, a, "v").head()
    assert(s.getLong(2) == 18L && s.getLong(3) == 0L)
    // every value tied: tie_cube = 4^3-4 = 60, variance collapses to 0,
    // z must be NULL (not Inf/NaN floored into a garbage long)
    val t1 = Seq(1.0, 1.0).toDF("v")
    val r2 = Stats.mannWhitney(t1, t1, "v").head()
    assert(r2.getLong(4) == 60L && r2.getLong(2) == 4L && r2.getLong(3) == 4L)
    assert(r2.isNullAt(5))
  }

  test("ksTwoSample: separation gives D=1, identity gives D=0, arg-sup is the smallest value") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    val a = Seq(1.0, 2.0).toDF("v")
    val b = Seq(3.0, 4.0).toDF("v")
    val r = Stats.ksTwoSample(a, b, "v").head()
    // sup at v=2: |cumA*n_b - cumB*n_a| = |2*2 - 0*2| = 4 = n_a*n_b -> D=1
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((2L, 2L, 4L, 1000000L, 2.0)))
    val id = Stats.ksTwoSample(a, a, "v").head()
    assert(id.getLong(2) == 0L && id.getDouble(4) == 1.0,
      "identical samples: D=0, attained first at the smallest value")
  }

  test("welchT: equal samples give t=0 and df=4 exactly; n<2 gives NULLs") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val r = Stats.welchT(a, a, "v").head()
    // identical sides: meanDiff = 0 -> t = 0; sea == seb bitwise so the
    // Welch-Satterthwaite df chain is exactly (2s)^2 / (s^2) = 4
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((3L, 3L, 2000000L, 2000000L, 0L, 4000000L)))
    val tiny = Stats.welchT(Seq(1.0).toDF("v"), a, "v").head()
    assert(tiny.isNullAt(4) && tiny.isNullAt(5))
  }

  test("hazardCurve: hand-computed risk sets, censoring at study end, exact cumulative") {
    import graft.operators.Survival
    val spark = SparkSpec.spark
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:30:00", "purchase"),   // dur 0, event
      (2L, "2024-01-01 00:00:00", "view"),
      (2L, "2024-01-01 02:10:00", "purchase"),   // dur 2, event
      (3L, "2024-01-01 00:00:00", "view"),       // no purchase: censored @24h
      (4L, "2024-01-01 00:00:00", "view"),
      (4L, "2024-01-03 01:00:00", "purchase"))   // after study end: censored
      .toDF("user_id", "s", "event_type")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"), col("event_type"))
    val out = Survival.hazardCurve(ev, "user_id", "ts",
      col("event_type") === "purchase", "2024-01-02 00:00:00")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(0L) == ((1L, 0L, 4L, 250000L, 250000L)))
    assert(out(2L) == ((1L, 0L, 3L, 333333L, 583333L)))
    // both unresolved subjects censored together at the window edge,
    // contributing risk but no hazard
    assert(out(24L) == ((0L, 2L, 2L, 0L, 583333L)))
    assert(out.size == 3)
  }

  test("robustMean: hand-computed trim/winsorize on 1..10, alpha=0 degenerates to the mean") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    val v = (1 to 10).map(_.toDouble).toDF("v")
    val r = Stats.robustMean(v, "v", alpha = 0.2).head()
    // k=2: drop {1,2} and {9,10}; kept 3..8 -> mean 5.5; bounds 3 and 8;
    // winsorized (33 + 2*3 + 2*8)/10 = 5.5
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      ((10L, 2L, 3000000L, 8000000L, 5500000L, 5500000L)))
    val r0 = Stats.robustMean(v, "v", alpha = 0.0).head()
    assert((r0.getLong(1), r0.getLong(2), r0.getLong(3), r0.getLong(4),
      r0.getLong(5)) == ((0L, 1000000L, 10000000L, 5500000L, 5500000L)))
    // duplicates straddling the cut: ties are weighted, not all-dropped
    val dup = Seq(1.0, 2.0, 2.0, 2.0, 3.0).toDF("v")
    val rd = Stats.robustMean(dup, "v", alpha = 0.2).head()
    // k=1: drop one '1' and one '3'; kept = three 2s -> both means 2.0
    assert(rd.getLong(4) == 2000000L && rd.getLong(5) == 2000000L)
    intercept[IllegalArgumentException] { Stats.robustMean(v, "v", 0.5) }
  }

  test("benfordCard: digit extraction without logs, complete spine, sub-cent rows excluded") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    val v = Seq(1.0, 2.5, 19.99, 0.005, 300.0, -7.0).toDF("v")
    val rows = Stats.benfordCard(v, "v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(rows.size == 9, "complete 1..9 spine")
    // cents 100, 250, 1999, 30000 -> digits 1,2,1,3 (0.005 and -7 excluded)
    assert(rows(1L)._1 == 2L && rows(2L)._1 == 1L && rows(3L)._1 == 1L)
    assert((4L to 9L).forall(rows(_)._1 == 0L))
    assert(rows(1L)._2 == 500000L && rows(2L)._2 == 250000L)
    // expected literals are the micro-floored Benford shares, and the
    // deviation column is exactly |share - expected|
    assert(rows(1L)._3 == Stats.benfordExpectedMicro.head)
    assert(rows.forall { case (_, (_, s, e, d)) => d == math.abs(s - e) })
    assert(Stats.benfordExpectedMicro.sum <= 1000000L &&
      Stats.benfordExpectedMicro.head == 301029L)
  }

  test("cuped: perfect covariate equalizes adjusted means, theta=2, rho2=1; var(X)=0 -> NULLs") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    // y = 2x exactly: theta = 2, rho^2 = 1; arm imbalance in x is fully
    // regressed out so BOTH adjusted means land on the pooled value 5
    val pu = Seq((0L, 1L, 2L), (0L, 2L, 4L), (1L, 3L, 6L), (1L, 4L, 8L))
      .toDF("arm", "x", "y")
    val r = Stats.cuped(pu, "arm", "x", "y").orderBy("arm").collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(3L, 7L), "raw means differ")
    assert(r.map(_.getLong(3)).toSeq == Seq(5L, 5L), "adjusted means equalized")
    assert(r.forall(_.getLong(4) == 2000000L))
    assert(r.forall(_.getLong(5) == 1000000L))
    // constant covariate: no information, everything derived is NULL
    val flat = Seq((0L, 7L, 2L), (1L, 7L, 4L)).toDF("arm", "x", "y")
    val f = Stats.cuped(flat, "arm", "x", "y").collect()
    assert(f.forall(row => row.isNullAt(3) && row.isNullAt(4) && row.isNullAt(5)))
    // non-long metric columns are rejected loudly
    intercept[IllegalArgumentException] {
      Stats.cuped(pu.withColumn("x", col("x").cast("double")), "arm", "x", "y")
    }
  }

  test("poissonBootstrap: deterministic, full replicate spine, Poisson(1) mass behaves") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("k", "v")
    val r1 = Stats.poissonBootstrap(df, col("k"), "v", replicates = 50)
      .orderBy("b").collect()
    assert(r1.length == 50, "one row per replicate")
    // Poisson(1): E[n_b] = 1000; a 5-sigma band is +/- 158
    assert(r1.forall(r => r.getLong(1) > 842 && r.getLong(1) < 1158),
      s"replicate sizes implausible: ${r1.map(_.getLong(1)).mkString(",")}")
    // every bootstrap mean stays inside the data range and near the mean
    assert(r1.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 99000000L))
    val grand = r1.map(_.getLong(2)).sum / 50
    assert(math.abs(grand - 49500000L) < 5000000L, s"grand mean drifted: $grand")
    // stable randomness: a second run is bit-identical; a new seed is not
    val r2 = Stats.poissonBootstrap(df, col("k"), "v", replicates = 50)
      .orderBy("b").collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    val r3 = Stats.poissonBootstrap(df, col("k"), "v", replicates = 50, seed = 2L)
      .orderBy("b").collect()
    assert(r1.map(_.getLong(1)).toSeq != r3.map(_.getLong(1)).toSeq)
    // thresholds are monotone and cover ~Poisson(1) mass up to k=5
    val t = Stats.poissonThresholds
    assert(t == t.sorted && t.last < 1152921504606846976L)
    // the key contract is enforced IN-PLAN (lazy builder, guard at
    // execution): duplicates and NULL keys are both rejected by name
    val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v")
    val exDup = intercept[Exception] {
      Stats.poissonBootstrap(dup, col("k"), "v", replicates = 2).collect()
    }
    assert(exDup.getMessage.contains("row-unique"), exDup.getMessage)
    val nul = Seq((Some(1L), 1.0), (None, 2.0)).toDF("k", "v")
    val exNul = intercept[Exception] {
      Stats.poissonBootstrap(nul, col("k"), "v", replicates = 2).collect()
    }
    assert(exNul.getMessage.contains("NULL key"), exNul.getMessage)
  }

  test("proportionCI: Wilson bounds match the JVM replay of the exact chain; bounds bracket the rate") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    val df = (Seq.fill(3)(("a", false)) ++ Seq(("a", true)) ++
      Seq.fill(5)(("b", false))).toDF("g", "ok")
    val out = Stats.proportionCI(df, "g", col("ok")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    def wilson(s: Double, n: Double): (Long, Long) = {
      val z = Stats.z975; val z2 = z * z
      val ph = s / n; val denom = 1.0 + z2 / n
      val center = (ph + z2 / (2.0 * n)) / denom
      val half = z * math.sqrt(ph * (1.0 - ph) / n + z2 / (4.0 * n * n)) / denom
      (math.floor((center - half) * 1e6).toLong,
        math.floor((center + half) * 1e6).toLong)
    }
    val (loA, hiA) = wilson(1.0, 4.0)
    assert(out("a") == ((4L, 1L, 250000L, loA, hiA)))
    // bounds bracket the rate and stay in [0, 1] even at p = 0
    val (loB, hiB) = wilson(0.0, 5.0)
    assert(out("b") == ((5L, 0L, 0L, loB, hiB)))
    assert(loB >= 0L && hiB > 0L && hiB <= 1000000L,
      "Wilson must not collapse at p=0 the way Wald does")
    out.values.foreach { case (_, _, rate, lo, hi) =>
      assert(lo <= rate && rate <= hi)
    }
  }

  test("kCore: chain peels over multiple rounds, cycle survives, path cores to empty, contract raises") {
    import graft.operators.Graphs
    val spark = SparkSpec.spark
    import spark.implicits._
    // K3 {1,2,3} + pendant chain 3-4-5 (two peeling rounds: 5 first,
    // then 4) + a 4-cycle {6,7,8,9} that survives at k=2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (8L, 9L), (9L, 6L)).toDF("s", "d")
    val core = Graphs.kCore(edges, "s", "d", k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 2L),
      s"got $core")
    // a pure path has no 2-core at all
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    assert(Graphs.kCore(path, "s", "d", k = 2).isEmpty)
    // the convergence contract raises loudly when the unroll is exceeded
    intercept[IllegalStateException] {
      Graphs.kCore(path, "s", "d", k = 2, maxRounds = 1)
    }
  }

  test("anonymityAudit: k and l flags on hand classes; NULL QI is its own class; homogeneity caught") {
    import graft.operators.Privacy
    val spark = SparkSpec.spark
    import spark.implicits._
    val rows = Seq(
      ("us", "a", 1L), ("us", "a", 2L), ("us", "a", 1L),   // size 3, 2 sensitive: both ok
      ("fr", "b", 5L),                                     // singleton: k fails, l=1 fails
      ("de", "c", 7L), ("de", "c", 7L), ("de", "c", 7L),   // size 3 but HOMOGENEOUS: l fails
      (null, "d", 9L), (null, "d", 8L))                    // NULL QI class, size 2
      .toDF("nation", "seg", "bal")
    val out = Privacy.anonymityAudit(rows, Seq("nation", "seg"), col("bal"),
        k = 3, l = 2).collect()
      .map(r => (Option(r.getString(0)).getOrElse("~"), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("us", "a")) == ((3L, 2L, 1L, 1L)))
    assert(out(("fr", "b")) == ((1L, 1L, 0L, 0L)))
    assert(out(("de", "c")) == ((3L, 1L, 1L, 0L)),
      "the homogeneity attack k-anonymity alone misses")
    assert(out(("~", "d")) == ((2L, 2L, 0L, 1L)), "NULL QI forms its own class")
    assert(out.size == 4)
  }

  test("correlationMatrix: JVM replay of the exact chain; signs correct; constant column -> NULL") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    // y = 2x (r ~ +1), z = 10 - x (r ~ -1), w constant (undefined r).
    val rows = Seq(1.0, 2.0, 3.0, 5.0).map(x => (x, 2.0 * x, 10.0 - x, 7.0))
    val df = rows.toDF("x", "y", "z", "w")
    val out = Stats.correlationMatrix(df, Seq("x", "y", "z", "w")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // exact-replay oracle: BigInt moments -> the same IEEE chain
    def m(v: Double) = BigInt(math.floor(v * 1e6).toLong)
    val cols = Seq(rows.map(r => m(r._1)), rows.map(r => m(r._2)),
      rows.map(r => m(r._3)), rows.map(r => m(r._4)))
    def expect(i: Int, j: Int): Option[Long] = {
      val n = rows.size.toDouble
      val (a, b) = (cols(i), cols(j))
      def s(v: Seq[BigInt]) = v.sum.toDouble
      def p(u: Seq[BigInt], v: Seq[BigInt]) = u.zip(v).map { case (x, y) => x * y }.sum.toDouble
      val covn = n * p(a, b) - s(a) * s(b)
      val vin = n * p(a, a) - s(a) * s(a)
      val vjn = n * p(b, b) - s(b) * s(b)
      if (vin <= 0.0 || vjn <= 0.0) None
      else Some(math.floor(covn / math.sqrt(vin * vjn) * 1e6).toLong)
    }
    val names = Seq("x", "y", "z", "w")
    for (i <- 0 until 4; j <- (i + 1) until 4)
      assert(out((names(i), names(j))) == expect(i, j),
        s"pair (${names(i)}, ${names(j)})")
    assert(out(("x", "y")).exists(_ >= 999999L), "y=2x is r ~ +1")
    assert(out(("x", "z")).exists(_ <= -999999L), "z=10-x is r ~ -1")
    assert(out(("x", "w")).isEmpty && out(("y", "w")).isEmpty)
    assert(out.size == 6)
  }

  test("sequentialMonitor: boundary shrinks with information, crossing flips exactly once, guards hold") {
    import graft.operators.Stats
    val spark = SparkSpec.spark
    import spark.implicits._
    // day 0: half enrolled, strong-but-early effect stays UNDER the
    // inflated early boundary; day 1: full information, z crosses.
    val subjects =
      (0 until 5).map(i => (0L, 100L + i, 0L, if (i < 4) Some(0L) else None)) ++
      (0 until 5).map(i => (0L, 200L + i, 1L, Some(1L))) ++
      (0 until 5).map(i => (1L, 300L + i, 0L, None)) ++
      (0 until 5).map(i => (1L, 400L + i, 1L, if (i < 1) Some(1L) else None))
    val pu = subjects.map { case (arm, id, d, c) =>
      (arm, id, d, c.map(java.lang.Long.valueOf).orNull) }
      .toDF("arm", "id", "fs", "fp")
    val out = Stats.sequentialMonitor(pu, "arm", "fs", "fp").orderBy("day")
      .collect()
    assert(out.length == 2)
    def replay(na: Long, xa: Long, nb: Long, xb: Long, nt: Long) = {
      val pp = (xa + xb).toDouble / (na + nb).toDouble
      val frac = (na + nb).toDouble / nt.toDouble
      val zc = (xa.toDouble / na.toDouble - xb.toDouble / nb.toDouble) /
        math.sqrt(pp * (1.0 - pp) * (1.0 / na.toDouble + 1.0 / nb.toDouble))
      val bound = Stats.z975 / math.sqrt(frac)
      (math.floor(frac * 1e6).toLong, math.floor(zc * 1e6).toLong,
        math.floor(bound * 1e6).toLong, if (math.abs(zc) >= bound) 1L else 0L)
    }
    val d0 = out(0)
    assert((d0.getLong(1), d0.getLong(2), d0.getLong(3), d0.getLong(4)) ==
      ((5L, 4L, 5L, 0L)))
    val (f0, z0, b0, c0) = replay(5, 4, 5, 0, 20)
    assert((d0.getLong(5), d0.getLong(6), d0.getLong(7), d0.getLong(8)) ==
      ((f0, z0, b0, c0)))
    assert(c0 == 0L, "early peek with half information must NOT cross")
    val d1 = out(1)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3), d1.getLong(4)) ==
      ((10L, 9L, 10L, 1L)))
    val (f1, z1, b1, c1) = replay(10, 9, 10, 1, 20)
    assert((d1.getLong(5), d1.getLong(6), d1.getLong(7), d1.getLong(8)) ==
      ((f1, z1, b1, c1)))
    assert(c1 == 1L && b1 < b0, "full information crosses under the shrunken boundary")
    // three arms are rejected loudly
    intercept[IllegalArgumentException] {
      Stats.sequentialMonitor(pu.withColumn("arm", col("id") % 3), "arm", "fs", "fp")
    }
  }

  test("saltedJoin rejects inputs that already carry the reserved __salt column") {
    import graft.operators.Skew
    val facts = SparkSpec.spark.range(10).selectExpr("id AS k", "id AS fid")
    val dim = SparkSpec.spark.range(3).selectExpr("id AS dk", "id * 2 AS v")
    val e1 = intercept[IllegalArgumentException] {
      Skew.saltedJoin(facts.withColumn("__salt", lit(0)), dim, "k", "dk",
        saltBy = col("fid"))
    }
    assert(e1.getMessage.contains("__salt"))
    val e2 = intercept[IllegalArgumentException] {
      Skew.saltedJoin(facts, dim.withColumn("__salt", lit(0)), "k", "dk",
        saltBy = col("fid"))
    }
    assert(e2.getMessage.contains("__salt"))
  }
}
