package graft

/** Physical-plan audits: the properties that make these queries survive a
  * 100 TB scale-up, asserted against the executed plan so a regression
  * (lost pushdown, a sneaky cartesian, a skewed window) fails loudly. */
class PlanSpec extends SparkSpec {
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q2: predicate and column pruning reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), "filters not pushed to scan")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    // only the 6 needed columns, not the 11-column lineitem row
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q21 tokenize scans the corpus exactly once (in-band BOS/EOS)") {
    val p = plan("q21_tokenize")
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents"))
    assert(docScans == 1, s"tokenize should read documents once, saw $docScans scans")
  }

  test("ANN brute force: broadcast nested loop, never CartesianProduct") {
    val p = plan("q30_ann_topk")
    assert(!p.contains("CartesianProduct"), "brute-force ANN degenerated to a cartesian")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side should broadcast")
  }

  test("LSH dedup: only key-partitioned joins, no CartesianProduct") {
    val p = plan("q28_lsh_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH pipeline must stay equi-join only")
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q3_join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q8_semi_anti").contains("BroadcastHashJoin"))
    assert(plan("q12_having").contains("BroadcastHashJoin"))
  }

  test("q6 per-group top-k: partial aggregation, no window sort") {
    val p = plan("q6_window_rank")
    assert(!p.contains("Window"), "top-k must not use a skewed window sort")
    assert(p.contains("partial_topk") || p.contains("ObjectHashAggregate"),
      s"expected partial-aggregable top-k, got:\n$p")
  }

  test("q35 sessionization window is partitioned by user, not global") {
    val p = plan("q35_sessionize")
    val windowLines = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(windowLines.contains("user_id"), s"window must partition by user_id:\n$windowLines")
  }

  test("q1: single-pass partial aggregation (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate") && p.contains("partial"),
      "q1 must partial-aggregate before the shuffle")
  }

  test("bucketed tables co-locate: fact-dim join with NO exchange on either side") {
    // The 100 TB pattern for repeated fact-fact/fact-dim joins: bucket both
    // tables on the join key at write time; Spark's bucketed scan reports
    // the hash partitioning, so the join needs no shuffle at all.
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      import org.apache.spark.sql.functions.col
      graft.sources.Tables.load(spark, sf, "orders")
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_b_orders")
      graft.sources.Tables.load(spark, sf, "customer")
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_b_customer")
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_customer")
    }
  }

  test("q39: every centroid-dots kernel is consumed by a single zip_with pass") {
    // The r4-advice hazard: a separate __sims projection referenced once
    // inside a transform lambda was legal for CollapseProject to inline,
    // re-running the 16 centroid dots per sequence element (element_at over
    // the kernel inside a lambda). The kernel now feeds the argsort structs
    // as the DIRECT argument of one zip_with, consumed in one pass — so in
    // the plan, every graft_mat_dots occurrence must appear as
    // `zip_with(graft_mat_dots(...)`, never inside a per-element lambda.
    // (Occurrence COUNT varies with filter pushdown duplication; the shape
    // is the invariant.)
    val p = plan("q39_ann_ivf")
    val all = "graft_mat_dots".r.findAllIn(p).length
    val singlePass = "zip_with\\(graft_mat_dots".r.findAllIn(p).length
    assert(all > 0, "q39 must use the graft_mat_dots kernel")
    assert(singlePass == all,
      s"$all graft_mat_dots occurrences but only $singlePass in single-pass zip_with position")
  }

  test("q60 admission: ONE fused near pass — a single band-bucket occupancy window") {
    // admit's near stage is one guarded banded join against
    // store ∪ lower-id peers; a regression to separate cross/within
    // passes would show a second (band, bkey) occupancy window (and a
    // second distinct + anti-join behind it).
    val p = plan("q60_incremental_admit")
    val guardWindows = p.linesIterator.count(_.contains("windowspecdefinition(band"))
    assert(guardWindows == 1,
      s"expected exactly 1 band-occupancy guard window, saw $guardWindows")
  }

  test("q66 line dedup: boilerplate broadcasts; line rows never shuffle keyed by text") {
    // The r6 scale-killer: the join-back inner-joined the FULL counts frame
    // keyed by line TEXT — the hot key was exactly the boilerplate being
    // removed. The rewrite broadcasts the bounded over-threshold set into a
    // left_anti join, so the only line-text-keyed exchange left is the count
    // agg's (collapsed map-side by partial aggregation).
    val p = plan("q66_line_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"line scrub must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join may remain in the line-dedup plan:\n$p")
    // The cached boilerplate set's InMemoryRelation prints its count-agg
    // plan twice (codegen'd + cachedPlan repr) — both occurrences are the
    // SAME single exchange; anything past 2 means a new text-keyed shuffle.
    val lineExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(__line"))
    assert(lineExchanges <= 2,
      s"only the (cached, twice-printed) count agg may exchange on line text, saw $lineExchanges")
  }

  test("q65 repetition signals come out of ONE corpus scan (fused 2/3-gram explode)") {
    val p = plan("q65_repetition")
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents"))
    assert(docScans == 1,
      s"repetitionColumns should read documents once, saw $docScans scans")
  }

  test("prefix-sum statistics execute as a SINGLE source pass (totals from the bridge, not a re-scan)") {
    // withPrefixSumTotal hands the grand total back from phase 1, so
    // robustMean / ksTwoSample / hazardCurve / lengthPercentileGate keep
    // NO totals frame: a totals aggregation re-derives the source
    // (exchange reuse cannot deduplicate across the RDD bridge — the
    // pre-fix q204 plan carried a second FileScan + a broadcast join).
    // The pin: no FileScan in the final plan tree at all (the source
    // ride inside the eager RDD lineage), and no join node reintroduced.
    for (q <- Seq("q204_robust_mean", "q201_ks_drift", "q200_rank_shift",
        "q203_retention_hazard")) {
      val p = plan(q)
      assert(!p.contains("FileScan"),
        s"$q: a FileScan re-appeared beside the RDD bridge — totals are " +
          "being re-derived from the source again")
      assert(!p.contains("Join"),
        s"$q: a join re-appeared in the post-bridge plan")
    }
  }

  test("a scan over a scan in the same order shuffles once: lineage shuffle counts pinned") {
    // A prefix scan declares the sort it ran, so a second scan in the same
    // order over its output plans no range exchange: KS drift (__v, __v),
    // the hazard curve (dur, dur) and vocabulary coverage (running sum,
    // then rank). The count walks the executed RDD lineage, so the
    // construction-time scans hidden behind the RDD bridge count too; each
    // ShuffleDependency counts once however many paths reach it.
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    def shuffles(q: String): Int = {
      val rdds = scala.collection.mutable.Set.empty[Int]
      val ids = scala.collection.mutable.Set.empty[Int]
      def walk(r: RDD[_]): Unit = if (rdds.add(r.id)) r.dependencies.foreach { d =>
        d match {
          case s: ShuffleDependency[_, _, _] => ids += s.shuffleId
          case _ =>
        }
        walk(d.rdd)
      }
      walk(SparkEntry.queries(q)(spark, sf).queryExecution.toRdd)
      ids.size
    }
    spark.catalog.clearCache()
    val pinned = Map("q201_ks_drift" -> 2, "q203_retention_hazard" -> 3,
      "q93_vocab_coverage" -> 1)
    val got = pinned.map { case (q, _) => q -> shuffles(q) }
    assert(got == pinned, s"lineage shuffle counts changed: $got (pinned $pinned)")
  }

  test("q51 curation: the Recompute reuse policy costs a PINNED number of corpus scans") {
    // Under Curation.Recompute every consumer of the gated frame re-derives
    // it from the pruned documents scan (measured faster than Persist at
    // sf0.1 — see README "Recompute vs persist"). This pin keeps the trade
    // a conscious number: if composition changes the scan count, the policy
    // decision must be revisited, not silently inherited. The pin targets
    // the pre-pack curatedDocs frame because packSequences' distributed
    // prefix sum executes eagerly and roots the final q51 plan in an
    // RDD scan, hiding the upstream tree.
    import org.apache.spark.sql.functions.col
    // Clear the session cache first: earlier suites populate Cache()d
    // frames whose plans can MATCH fragments of this lineage, and the
    // CacheManager then substitutes InMemoryRelations — changing the
    // scan count with suite order instead of with composition.
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), graft.text.TextOps.tokens(col("text")).as("ts"))
    val p = graft.text.Curation.curatedDocs(docs).queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    // 10 = the multi-consumer DAG expanded to a plan tree: exactKept is
    // gated⋈keep (2 scans), the LSH band self-join doubles the signature
    // branch (4), the two verify sides re-derive shingle sets (2+2), and
    // the final anti-join re-derives exactKept (2). nearDeduped's feature
    // persist does not change the count — the four InMemoryTableScans it
    // introduces stringify with their child scans — it changes what
    // EXECUTES (the cached branches hash once, not three times).
    assert(scans == 10,
      s"curation corpus scan count changed ($scans, expected 10) — revisit Curation.Reuse")
  }

  test("AQE splits the skewed partition of a fact-fact shuffle join") {
    // q4-style fact-fact joins rely on AQE for hot-key skew; this forces a
    // 90%-hot key through the SMJ path with test-sized thresholds and
    // asserts OptimizeSkewedJoin actually split the partition (skew=true),
    // so "AQE handles skew" is a checked property, not a claim.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      // ~90% of the left fact lands on key 0 — the classic hot-key shape
      val left = spark.range(0, 200000)
        .select(when(col("id") % 10 === 0, pmod(col("id"), lit(97L))).otherwise(lit(0L)).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() executes THIS QueryExecution — AQE finalizes the plan we
      // inspect (a count() would plan and execute a different query).
      assert(joined.collect().nonEmpty)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the hot partition:\n$p")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("conversionLags' hot-user join: AQE's split is SUPPRESSED here — salt=16 is the fix (measured)") {
    // THE production-shaped known-skew site in the engine: conversionLags
    // joins the RAW toType event stream (user-keyed — a bot or SDK retry
    // loop floods one user) against the per-user firstA aggregate. The
    // r9 measurement that motivated the operator's `salt` parameter:
    // although this is an SMJ inner join under skew-grade thresholds,
    // AQE's OptimizeSkewedJoin does NOT split it, because the same-key
    // aggregate directly downstream reuses the join's partitioning and
    // the splitter refuses to invalidate a downstream distribution
    // requirement. Both halves are asserted so a Spark version change
    // that alters either fact shows up here.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      // 200k events, ~90% on user 0; every user converts A -> B
      val events = spark.range(0, 200000).select(
        when(col("id") % 10 === 0, pmod(col("id"), lit(97L))).otherwise(lit(0L)).as("u"),
        when(col("id") < 100, lit("A")).otherwise(lit("B")).as("t"),
        timestamp_micros(col("id") * 1000000L + 1000000000L).as("ts"))
      val plain = graft.operators.Events.conversionLags(events, "u", "t", "ts", "A", "B")
      val plainRows = plain.collect()
      val p = plain.queryExecution.executedPlan.toString
      // Half 1: the suppression is real — skew thresholds are met but no
      // partition split appears in the final adaptive plan.
      assert(!p.contains("skew=true"),
        "AQE now splits this join — the salt parameter's rationale " +
          s"(and this pin) needs revisiting:\n$p")
      // Half 2: the salted path spreads the hot user by construction and
      // is row-for-row identical.
      val salted = graft.operators.Events.conversionLags(
        events, "u", "t", "ts", "A", "B", salt = 16)
      val sp = salted.queryExecution.executedPlan.toString
      assert(sp.contains("__salt"), s"salted path did not salt:\n$sp")
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(salted.collect().map(key).toSet == plainRows.map(key).toSet)
      val hot = plainRows.find(_.getLong(0) == 0L).get
      assert(hot.getLong(2) > 0, s"hot user lag: $hot")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ------------------------------------------------- global scale audit
  // Two plan shapes are never acceptable at 100 TB, in ANY query:
  //   - WindowExec with an empty partitionSpec: moves every row to ONE
  //     partition (Spark warns "No Partition Defined for Window").
  //   - CartesianProduct: all-pairs blow-up.
  // Walked over every SparkEntry query so a future operator can't sneak
  // one in. (q30's BroadcastNestedLoopJoin is a deliberate broadcast
  // strategy, not a cartesian — it stays allowed.)
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val inner = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case _ => p.children.flatMap(allNodes)
    }
    p +: inner
  }

  test("q102 domain cap: the bounded-aggregator form — no Window anywhere") {
    // The claim is stronger than the global audit's no-UNPARTITIONED-window
    // rule: capPerGroup must not plan ANY window (a per-domain row_number
    // would sort the hot domain in one task — the domain being capped IS
    // the hot one), only the TopK partial aggregation + the (group, hash)
    // join-back.
    val p = plan("q102_domain_cap")
    assert(!p.contains("Window"), s"capPerGroup must not window:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"the bounded TopK aggregator must appear:\n$p")
  }

  test("q104/q113: the mixing and soft-gate tiers plan ZERO exchanges") {
    // mixWithRepeats is explode+filter+union and sampleByQuality a pure
    // filter — any Exchange in either plan means a shuffle crept into a
    // tier whose scale story is 'no shuffle at any scale'.
    for (q <- Seq("q104_mix_epochs", "q113_quality_sample")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
    }
  }

  test("q103 length gate: the corpus never shuffles — only histogram-sized exchanges") {
    // The histogram agg exchanges (bounded: distinct lengths), the cuts
    // reduce to one row, and the gate side is scan+broadcast+filter. Any
    // exchange carrying the doc id would mean the corpus itself shuffled.
    val p = plan("q103_length_gate")
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(doc_id")),
      s"the corpus side of the length gate must not shuffle by doc:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the one-row cuts frame must broadcast:\n$p")
  }

  test("flagship curation chains: PINNED shuffle-exchange budgets (q59/q67/q73/q79 pre-pack)") {
    // The global audit catches node-CLASS killers (cartesian, global sort,
    // unbounded BNLJ) but not shuffle-count creep: a composition change
    // that adds one more Exchange to a flagship chain is invisible to it
    // while costing a full corpus repartition at 100 TB. Same rationale as
    // the q51 corpus-scan pin — the budget is pinned so a change fails
    // loudly and the new count is a conscious decision. Counts are taken
    // on the UNCACHED pre-pack frames (packSequences' eager prefix sum
    // roots the final plans in RDD scans, hiding the tree; Cache()
    // boundaries would likewise hide any shuffle behind an
    // InMemoryTableScan leaf) — so the pin reflects pure composition.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.{col, size}
    import graft.text.{Curation, TextOps}
    spark.catalog.clearCache()
    def shuffles(df: DataFrame): Int =
      allNodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
    val raw = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val ref = raw.filter(col("doc_id") % 41 === 0)
    val q59pre = Curation.decontaminate(
      Curation.curatedDocs(Curation.scrub(raw)), Curation.scrub(ref))
    val q67pre = Curation.decontaminate(
      Curation.dedupe(Curation.repetitionGate(Curation.gate(
        Curation.scrubLines(raw)))), Curation.scrub(ref))
    val q73pre = {
      val clean = Curation.decontaminate(
        Curation.dedupe(Curation.repetitionGate(Curation.gate(
          Curation.scrubLines(raw)))), Curation.scrub(ref))
      TextOps.dedupSpans(clean, "doc_id", "ts", 20)
        .select(col("doc_id"), (col("n_tokens") - col("n_removed")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
    }
    val q79pre = Curation.ccnetBucketed(raw, raw.filter(col("doc_id") % 7 < 2),
        maxLineOccurrences = 1, minTokens = 30, nBuckets = 3)
      .filter(col("bucket") >= 1 && col("bucket") < 3)
    // The pins are counts of the UNCACHED composition tree (see above) —
    // q73's count includes the full q67 interior re-expanded without its
    // Cache() boundaries, which is why it exceeds q67's own count; the real
    // query pays the cached count. What matters is that these numbers
    // only move when the COMPOSITION moves. q73 re-pinned 36 → 24 in
    // r15: dedupSpans' one-pass window form drops the duplicated-gram
    // dictionary agg exchange AND the second occurrence-stream subtree
    // (whose uncached lineage re-expanded the whole upstream chain) —
    // measured 1.6x faster at sf0.1, see OPTIMIZATION_r15.md.
    // Re-pinned 21/11/24/10 → 22/12/26/19 when the broadcast row bounds
    // moved into the plan (Guards.atMost): each bounded side carries a
    // count gate, a single-partition exchange plus whatever of its input
    // the gate re-expands, where an eager probe used to re-run that input
    // as a separate job at construction. q79's LM gates sit inside the
    // score subtree that Perplexity.buckets reads twice. Executed, with
    // AQE's exchange reuse, q59 and q67 start one more shuffle stage than
    // before and q79 two.
    val budgets = Seq(
      ("q59 pre-pack", q59pre, 22),
      ("q67 pre-pack", q67pre, 12),
      ("q73 pre-pack", q73pre, 26),
      ("q79 pre-pack", q79pre, 19))
    val diffs = budgets.flatMap { case (name, df, pinned) =>
      val got = shuffles(df)
      if (got != pinned) Some(s"$name: $got shuffle exchanges (pinned $pinned)")
      else None
    }
    assert(diffs.isEmpty,
      "shuffle-exchange budget changed — a composition edit added/removed " +
        s"a corpus repartition; re-justify and re-pin:\n${diffs.mkString("\n")}")
  }

  test("iterative graph operators: PINNED per-iteration shuffle budgets (pageRank, k-core peel)") {
    // The flagship-chain pins above freeze one-shot compositions; the
    // iterative operators have a sharper failure mode — an accidental
    // SECOND consumer of the rank frame (or a lost partitioning on the
    // cached edge frame) multiplies per-ITERATION shuffles, and the cost
    // scales with iters × corpus. Pin (a) pageRank's marginal cost of one
    // extra iteration, (b) its total at iters=2, and (c) one k-core peel
    // round's composition (built exactly as kCore's loop builds it — the
    // loop itself is eager, so the round is reconstructed lazily here).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.{array, col, count, explode, least, greatest, lit}
    spark.catalog.clearCache()
    def shuffles(df: DataFrame): Int =
      allNodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
    val edges = spark.range(200).selectExpr(
      "id % 50 AS src", "(id * 7 + 13) % 50 AS dst")
    val s1 = shuffles(graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 1))
    val s2 = shuffles(graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 2))
    info(s"pageRank shuffle exchanges: iters=1 -> $s1, iters=2 -> $s2")
    // one k-core peel round, lazily (kCore's own loop localCheckpoints
    // eagerly, which roots each round in an RDD scan and hides the tree)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val weak = deg.filter(col("d") < 2).select("node")
    val next = und
      .join(weak.select(col("node").as("a")), Seq("a"), "left_anti")
      .join(weak.select(col("node").as("b")), Seq("b"), "left_anti")
    val sk = shuffles(next)
    info(s"k-core one peel round: $sk shuffle exchanges")
    // Budgets measured at this fixture (ewd broadcasts at test scale — at
    // corpus scale the same join goes sort-merge with the RANK table as
    // the only shuffled side, which is the documented contract). Per
    // pageRank iteration (r14 union-zero form — the base term rides a
    // zero-contribution row per node through the contribution agg, so
    // the old per-iteration nodes⟕contribs SortMergeJoin and its rank-
    // frame exchange are GONE): the node-keyed contribution agg and the
    // one-row N re-agg (SinglePartition — bytes, not corpus). k-core's
    // lazily-rebuilt round: distinct edge canon + degree agg + und-by-a
    // + weak-by-b + und-by-b (the eager loop's localCheckpoint hides
    // the distinct, paying it once, not per round).
    val diffs = Seq(
      ("pageRank marginal per-iteration", s2 - s1, 2),
      ("pageRank iters=2 total", s2, 5),
      ("k-core one peel round", sk, 5)
    ).collect { case (name, got, pinned) if got != pinned =>
      s"$name: $got shuffle exchanges (pinned $pinned)"
    }
    assert(diffs.isEmpty,
      "iterative-operator shuffle budget changed — an edit added/removed a " +
        s"per-iteration corpus shuffle; re-justify and re-pin:\n${diffs.mkString("\n")}")
  }

  test("epoch order: orderBy(__pos) over a zipped position plans no exchange and no sort") {
    // Indexed declares the zipWithIndex order, so orderBy(__pos) over a
    // compiled epoch is free wherever __pos is a zipped index (Shuffled,
    // ShuffledExample) or an alias of one (Sequential, Constant).
    // sortedIndices re-ranks __pos in a window and Concatenated unions
    // shifted segments: neither carries the order, and the planner must
    // still sort them.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    import graft.schemes._
    val supplier = graft.sources.Tables.load(spark, sf, "supplier")
    def nodes(scheme: IterationScheme) = allNodes(
      graft.stream.DataStream(supplier, scheme, Seq(col("s_suppkey")))
        .compiledForEpoch(1).orderBy(col(Schemes.Pos)).queryExecution.executedPlan)
    for (scheme <- Seq(ShuffledScheme(3, seed = 1), ShuffledExampleScheme(seed = 1),
        SequentialScheme(3), ConstantScheme(4, numExamples = Some(7)))) {
      val ns = nodes(scheme)
      assert(ns.count(_.isInstanceOf[ShuffleExchangeLike]) == 0 &&
        ns.count(_.isInstanceOf[SortExec]) == 0,
        s"$scheme: the declared __pos order was not used:\n${ns.head}")
    }
    for (scheme <- Seq(ShuffledScheme(3, seed = 1, sortedIndices = true),
        ConcatenatedScheme(Seq(SequentialScheme(4), ShuffledScheme(4, seed = 5)))))
      assert(nodes(scheme).exists { case s: SortExec => s.global; case _ => false },
        s"$scheme carries no __pos order, so it must plan a global sort")
  }

  test("global audit: no unpartitioned Window, no CartesianProduct, in any query") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    // packSequences' eager prefix sum roots q43/q51's FINAL plan in an RDD
    // scan, hiding the upstream tree from this walk — so the curation
    // chain's pre-pack frame is audited explicitly alongside the queries.
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), graft.text.TextOps.tokens(col("text")).as("ts"))
    val targets = SparkEntry.queries.toSeq.map { case (n, fn) =>
      n -> (() => fn(spark, sf)) } :+
      ("q51_curation(pre-pack)" -> (() => graft.text.Curation.curatedDocs(docs))) :+
      ("q59_full_curation(pre-pack)" -> { () =>
        val raw = graft.sources.Tables.load(spark, sf, "documents")
          .select(col("doc_id"), col("text"))
        graft.text.Curation.decontaminate(
          graft.text.Curation.curatedDocs(graft.text.Curation.scrub(raw)),
          graft.text.Curation.scrub(raw.filter(col("doc_id") % 41 === 0)))
      }) :+
      ("q67_published_curation(pre-pack)" -> { () =>
        val raw = graft.sources.Tables.load(spark, sf, "documents")
          .select(col("doc_id"), col("text"))
        graft.text.Curation.decontaminate(
          graft.text.Curation.dedupe(graft.text.Curation.repetitionGate(
            graft.text.Curation.gate(graft.text.Curation.scrubLines(raw)))),
          graft.text.Curation.scrub(raw.filter(col("doc_id") % 41 === 0)))
      })
    // Violations accumulate across ALL targets (never fail-fast): one
    // run reports every offender, so a new scale-killer class flushes
    // out in a single audit pass instead of one query per run.
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    targets.foreach { case (name, mk) =>
      val plan = mk().queryExecution.executedPlan
      val nodes = allNodes(plan)
      // Nondeterministic expressions are BANNED from query plans: the
      // engine's reproducibility contract derives all randomness from
      // Stable's md5 construction (deterministic under retry,
      // speculation and repartitioning), and a rand()/uuid()/
      // monotonically_increasing_id() that slips in silently breaks
      // exactly-once semantics on the first executor retry. (The one
      // sanctioned MID use — TextFileSource.lines' per-file line
      // numbering, ordered within a single unsplittable-scan task — is
      // not part of any SparkEntry plan.)
      val planStr = plan.toString
      Seq("rand(", "randn(", "uuid()", "monotonically_increasing_id()")
        .filter(planStr.contains)
        .foreach(tok => violations +=
          s"$name plans the nondeterministic expression $tok — " +
            "derive randomness from graft.functions.Stable instead")
      nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
      }.foreach(_ => violations +=
        s"$name moves all rows to one partition via an unpartitioned Window")
      nodes.collect { case c: CartesianProductExec => c.nodeName }
        .foreach(_ => violations += s"$name contains a CartesianProduct")
      // A GLOBAL SortExec is a full range-repartition of its input — the
      // engine's contract is that total orders exist only inside the
      // range-partitioned prefix-sum scan (sortWithinPartitions,
      // global=false) or a TakeOrderedAndProject top-k, so any
      // global=true sort in a query plan is an unbudgeted corpus-wide
      // shuffle that a 100x scale-up pays for twice.
      nodes.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s.nodeName
      }.foreach(_ => violations +=
        s"$name contains a GLOBAL sort (full range shuffle)")
      // BroadcastNestedLoopJoin is O(|stream| x |broadcast|) compare
      // work: legal ONLY when the broadcast side is bounded by
      // construction — a grouping-less aggregate (one-row scalar frame)
      // or a frame behind an in-plan raise_error row bound
      // (graft.functions.Guards.atMost). Anything else is a latent quadratic.
      import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      nodes.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        val buildChild = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        val buildNodes = allNodes(buildChild)
        val scalarFrame = buildNodes.exists {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _ => false
        }
        val probed = buildChild.toString.contains("raise_error")
        // Driver-literal frames (every leaf a LocalTableScan — the data
        // already lives in the driver as a Seq) are bounded by
        // construction: nothing corpus-sized can arrive that way.
        val leaves = buildNodes.filter(_.children.isEmpty)
        val driverLiteral = leaves.nonEmpty && leaves.forall(
          _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
        if (!(scalarFrame || probed || driverLiteral)) violations +=
          s"$name broadcasts an UNBOUNDED side into a nested-loop join " +
            "(not a one-row aggregate, a raise_error-bounded frame, or a " +
            s"driver-literal relation):\n$buildChild"
      }
    }
    assert(violations.isEmpty,
      s"${violations.size} scale-killer plan violation(s):\n" +
        violations.mkString("\n---\n"))
  }
}
