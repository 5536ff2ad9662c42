package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Guards, TopK}
import graft.sources.{Store, StoreKind}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, as a 100 TB pipeline needs:
  *   - [[bruteForceTopK]]: the exact baseline — broadcast the (small) query
  *     set against the corpus; the corpus side streams in parallel, per-query
  *     results reduce through the bounded [[TopK]] aggregator. The plan is a
  *     BroadcastNestedLoopJoin + partial aggregation — NO CartesianProduct,
  *     no per-query global sort.
  *   - [[lshTopK]]: the scale path — sign-random-projection buckets
  *     (deterministic hyperplanes derived from a seed), candidates only
  *     within matching buckets across `tables` hash tables, exact rerank of
  *     the candidate set. Recall is tunable via (planes, tables).
  *
  * Every top-k entry point — these two, the JL, IVF and PQ tiers and the
  * index probes — is a constructor of one private body, [[search]], over
  * a [[Family]] that holds only what differs between them; every sign-LSH
  * banding goes through one bucketing, [[signBucketed]].
  *
  * Dot products run in sequential left-to-right double accumulation —
  * associativity is fixed, so the same inputs give the same bits on any
  * engine. The kernel is the native codegen [[graft.functions.DotExpr]]
  * (Spark's array HOFs are CodegenFallback — interpreted per element);
  * VecSpec asserts it bit-matches the `aggregate(zip_with(...))` form.
  */
object Ann {

  /** Sequential double dot product of two float-array columns (codegen). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecExpressions.dot(a, b)

  /** L2 norm (sequential accumulation, then sqrt). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The message of the ANN operators' query-side broadcast bound,
    * which they enforce with [[graft.functions.Guards.atMost]]. */
  private def queryBoundMsg(op: String, maxQueryRows: Int, fix: String): String =
    s"$op: query set exceeds $maxQueryRows rows — a corpus-sized query side " +
      s"cannot broadcast. $fix, or raise maxQueryRows if the driver " +
      "genuinely fits the larger broadcast"

  /** The fix named by the sign-LSH operators' bucket occupancy guard
    * ([[graft.functions.Guards.occupancy]]). */
  private val AddPlanes =
    "Add planes (halves expected occupancy per plane) or raise maxBucket"

  /** Exact top-k neighbors for each query vector.
    *
    * The query side broadcasts BY CONTRACT (the standard ANN-serving
    * shape) — enforced in the plan by [[graft.functions.Guards.atMost]],
    * not advisory: an oversized query set fails at the first action.
    *
    * @param corpus  (idCol, vecCol) corpus rows
    * @param queries (idCol, vecCol) query rows — must be broadcastable
    * @return (query_id, rank, neighbor_id) with rank 1..k by cosine DESC,
    *         neighbor id ASC on ties; self-matches excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxQueryRows: Int = 1000000): DataFrame =
    search("bruteForceTopK", queries, idCol, vecCol, k, Some(maxQueryRows ->
        s"$Unbounded (or nearDupPairs for corpus-vs-itself search)")) { q =>
      Family(q.select(col(idCol).as("query_id"), col(vecCol).as("__qvec")),
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec")),
        Nil, VecCosine, hint = true)
    }

  /** The fix named by the query bound of the operators that always
    * broadcast their queries. */
  private val Unbounded =
    "use lshTopK(broadcastQueries = false) for an unbounded query set"

  /** Cosine of the full query and corpus vectors, `__qvec` and `__cvec`. */
  private val VecCosine = cosine(col("__qvec"), col("__cvec"))

  /** What differs between the top-k entry points, given the bounded
    * queries: `query` is (query_id, payload), `corpus` is (neighbor_id,
    * payload). With no `keys` every pair with neighbor_id ≠ query_id
    * joins (a nested loop); otherwise the sides equi-join on `keys` and
    * the same filter drops self pairs. `sim` scores a pair, `hint`
    * broadcasts the query side, and `rerank` makes the ranking a
    * k·oversample shortlist that [[exactRerank]] reranks against that
    * corpus. */
  private case class Family(query: DataFrame, corpus: DataFrame,
      keys: Seq[String], sim: Column, hint: Boolean,
      rerank: Option[DataFrame] = None)

  /** The one ANN search body (REPOSE's prune-and-verify shape with the
    * index plugged in): check the arguments, bound the queries (`bound` =
    * maxQueryRows and the fix its message names), build the family over
    * the bounded queries, join and score candidates, and rank them with
    * [[topKPerQuery]], or shortlist and [[exactRerank]]. The family is
    * built after the checks, so a bad k or oversample fails before any
    * quantizer trains (nProbe is checked against the trained centroids,
    * in [[probed]]). */
  private def search(op: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bound: Option[(Int, String)], oversample: Int = 1)(
      family: DataFrame => Family): DataFrame = {
    require(k >= 1, s"$op: k must be >= 1, got $k")
    require(oversample >= 1, s"$op: oversample must be >= 1, got $oversample")
    val f = family(bound.fold(queries) { case (max, fix) =>
      Guards.atMost(queries, max, queryBoundMsg(op, max, fix))
    })
    val q = if (f.hint) broadcast(f.query) else f.query
    val pairs =
      if (f.keys.isEmpty) f.corpus.join(q, col("neighbor_id") =!= col("query_id"))
      else f.corpus.join(q, f.keys).filter(col("neighbor_id") =!= col("query_id"))
    val scored = pairs.select(col("query_id"), col("neighbor_id"), f.sim.as("sim"))
    f.rerank match {
      case Some(c) => exactRerank(c, queries, idCol, vecCol,
        topKPerQuery(scored, k * oversample), k)
      case None => topKPerQuery(scored, k)
    }
  }

  /** Full-dimension exact rerank of a bounded (query_id, neighbor_id)
    * shortlist, the second tier of [[search]]: the shortlist broadcasts
    * back for one column-pruned corpus pass; the corpus never shuffles.
    * Raw query frame by design: the in-plan bound rides the
    * always-executed candidate tier, so a second bounded reference would
    * only repeat the bound's counting scan. */
  private def exactRerank(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cand: DataFrame, k: Int): DataFrame = {
    val rerank = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec"))
      .join(broadcast(cand.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(queries
          .select(col(idCol).as("query_id"), col(vecCol).as("__qvec"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), VecCosine.as("sim"))
    topKPerQuery(rerank, k)
  }

  /** Rerank (query_id, neighbor_id, sim) rows to per-query top-k via the
    * bounded-heap aggregator (partial agg; no per-query window sort).
    * NULL similarities (e.g. cosine against a zero-norm vector) are
    * dropped — they would crash the primitive-typed aggregator encoder. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .filter(col("sim").isNotNull)
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("query_id"), (col("r") + 1).cast("bigint").as("rank"),
        col("e._2").as("neighbor_id"))

  // ---------------------------------------------------------- quantization

  /** Per-vector affine int8 quantization: scale = maxAbs/127 and
    * q_i = floor(v_i/scale + 0.5) — round-half-up in exact double math,
    * identical on any engine (unlike banker's rounding, whose half-even
    * choice differs across round() implementations). All-zero vectors get
    * scale 0 and an all-zero q. Output: (idCol, qscale, qvec array<byte>).
    *
    * Why it exists: at 100 TB the embedding table's float bytes dominate
    * every ANN shuffle and broadcast; int8 cuts vector bytes 4× at a
    * recall cost the verify/rerank stages absorb. COSINE needs no
    * dequantization — the per-vector scales cancel in the ratio — so
    * [[quantizedTopK]] runs on the byte arrays directly; `qscale` is
    * retained for consumers that need magnitudes (dot-product rerank,
    * reconstruction).
    *
    * The transform/aggregate HOFs here are interpreted (CodegenFallback)
    * — the documented one-time-materialization trade ([[graft.dedup.Dedup.minhashSignature]]'s
    * note): quantization runs once when the table is written; the
    * per-query hot path stays codegen via [[dot]] on the cast arrays. */
  def quantize(df: DataFrame, idCol: String, vecCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val reserved = Set(idCol, "qscale", "qvec", "__v")
    val clash = keep.filter(reserved)
    require(clash.isEmpty,
      s"quantize: keep column(s) ${clash.mkString(", ")} collide with the " +
        s"output schema (idCol '$idCol' plus generated qscale/qvec/__v) — " +
        "rename them upstream")
    val v = col(vecCol).cast("array<double>")
    val kc = keep.map(col)
    df.select(col(idCol) +: v.as("__v") +:
        (aggregate(v, lit(0d), (acc, x) => greatest(acc, abs(x))) / 127.0).as("qscale") +:
        kc: _*)
      .select(col(idCol) +: col("qscale") +:
        when(col("qscale") === 0d,
            transform(col("__v"), _ => lit(0).cast("byte")))
          .otherwise(
            transform(col("__v"), x => floor(x / col("qscale") + 0.5).cast("byte")))
          .as("qvec") +: kc: _*)
  }

  /** Exact top-k over int8-quantized vectors ([[quantize]]'s output):
    * [[bruteForceTopK]] on the byte arrays cast to double — integer
    * dot products are exact in double arithmetic, so the oracle
    * reproduces every similarity bit-for-bit (q62). Same contract:
    * (query_id, rank, neighbor_id), broadcastable query side. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qvecCol: String, k: Int): DataFrame = {
    def cast(df: DataFrame): DataFrame =
      df.select(col(idCol), col(qvecCol).cast("array<double>").as("__qv"))
    bruteForceTopK(cast(corpus), cast(queries), idCol, "__qv", k)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019's ratio margin,
    * the CCMatrix/LASER parallel-corpus criterion): for each source-side
    * vector, its best target-side neighbor is ACCEPTED iff the
    * similarity stands out against both vectors' neighborhoods —
    *
    *   margin(x,y) = cos(x,y) / ((Σ_{z∈NNk(x)} cos(x,z)
    *                            + Σ_{z∈NNk(y)} cos(y,z)) / 2k) > τ
    *
    * — which kills the hubness failure (a "central" vector that is
    * everyone's nearest neighbor scores a LOW margin because its own
    * neighborhood sum is high). Determinism: each pairwise cosine is an
    * exactly-reproducible double ([[cosine]]'s sequential array-order
    * accumulation, the q91 contract), but a FLOAT SUM of k of them
    * would be agg-order-dependent — so each cosine is floored to
    * integer MICRO-units first and the neighborhood sums are LONG sums;
    * the margin test is the cross-multiplied integer compare
    * `cos_micro·2k·tauDen > (Σx + Σy)·tauNum`. Zero-norm vectors
    * (cosine null) are dropped — [[embeddingHealth]] is the audit that
    * counts them. Ties rank (cos DESC, id ASC) on both engines.
    *
    * Scale shape: this is the EXACT tier — the pair generator is the
    * [[bruteForceTopK]] broadcast shape (source side broadcasts by
    * contract, enforced by the in-plan row bound), and the pair frame is
    * deliberately NOT persisted: it is a projection off a broadcast
    * join, and at |A|·|B| rows recomputing its three consumers (x-sums,
    * y-sums, forward-best) is strictly cheaper than materializing the
    * quadratic frame. At corpus×corpus scale, swap the generator for
    * [[lshTopK]]/[[ivfTopK]] candidates and feed the same margin
    * filter. The per-side neighborhood sums use the bounded [[TopK]]
    * aggregator (map-side ≤ k rows per key), the final accept is two
    * uniform-id-keyed joins of already-collapsed one-row-per-id frames.
    * Output: (src_id, dst_id, cos_micro, knn_sum_src, knn_sum_dst) for
    * accepted pairs. */
  def marginMine(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, tauNum: Long = 105, tauDen: Long = 100,
      maxQueryRows: Int = 1000000): DataFrame = {
    require(k >= 1, s"marginMine: k must be >= 1, got $k")
    val guardedA = Guards.atMost(a, maxQueryRows,
      queryBoundMsg("marginMine", maxQueryRows,
        "generate candidates with lshTopK(broadcastQueries = false) and " +
          "apply the margin filter to that bounded pair frame"))
    val av = broadcast(guardedA.select(col(idCol).as("src_id"),
      col(vecCol).cast("array<double>").as("__av")))
    val pairs = b
      .select(col(idCol).as("dst_id"), col(vecCol).cast("array<double>").as("__bv"))
      .crossJoin(av)
      .select(col("src_id"), col("dst_id"), MicroCosine)
      .filter(col("__cq").isNotNull)
    marginAccept(pairs, k, tauNum, tauDen)
  }

  /** A pair's cosine floored to integer micro-units, `__cq` — the margin
    * miners' exact summand. */
  private val MicroCosine =
    floor(cosine(col("__av"), col("__bv")) * 1000000).cast("bigint").as("__cq")

  /** The margin criterion over a (src_id, dst_id, __cq) pair frame, shared
    * by [[marginMine]] and [[marginMineLsh]]: per-side top-k micro-cosine
    * sums, the forward-best pair per src, and the cross-multiplied accept
    * `cos_micro·2k·tauDen > (Σx + Σy)·tauNum`. */
  private def marginAccept(pairs: DataFrame, k: Int, tauNum: Long,
      tauDen: Long): DataFrame = {
    def topSum(key: String, other: String): DataFrame =
      pairs.groupBy(col(key))
        .agg(TopK.topK(k)(col("__cq").cast("double"), col(other)).as("__top"))
        .select(col(key),
          aggregate(col("__top"), lit(0L),
            (acc, e) => acc + e.getField("_1").cast("bigint")).as("__s"))
    val sx = topSum("src_id", "dst_id").withColumnRenamed("__s", "__sx")
    val sy = topSum("dst_id", "src_id").withColumnRenamed("__s", "__sy")
    val best = pairs.groupBy("src_id")
      .agg(TopK.topK(1)(col("__cq").cast("double"), col("dst_id")).as("__t"))
      .select(col("src_id"), col("__t")(0).getField("_2").as("dst_id"),
        col("__t")(0).getField("_1").cast("bigint").as("cos_micro"))
    best.join(sx, Seq("src_id")).join(sy, Seq("dst_id"))
      .filter(col("cos_micro") * lit(2L * k) * lit(tauDen) >
        (col("__sx") + col("__sy")) * lit(tauNum))
      .select(col("src_id"), col("dst_id"), col("cos_micro"),
        col("__sx").as("knn_sum_src"), col("__sy").as("knn_sum_dst"))
  }

  /** Banded margin mining — the corpus×corpus SCALE path that
    * [[marginMine]]'s guard names (and that the round-11 sf1 probe made
    * concrete: the exact tier measured 71.7× wall for 10× data because
    * BOTH sides scale, ~100× cosine work by design). Candidates come
    * from a sign-LSH band-bucket join between the two sides (shared
    * seed-derived hyperplanes, key-partitioned on (table, bucket) —
    * neither side broadcasts, neither side crosses), and the IDENTICAL
    * cross-multiplied integer margin criterion is then evaluated on the
    * CANDIDATE neighborhood: per-src / per-dst top-k cosine sums among
    * candidates, forward-best per src, accept iff
    * `cos_micro·2k·tauDen > (Σx + Σy)·tauNum`.
    *
    * Semantics vs the exact tier, stated honestly: a pair exists iff
    * the two vectors share ANY band bucket — the standard LSH recall
    * trade, tuned by (tables, planes) — and the margin denominator sums
    * the k best CANDIDATES, not the k globally-nearest. Both
    * differences push the same direction as the criterion itself (the
    * buckets surface exactly the high-cosine neighborhood the
    * denominator needs; a missed far neighbor only lowers the sum, and
    * hub vectors fill their buckets and still self-penalize), which is
    * why candidate-restricted margins are the CCMatrix practice at
    * corpus scale. Determinism: hyperplanes are seed-derived constants,
    * cosines are micro-floored before any sum — an external engine
    * rebuilds buckets, candidates, and the margin chain exactly.
    *
    * Scale shape: bucket explode (`tables` rows per vector), one
    * occupancy-GUARDED (table, bucket) key join (pairs grow
    * quadratically in occupancy — the guard raises rather than letting
    * one crowded bucket go quadratic), exact cosines on the bounded
    * candidate frame only, bounded [[TopK]] sums, and two id-keyed
    * joins of collapsed frames. The candidate frame IS materialized
    * once (lazy localCheckpoint — GC-reclaimable, unlike a persist,
    * which this lazy function could never pair with an unpersist) for
    * its three consumers (x-sums, y-sums,
    * forward-best) — the opposite call from [[marginMine]], whose pair
    * frame is a cheap projection off a broadcast join: here the frame
    * is shuffle-produced, so recomputing runs the band-bucket join
    * shuffle three times. Measured at the r12 sf1 A/B (isolated
    * min-of-2 runs, local[32]): persist 3.31 s vs recompute 3.41 s —
    * parity at this scale (no ReusedExchange appears in the plan; the
    * candidate stage is just small) — and at 100 TB the 3× shuffle
    * recompute of a corpus-linear frame is the side that grows.
    * Output schema = [[marginMine]]'s. */
  def marginMineLsh(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, tauNum: Long = 105, tauDen: Long = 100,
      seed: Long = 42, tables: Int = 4, planes: Int = 12, dim: Int = 64,
      maxBucket: Int = 100000): DataFrame = {
    require(k >= 1, s"marginMineLsh: k must be >= 1, got $k")
    require(tables >= 1, s"marginMineLsh: tables must be >= 1, got $tables")
    // planes = 0 auto-derives from the LARGER side: per-bucket work is
    // occ_a·occ_b, so the side that overfills buckets first governs.
    val np = resolvePlanes("marginMineLsh", planes,
      math.max(a.count(), b.count()))
    val hp = hyperplanes(seed, tables, np, dim)
    def bucketed(df: DataFrame, idAs: String, vAs: String): DataFrame =
      signBucketed(df.select(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(vAs)),
        hp, col(vAs), col(idAs), col(vAs))
    // Occupancy guard on ONE side suffices (every candidate pair has one
    // row in the guarded stream), on the join's own (table, bucket)
    // partitioning; it rewrites the id, so that partitioning survives.
    val ab = Guards.occupancy(bucketed(a, "src_id", "__av"), Seq("table", "bucket"),
      "src_id", "maxBucket", maxBucket, "marginMineLsh: bucket", AddPlanes)
    val bb = bucketed(b, "dst_id", "__bv")
    val pairs = ab.join(bb, Seq("table", "bucket"))
      .select(col("src_id"), col("dst_id"), MicroCosine)
      .filter(col("__cq").isNotNull)
      .distinct() // a pair sharing buckets in several tables counts once
      // Lazy localCheckpoint, not persist: a persist here has no in-scope
      // action to pair an unpersist with (the function returns a lazy
      // frame), so it would leak a session-lifetime CacheManager entry in
      // library callers (ADVICE r12). localCheckpoint gives the same
      // materialize-once sharing across the three consumers, but the
      // blocks belong to the RDD itself — ContextCleaner reclaims them
      // when the caller drops the returned frame. Trade (as in Graphs /
      // Streaming): lineage is truncated, so a lost executor fails the
      // job instead of recomputing — acceptable for a mining pass.
      .localCheckpoint(false)
    marginAccept(pairs, k, tauNum, tauDen)
  }

  /** Plane count for a target expected bucket occupancy — the tuning
    * rule the round-11 sf1 probe made quantitative: banded candidate
    * joins ([[lshTopK]], [[marginMineLsh]], [[knnPropagateLsh]],
    * simhash/minhash banding) do work ∝ Σ occupancy² per bucket, and
    * with the bucket count FIXED, occupancy grows linearly in the
    * corpus — candidates quadratically (q52 measured 24.5× wall for
    * 10× data at fixed 16-bit bands). Each added plane halves expected
    * occupancy for sign-LSH's ~uniform buckets, so holding occupancy
    * at a target across corpus growth means planes ≈ log2(n / target):
    * one extra plane per corpus doubling. Clamped to [1, 30] (the
    * bucket id is built in a long; 2³⁰ buckets ≫ any executor count).
    * This is the knob to re-derive at every scale decade — the
    * occupancy GUARDS catch the hot-bucket failure loudly, this helper
    * keeps the typical bucket from drifting quadratic silently. */
  def planesForOccupancy(nRows: Long, targetOccupancy: Long = 16): Int = {
    require(nRows >= 1, s"planesForOccupancy: nRows must be >= 1, got $nRows")
    require(targetOccupancy >= 1,
      s"planesForOccupancy: targetOccupancy must be >= 1, got $targetOccupancy")
    // ceil(log2(ceil(n / target))) in pure INTEGER arithmetic: float log
    // is not correctly rounded, so at exact powers of two the double
    // chain can land a hair above the integer and ceil one plane too
    // high — and the q220 oracle re-derives this number in SQL, where
    // both engines must agree bit-for-bit.
    val m = (nRows - 1) / targetOccupancy + 1 // ceil(n / target), no overflow
    val p = if (m <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(30, math.max(1, p))
  }

  /** Resolve a banded operator's `planes` argument: positive = the
    * caller's hand-picked constant (bit-compatible with every r11 call
    * site); 0 = AUTO — derive from the corpus cardinality via
    * [[planesForOccupancy]], so the one-plane-per-corpus-doubling rule
    * is enforced behavior at the call site instead of README knowledge
    * a human re-reads each scale decade. The cardinality probe is an
    * EAGER bounded action at plan-construction time (one column-pruned
    * count job — the same opt-in eagerness contract as
    * [[graft.operators.Stats.poissonBootstrap]]'s probe); callers who
    * need a fully lazy plan pass `planes` explicitly. */
  private def resolvePlanes(op: String, planes: Int, corpusRows: => Long): Int = {
    require(planes >= 0 && planes <= 30,
      s"$op: need planes in [1, 30], or 0 to auto-derive from the corpus " +
        s"cardinality (planesForOccupancy), got $planes")
    if (planes > 0) planes else planesForOccupancy(math.max(1L, corpusRows))
  }

  /** Bucket-occupancy histogram for a candidate banding — the
    * MEASUREMENT behind [[planesForOccupancy]]'s rule: before running a
    * banded join over a new corpus (or a decade-bigger one), run this
    * card with the candidate (seed, tables, planes) and read the
    * distribution the quadratic term will actually see. Output: one row
    * per observed occupancy value — (occupancy, n_buckets, pair_share_ppm)
    * where pair_share_ppm is that occupancy class's share of the total
    * candidate-pair work Σ occ·(occ−1)/2 — the column that tells you
    * whether cost lives in the typical bucket (re-tune planes) or in a
    * few hot ones (dedup exact clones first / rely on the guards).
    * Scale shape: bucket explode (`tables` rows per vector), one
    * (table, bucket)-keyed count agg (map-side combined), then aggs
    * over the BOUNDED bucket table; the corpus never shuffles twice.
    * Deterministic: hyperplanes are seed-derived — the oracle rebuilds
    * the histogram exactly. */
  def bucketOccupancyCard(df: DataFrame, vecCol: String, seed: Long = 42,
      tables: Int = 4, planes: Int = 12, dim: Int = 64): DataFrame = {
    require(tables >= 1,
      s"bucketOccupancyCard: tables must be >= 1, got $tables")
    val np = resolvePlanes("bucketOccupancyCard", planes, df.count())
    val hp = hyperplanes(seed, tables, np, dim)
    // All-LONG arithmetic (occ·(occ−1) is even, div 2 exact); headroom:
    // pairs·n_buckets·10⁶ < 2⁶³ holds through ~9·10¹² pairs per
    // occupancy class — far past any guarded banding. Histogram math is
    // the shared generic card ([[graft.dedup.Dedup.keyOccupancyCard]]).
    graft.dedup.Dedup.keyOccupancyCard(
      signBucketed(df, hp, col(vecCol).cast("array<double>")), Seq("table", "bucket"))
  }

  /** Candidate-coverage card for the banded propagators — the RECALL
    * twin of [[bucketOccupancyCard]]'s cost card: [[knnPropagateLsh]]
    * (and [[marginMineLsh]]) honestly DROP rows that share no band
    * bucket with the other side, and this measures how many, per
    * cumulative table count. Output: one row per `tables_used` in
    * [1, tables] — (tables_used, n_covered, coverage_ppm, n_corpus)
    * where n_covered counts corpus rows sharing ≥ 1 bucket with a
    * labeled row (id-inequality filtered, exactly the propagator's
    * candidate definition) in ANY of the first `tables_used` tables.
    * The marginal gain column-to-column is what each added table buys —
    * the knob that turns the recall trade into a monitored number
    * (VERDICT r11 #5) instead of a scaladoc caveat.
    *
    * Scale shape: both sides explode to (id, table, bucket); the
    * (table, bucket) key join is the propagator's own candidate join
    * MINUS the vector rejoin, collapsed immediately by a map-side
    * min(table) agg per corpus id — ids-only end to end. The per-table
    * rollup is a bounded (≤ tables rows) frame joined to a
    * spark.range(tables) index, never an unpartitioned window. All
    * integers — oracle hash-exact. Run it with the EXACT (seed, tables,
    * planes) of the propagator call it audits; `planes = 0` auto-derives
    * like the propagators themselves. */
  def propagateCoverageCard(corpus: DataFrame, idCol: String, vecCol: String,
      labeled: DataFrame, labeledIdCol: String, labeledVecCol: String,
      seed: Long = 42, tables: Int = 4, planes: Int = 12,
      dim: Int = 64): DataFrame = {
    require(tables >= 1, s"propagateCoverageCard: tables must be >= 1, got $tables")
    val np = resolvePlanes("propagateCoverageCard", planes,
      math.max(corpus.count(), labeled.count()))
    val hp = hyperplanes(seed, tables, np, dim)
    val cb = signBucketed(corpus, hp, col(vecCol).cast("array<double>"),
      col(idCol).as("__cid"))
    val lb = signBucketed(labeled, hp, col(labeledVecCol).cast("array<double>"),
      col(labeledIdCol).as("__lid"))
    val firstHit = cb.join(lb, Seq("table", "bucket"))
      .filter(col("__cid") =!= col("__lid"))
      .groupBy("__cid").agg(min(col("table")).as("__first_t"))
    val perFirst = firstHit.groupBy("__first_t")
      .agg(count(lit(1)).as("__n_first"))
    val tot = corpus.agg(count(lit(1)).as("n_corpus"))
    // driver-literal index relation (NOT spark.range): the per-table
    // rollup below is a non-equi nested-loop join, and the plan audit
    // only admits provably bounded broadcast sides — a LocalRelation of
    // `tables` literal rows is one, a Range operator is not.
    val spark = corpus.sparkSession
    import spark.implicits._
    val idx = (1 to tables).map(_.toLong).toDF("tables_used")
    idx.join(perFirst, col("__first_t") < col("tables_used"), "left")
      .groupBy("tables_used")
      .agg(coalesce(sum(col("__n_first")), lit(0L)).as("n_covered"))
      .crossJoin(broadcast(tot))
      .select(col("tables_used"), col("n_covered"),
        when(col("n_corpus") <= 0L, lit(0L))
          .otherwise(expr("n_covered * 1000000 div n_corpus")).as("coverage_ppm"),
        col("n_corpus"))
  }

  /** Deterministic ±1 sign matrix for [[signProject]]: outDim × dim
    * entries from the sign bit of splitmix(seed, j, i) — pure Scala, so
    * an external engine inlines the same constants. */
  def signMatrix(seed: Long, outDim: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(outDim, dim) { (j, i) =>
      if (graft.functions.Stable.splitmix(
        seed + 0x9e3779b97f4a7c15L * (j.toLong * 4096 + i)) < 0) -1.0 else 1.0
    }

  /** Johnson–Lindenstrauss sign projection over INT8-QUANTIZED vectors
    * ([[quantize]]'s `qvec`): reduced_j = Σ_i s_{j,i}·q_i with a
    * deterministic ±1 matrix ([[signMatrix]], Achlioptas 2003's
    * database-friendly JL variant — ±1 entries preserve pairwise
    * distances with the same guarantee as Gaussian projections at a
    * fraction of the compute). Composing with [[quantize]] is what
    * makes the projection ORACLE-EXACT: every term is an integer
    * (|q_i| ≤ 127), so reduced_j is an exact integer in double
    * arithmetic (|reduced_j| ≤ dim·127 — at dim 4096 still ≪ 2^53) and
    * any engine reproduces it bit-for-bit — a float input would make
    * the sum order-dependent.
    *
    * Why it exists: after [[quantize]]'s 4× byte cut, dimensionality is
    * the remaining factor in every ANN shuffle/broadcast — projecting
    * 64→16 cuts candidate-scoring bytes and FLOPs another 4× at a
    * recall cost the exact rerank absorbs (the JL ε for k dims bounds
    * distance distortion at O(√(log n / k))). The projection itself is
    * ONE codegen'd [[graft.functions.VecExpressions.matDots]] per row —
    * a pure projection, O(1) plan size, no shuffle.
    *
    * Output: (idCol, rvec array<double>) — integer-valued doubles,
    * ready for [[bruteForceTopK]]/[[topKPerQuery]] in reduced space. */
  def signProject(df: DataFrame, idCol: String, qvecCol: String,
      outDim: Int, seed: Long = 77, dim: Int = 64): DataFrame = {
    require(outDim >= 1 && outDim <= dim,
      s"signProject: outDim $outDim outside [1, $dim]")
    df.select(col(idCol),
      graft.functions.VecExpressions.matDots(
        col(qvecCol).cast("array<double>"), signMatrix(seed, outDim, dim))
        .as("rvec"))
  }

  /** JL-reduced ANN: [[signProject]] as a CANDIDATE tier — reduced-
    * space cosine selects `k·oversample` candidates per query, the
    * exact FULL-dimension rerank picks the final k. Reduced space
    * preserves pairwise distance only to JL's ε ≈ √(log n / outDim) —
    * far too coarse to RANK neighbors on weakly-separated data (on
    * uniform random 64-dim vectors, ranking directly in 16 dims
    * recalls ~6% of true top-5) — but ample to shortlist them
    * (candidates+rerank at outDim 32, oversample 20: ~76% on the same
    * worst-case data; clustered real embeddings fare far better). The
    * same two-tier contract as [[lshTopK]]/[[ivfTopK]], with the
    * candidate cost cut dim/outDim× per comparison.
    *
    * Scale shape: candidate scoring streams the corpus past the
    * broadcast reduced queries ONCE at outDim doubles per vector
    * (that byte cut is the point); the candidate list (nQueries ·
    * k·oversample ids) is bounded by the query-side row bound, so
    * the rerank BROADCASTS it into one corpus pass — the corpus never
    * shuffles. All arithmetic integer-in-double (quantize → project),
    * so candidates AND rerank are oracle-exact. */
  def jlTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, outDim: Int = 32, oversample: Int = 20,
      seed: Long = 77, dim: Int = 64, maxQueryRows: Int = 1000000): DataFrame =
    search("jlTopK", queries, idCol, vecCol, k, Some(maxQueryRows -> Unbounded),
        oversample) { q =>
      def reduced(df: DataFrame, idAs: String, vAs: String): DataFrame =
        signProject(quantize(df, idCol, vecCol), idCol, "qvec", outDim, seed, dim)
          .select(col(idCol).as(idAs), col("rvec").as(vAs))
      Family(reduced(q, "query_id", "__qv"), reduced(corpus, "neighbor_id", "__cv"),
        Nil, cosine(col("__qv"), col("__cv")), hint = true, rerank = Some(corpus))
    }

  /** ANN recall evaluation — the "measure, don't guess" harness for the
    * approximate tiers: given the EXACT top-k frame and any number of
    * approximate results over the same query set (all in the
    * (query_id, rank, neighbor_id) contract), one row per method with
    * the matched-pair count and recall@k. Tuning (tables, planes) /
    * (nCentroids, nProbe) / (outDim, oversample) against a sampled
    * query set with this report is how the knobs get set BEFORE
    * committing a 100 TB pass — recall targets belong in a measured
    * table, not a guess.
    *
    * Scale shape: every frame here is nQueries·k rows by construction
    * (the top-k contract), so the hit join broadcasts and each method
    * reduces to one row map-side; recall is a long/long double division
    * — exact cross-engine. */
  def recallReport(exact: DataFrame, tiers: Seq[(String, DataFrame)]): DataFrame = {
    require(tiers.nonEmpty, "recallReport needs at least one tier")
    // The EXACT frame is re-consumed once per tier — deliberately NOT
    // persisted: the per-tier subtrees all live in ONE executed plan,
    // so the duplicate exact passes run CONCURRENTLY and overlap their
    // scans, while a persist SERIALIZES the report behind one full
    // materialization of the exact frame (measured r14, interleaved
    // same-JVM A/B at sf0.1/local[32]: persist 6.5-8.4 s vs lazy
    // 4.9-5.8 s per q227-shaped report — persist lost ~40% wall in
    // every round). On a SATURATED cluster the trade flips (|tiers|×
    // exact-pass CPU is real money at 100 TB) — there, persist the
    // exact frame at the call site before passing it in; the operator
    // keeps the wall-optimal default.
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    tiers.map { case (name, ap) =>
      ex.join(broadcast(ap.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("__hit"))),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_expected"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .select(lit(name).as("method"), col("n_expected"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_expected").cast("double"))
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------ product quantization

  /** Squared L2 norms of a codebook's centroids — LEFT-FOLD sum of
    * squares, the accumulation order DuckDB's `list_dot_product(c, c)`
    * and [[graft.functions.DotExpr]] share, so the value is bit-identical
    * wherever it is recomputed. */
  private def cbNorm2(cb: Array[Array[Double]]): Array[Double] =
    cb.map { c =>
      var a = 0.0; var i = 0
      while (i < c.length) { a += c(i) * c(i); i += 1 }
      a
    }

  /** Adds `__code_j` (j = 0..m-1) = the 0-based id of the L2-NEAREST
    * centroid of `codebooks(j)` to the j-th `dsub`-wide subvector of
    * `qvecCol`, tie → lower cid. The assignment key is
    * `‖c‖² − 2·x·c` — ‖x‖² is common across candidates, so the argmin
    * is the true L2 argmin without computing it; ‖c‖² is a driver
    * constant per centroid and the dots run through ONE codegen
    * [[graft.functions.MatDotsExpr]] per subspace (consumed directly by
    * the zip_with, the [[withNearestCentroids]] inlining discipline).
    * L2, not cosine: PQ reconstructs the vector from independent
    * subspace pieces, and the reconstruction error that ADC scoring
    * pays is Σ_j ‖x_j − c_j‖² — the quantity Lloyd-on-L2 minimizes
    * (Jégou et al. 2011, §II). */
  private def pqAssigned(df: DataFrame, qvecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.foldLeft(df) { case (acc, (cb, j)) =>
      val centStructs = array(cbNorm2(cb).zipWithIndex.map { case (n2, i) =>
        struct(lit(n2).as("n2"), lit(i).as("cid"))
      }.toIndexedSeq: _*)
      val sub = slice(col(qvecCol), j * dsub + 1, dsub).cast("array<double>")
      acc.withColumn(s"__code_$j",
        element_at(transform(array_sort(
          zip_with(graft.functions.VecExpressions.matDots(sub, cb), centStructs,
            (d, c) => struct((c.getField("n2") - lit(2.0) * d).as("key"),
              c.getField("cid").as("cid")))),
          e => e.getField("cid")), 1))
    }
  }

  /** One PQ Lloyd assignment's sufficient statistics, ALL m subspaces in
    * ONE corpus pass: every (row, subspace) pair goes to its L2-nearest
    * centroid ([[pqAssigned]]), and the output is
    * (j, cid, pos, n, s) — per-(subspace, cluster, component) count and
    * INTEGER component sum, from which the refined centroid is s/n.
    * Same rationale as [[lloydStats]]: integer sums are exact under any
    * partitioning, the corpus never shuffles (assignment is a
    * projection), and only m × ksub × dsub map-side-combined partial
    * rows move. */
  def pqLloydStats(qz: DataFrame, qvecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val subs = array((0 until m).map(j =>
      struct(lit(j).as("j"), col(s"__code_$j").as("cid"),
        slice(col(qvecCol), j * dsub + 1, dsub).cast("array<long>").as("xv"))): _*)
    pqAssigned(qz, qvecCol, codebooks)
      .select(explode(subs).as("sx"))
      .select(col("sx.j").as("j"), col("sx.cid").as("cid"),
        posexplode(col("sx.xv")).as(Seq("pos", "x")))
      .groupBy("j", "cid", "pos")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
  }

  /** Deterministic product-quantization codebooks (Jégou et al. 2011):
    * the int8-quantized corpus ([[quantize]] — PQ then compresses the
    * DIRECTION, scale-invariant like every tier here) is split into `m`
    * subspaces of dim/m components; each subspace gets a `ksub`-centroid
    * codebook trained by `iters` L2 Lloyd steps from a seeded
    * [[sampleCentroids]]-style init (the ksub corpus rows with the
    * smallest seeded id-hash, each contributing its j-th subvector to
    * codebook j). All m subspaces train in the SAME corpus pass per
    * iteration ([[pqLloydStats]]); refinement divides integer sufficient
    * statistics ONCE driver-side, so the codebooks — and everything
    * downstream — are bit-exact across engines, partitionings, and
    * retries. An empty cluster keeps its previous centroid
    * ([[kmeansRefine]]'s convention).
    *
    * Sizing: m·ksub·dsub doubles on the driver (4·16·16 here — trivial;
    * even FAISS-scale 64·256·16 is 256 KB). `ksub` ≤ 256 keeps a stored
    * code in one byte; codes per vector are m bytes — a 64-dim float
    * embedding compresses 64× at m=4. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, ksub: Int = 16, seed: Long = 42, iters: Int = 1,
      dim: Int = 64): Array[Array[Array[Double]]] =
    pqCodebooksFrom(quantize(corpus, idCol, vecCol), idCol, "qvec",
      m, ksub, seed, iters, dim)

  /** [[pqCodebooks]]' training loop over an ALREADY-PREPARED integer
    * vector frame (`ivecCol`: any integral array — [[quantize]]'s int8
    * `qvec`, or [[ivfPqEncodeResidual]]'s wider residual components,
    * which don't fit a byte). Casting the sample to array<double> before
    * collecting keeps the extraction type-agnostic and exact (the
    * components are small integers). */
  private def pqCodebooksFrom(qz: DataFrame, idCol: String, ivecCol: String,
      m: Int, ksub: Int, seed: Long, iters: Int,
      dim: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"pqCodebooks: m=$m must divide dim=$dim")
    require(ksub >= 1 && ksub <= 256,
      s"pqCodebooks: ksub=$ksub outside [1, 256] (a code must fit one byte)")
    require(iters >= 0, s"pqCodebooks: iters must be >= 0, got $iters")
    val dsub = dim / m
    val sampled = qz
      .select(col(ivecCol).cast("array<double>").as("__iv"),
        graft.functions.Stable.seededHash(seed, col(idCol)).as("__h"))
      .orderBy("__h").limit(ksub)
      .select(col("__iv")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sampled.nonEmpty, "pqCodebooks: empty corpus")
    // dim is a caller PARAMETER, but the data has the truth: a mismatch
    // would silently encode only a prefix of each vector (slice truncates
    // past the end), degrading ADC quality with no error — fail loudly on
    // the sampled rows instead, like every other contract guard here.
    sampled.find(_.length != dim).foreach { v =>
      throw new IllegalArgumentException(
        s"pqCodebooks: dim=$dim but a sampled corpus vector has " +
          s"${v.length} components — pass dim = the actual vector length")
    }
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => sampled.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 0 until iters) {
      val rows = pqLloydStats(qz, ivecCol, cbs).collect()
      val next = Array.tabulate(m)(j => cbs(j).map(_.clone()))
      rows.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((j, cid), rs) =>
        val c = new Array[Double](dsub)
        rs.foreach(r => c(r.getInt(2)) = r.getLong(4).toDouble / r.getLong(3).toDouble)
        next(j)(cid) = c
      }
      cbs = next
    }
    cbs
  }

  /** The (codes, rnorm) expressions over a [[pqAssigned]] frame — shared
    * by [[pqEncode]] and [[pqEncodeFrozen]] (which carries a coarse-list
    * id through the same encoding pass). */
  private def pqCodeCols(codebooks: Array[Array[Array[Double]]]): (Column, Column) = {
    val m = codebooks.length
    val offsets = codebooks.scanLeft(0)(_ + _.length)
    val codes = array((0 until m).map(j =>
      (col(s"__code_$j") + lit(offsets(j))).cast("int")): _*)
    val rnorm2 = (0 until m).map { j =>
      element_at(array(cbNorm2(codebooks(j)).map(lit).toIndexedSeq: _*),
        col(s"__code_$j") + 1)
    }.reduceLeft(_ + _) // left fold in subspace order — the oracle's order
    (codes, sqrt(rnorm2))
  }

  /** Encode the corpus against trained codebooks: one row per vector,
    * (idCol, codes, rnorm) where `codes(j)` is the j-th code PRE-OFFSET
    * into the flattened LUT (j·ksub + cid — [[pqTopK]]'s gather indices,
    * computed once here instead of per (query, row) pair at search time)
    * and `rnorm` = ‖x̂‖ = sqrt(Σ_j ‖c_{j,code_j}‖²), the reconstructed
    * norm ADC cosine needs — exact from the codebook alone because
    * subspace reconstructions are orthogonal by construction. Encoding
    * is a one-time materialization (the [[quantize]] trade): interpreted
    * HOFs are fine here; the SEARCH path touches only `codes`/`rnorm`
    * through codegen expressions. m bytes of code + one double per
    * vector is the entire search-time corpus footprint. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val assigned = pqAssigned(quantize(corpus, idCol, vecCol), "qvec", codebooks)
    val (codes, rnorm) = pqCodeCols(codebooks)
    assigned.select(col(idCol), codes.as("codes"), rnorm.as("rnorm"))
  }

  /** PQ-ADC approximate top-k (the FAISS IndexPQ + refine shape): train
    * codebooks on the corpus, encode it to m-code rows, score candidates
    * by ASYMMETRIC distance — each query precomputes one flattened
    * lookup table of m·ksub subspace dots (one [[graft.functions.MatDotsExpr]]
    * per subspace on the PROBE-SIZED side), and a corpus row's score is
    * `Σ_j lut[codes_j] / ‖x̂‖` (approximate cosine of the query against
    * the RECONSTRUCTION), one codegen
    * [[graft.functions.GatherSumExpr]] per pair — then exact-rerank the
    * `k·oversample` shortlist at full dimension ([[jlTopK]]'s two-tier
    * contract).
    *
    * Scale shape: the corpus never shuffles and never moves its
    * vectors — candidate scoring streams m ints + one double per row
    * past the broadcast LUTs (at m=4 that is 24 bytes/vector vs 256 for
    * the floats: the byte cut IS the tier), TopK bounds per-query state
    * before any shuffle, and the bounded shortlist broadcasts back for
    * one full-dimension corpus pass. Zero-norm reconstructions score
    * NULL and drop (cosine-undefined, [[topKPerQuery]]'s contract).
    * Every number is integer-in-double or a fixed-order fold, so the
    * shortlist and the rerank are both oracle-exact. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 4, ksub: Int = 16,
      oversample: Int = 20, seed: Long = 42, iters: Int = 1,
      dim: Int = 64, maxQueryRows: Int = 1000000): DataFrame =
    search("pqTopK", queries, idCol, vecCol, k, Some(maxQueryRows -> Unbounded),
        oversample) { q =>
      val cbs = pqCodebooks(corpus, idCol, vecCol, m, ksub, seed, iters, dim)
      Family(quantize(q, idCol, vecCol)
          .select(col(idCol).as("query_id"), pqLut(cbs).as("__lut")),
        pqEncode(corpus, idCol, vecCol, cbs)
          .select(col(idCol).as("neighbor_id"), col("codes"), col("rnorm")),
        Nil, adcCosine(residual = false), hint = true, rerank = Some(corpus))
    }

  /** A query's flattened ADC lookup table: the dots of each `dsub`-wide
    * subvector of its int8 `qvec` with its subspace's centroids, one
    * codegen [[graft.functions.MatDotsExpr]] per subspace. */
  private def pqLut(codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    concat(codebooks.indices.map(j =>
      graft.functions.VecExpressions.matDots(
        slice(col("qvec"), j * dsub + 1, dsub).cast("array<double>"),
        codebooks(j))): _*)
  }

  /** ADC cosine of a query against a corpus row's reconstruction:
    * `Σ_j lut[codes_j] / ‖x̂‖` through one codegen
    * [[graft.functions.GatherSumExpr]], plus the query's `__qdotc` term
    * for residual codes. A zero-norm reconstruction scores NULL. */
  private def adcCosine(residual: Boolean): Column = {
    val gather = graft.functions.VecExpressions.gatherSum(col("__lut"), col("codes"))
    when(col("rnorm") > 0d,
      (if (residual) col("__qdotc") + gather else gather) / col("rnorm"))
  }

  // ----------------------------------------------------------- OPQ-P tier

  /** Variance-balancing dimension permutation — the PARAMETRIC-FREE half
    * of optimized product quantization (Ge et al. 2014: learn an
    * orthonormal R minimizing PQ distortion; restricted to a PERMUTATION
    * matrix the learning collapses to an allocation problem and the
    * "rotation" costs NOTHING at encode or search time — a projection
    * reorders array slots, no matrix multiply ever runs). PQ quantizes
    * each subspace independently, so a subspace that inherits all the
    * high-energy components exhausts its ksub centroids on them while
    * the low-energy subspaces waste theirs; dealing the dimensions
    * round-robin in decreasing energy order equalizes Σ-variance across
    * the m subspaces — the balance criterion OPQ's eigenvalue allocation
    * targets, applied on the diagonal.
    *
    * Cross-engine exact: ONE pass over the int8-quantized corpus
    * ([[quantize]] — the domain PQ actually codes) accumulates
    * per-position (n, Σx, Σx²) as DECIMAL(38,0) integer sums (DuckDB's
    * HUGEINT twins — a plain long Σx² overflows near 10¹² rows), and
    * energy = n·Σx² − (Σx)² (n² × the variance: same ordering, no
    * division) ranks in BigInt on the driver, ties to the lower
    * position. Returns `perm` with perm(dest) = src: the energy-rank-r
    * dimension lands at dest = (r mod m)·dsub + r÷m — subspace r mod m,
    * slot r÷m. One dim-length int array is the entire driver state. */
  def opqPermutation(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int = 64): Array[Int] = {
    require(m >= 1 && dim % m == 0, s"opqPermutation: m=$m must divide dim=$dim")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val stats = quantize(corpus, idCol, vecCol)
      .select(posexplode(col("qvec").cast("array<long>")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("s"),
        sum((col("x") * col("x")).cast(dec)).as("ss"))
      .collect()
    require(stats.length == dim,
      s"opqPermutation: dim=$dim but the corpus vectors span " +
        s"${stats.length} positions — pass dim = the actual vector length")
    val energy: Map[Int, BigInt] = stats.map { r =>
      val n = BigInt(r.getDecimal(1).toBigInteger)
      val s = BigInt(r.getDecimal(2).toBigInteger)
      val ss = BigInt(r.getDecimal(3).toBigInteger)
      r.getInt(0) -> (n * ss - s * s)
    }.toMap
    val ranked = (0 until dim).sortBy(p => (-energy(p), p))
    val dsub = dim / m
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case (src, r) => perm((r % m) * dsub + r / m) = src }
    perm
  }

  /** An [[opqPermutation]] as a projection: out(d) = vec(perm(d)). */
  def permuteVec(vec: Column, perm: Array[Int]): Column =
    array(perm.toIndexedSeq.map(p => element_at(vec, p + 1)): _*)

  /** PQ-ADC top-k in the OPQ-permuted space: derive the energy-balancing
    * permutation, reorder every vector (corpus AND queries — one
    * projection, no shuffle, no extra pass beyond the permutation's
    * dim-row stats agg), and run the verbatim [[pqTopK]] chain on the
    * permuted frames. Correctness rides on permutation invariance: the
    * seeded sample keys on ids, [[quantize]]'s scale is a max over
    * components, and the exact rerank's cosine folds the identically
    * permuted arrays — so the contract is [[pqTopK]]'s and only the
    * subspace split (codebook quality) changes. q235 measures what the
    * balance buys at identical bytes. */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 4, ksub: Int = 16,
      oversample: Int = 20, seed: Long = 42, iters: Int = 1,
      dim: Int = 64, maxQueryRows: Int = 1000000): DataFrame = {
    val perm = opqPermutation(corpus, idCol, vecCol, m, dim)
    def p(df: DataFrame): DataFrame =
      df.withColumn(vecCol, permuteVec(col(vecCol).cast("array<double>"), perm))
    pqTopK(p(corpus), p(queries), idCol, vecCol, k, m, ksub, oversample,
      seed, iters, dim, maxQueryRows)
  }

  /** Train the coarse quantizer + PQ codebooks and encode the corpus —
    * the shared train/encode stage of [[ivfPqTopK]] and [[writePqIndex]],
    * public so a HYPERPARAMETER SWEEP trains ONCE (VERDICT r13: q230's
    * nProbe sweep retrained the identical seeded state three times —
    * at 100 TB, re-encoding the corpus per swept value is a real cost
    * on the "measure before deploying" workflow). Returns the encoded
    * frame (cid, idCol, codes, rnorm) — [[writePqIndex]]'s table schema,
    * consumable directly by [[pqProbe]] at any nProbe — plus the coarse
    * centroids and PQ codebooks. Training (the Lloyd `.collect()`s) is
    * eager; the encode frame is lazy — a sweep that probes it several
    * times should `.persist()` it (codes are m ints + a double per row,
    * the 20-60× smaller object — q230 does exactly this). */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Long = 42, nCentroids: Int = 16, m: Int = 4, ksub: Int = 16,
      iters: Int = 1, dim: Int = 64,
      coarsePre: Option[Array[Array[Double]]] = None)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    // `coarsePre` injects an ALREADY-SAMPLED coarse quantizer so a
    // comparison harness training several tiers over the same
    // (corpus, seed, nCentroids) — q232 trains global AND residual
    // codes — samples the identical seeded centroids ONCE instead of
    // re-running the sample pass per tier (the q230 single-train
    // discipline applied to the training side).
    val coarse = coarsePre.getOrElse(
      sampleCentroids(corpus, idCol, vecCol, seed, nCentroids))
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ksub, seed, iters, dim)
    (pqEncodeFrozen(corpus, idCol, vecCol, coarse, cbs), coarse, cbs)
  }

  /** Assign + encode against FROZEN quantizers — [[ivfPqEncode]]'s
    * projection pass without the training: ONE corpus pass lands coarse
    * list id + PQ codes + reconstructed norm (cid rides [[quantize]]'s
    * `keep` through [[pqAssigned]]). Public because it is also the
    * APPEND kernel ([[appendPqBatch]]): an index's quantizers are a
    * contract — new batches encode against them, they never retrain. */
  def pqEncodeFrozen(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val withCid = withNearestCentroids(corpus, vecCol, centroids, 1, "__near")
      .withColumn("__cid", element_at(col("__near"), 1)).drop("__near")
    val assigned = pqAssigned(
      quantize(withCid, idCol, vecCol, keep = Seq("__cid")), "qvec", codebooks)
    val (codes, rnorm) = pqCodeCols(codebooks)
    assigned.select(col("__cid").as("cid"), col(idCol),
      codes.as("codes"), rnorm.as("rnorm"))
  }

  /** Int8-quantize a driver-side vector with [[quantize]]'s exact
    * formula (scale = maxAbs/127, floor(x/scale + 0.5) round-half-up in
    * double math): the coarse centroids quantize on the driver so the
    * residual subtraction happens in the SAME integer domain on every
    * engine — the oracle replays this formula in SQL and the doubles
    * agree bit-for-bit. */
  private def quantizeVec(v: Array[Double]): Array[Double] = {
    var mx = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > mx) mx = a; i += 1 }
    val s = mx / 127.0
    if (s == 0.0) new Array[Double](v.length)
    else v.map(x => math.floor(x / s + 0.5))
  }

  /** [[ivfPqEncode]] with RESIDUAL codes (Jégou et al. 2011 §IV — the
    * step the global tier deliberately skips): each vector encodes
    * r = qvec − qc[cid], its int8 offset from its own coarse list's
    * quantized centroid, against ONE codebook set trained on residuals.
    * Residuals cluster tighter than raw directions (the coarse
    * quantizer has already explained the list-level structure), so the
    * same m bytes buy finer resolution — whether that pays at a given
    * (m, nProbe) is exactly what q232's recall report measures.
    *
    * Everything stays in the QUANTIZED integer domain: r's components
    * are integers in [-254, 254] (exact in the Lloyd statistics and in
    * every double fold), so the construction is as oracle-replayable as
    * the global tier. ADC scoring decomposes as
    * q·x̂ = q·qc[cid] + q·r̂ — the first term is one per-(query, probed
    * list) double ([[pqProbeResidual]]'s `__qdotc`, nProbe rows per
    * query), the second the same [[graft.functions.GatherSumExpr]]
    * LUT gather as the global tier; ‖x̂‖ is a driver-side
    * (cid, j, code) table lookup at encode time (nCentroids·m·ksub
    * doubles — KB-scale, like the codebooks themselves).
    *
    * Returns (encoded frame (cid, idCol, codes, rnorm), coarse
    * centroids, QUANTIZED centroids, residual codebooks) — the probe
    * needs both centroid forms: raw for probe-list selection (cosine,
    * [[ivfTopK]]'s assignment), quantized for the q·qc term. */
  def ivfPqEncodeResidual(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Long = 42, nCentroids: Int = 16, m: Int = 4, ksub: Int = 16,
      iters: Int = 1, dim: Int = 64,
      coarsePre: Option[Array[Array[Double]]] = None)
      : (DataFrame, Array[Array[Double]], Array[Array[Double]],
         Array[Array[Array[Double]]]) = {
    val coarse = coarsePre.getOrElse(
      sampleCentroids(corpus, idCol, vecCol, seed, nCentroids))
    val qc = coarse.map(quantizeVec)
    require(qc.forall(_.length == dim),
      s"ivfPqEncodeResidual: dim=$dim but a sampled centroid has " +
        s"${qc.map(_.length).distinct.mkString("/")} components")
    val withCid = withNearestCentroids(corpus, vecCol, coarse, 1, "__near")
      .withColumn("__cid", element_at(col("__near"), 1)).drop("__near")
    // Residual in the quantized domain: r = qvec − qc[cid], int − int.
    val litQc = array(qc.map(c =>
      array(c.map(x => lit(x.toInt)).toIndexedSeq: _*)).toIndexedSeq: _*)
    val rz = quantize(withCid, idCol, vecCol, keep = Seq("__cid"))
      .withColumn("rvec", zip_with(col("qvec").cast("array<int>"),
        element_at(litQc, col("__cid") + 1), (x, c) => x - c))
    val cbs = pqCodebooksFrom(rz, idCol, "rvec", m, ksub, seed, iters, dim)
    val assigned = pqAssigned(rz, "rvec", cbs)
    val offsets = cbs.scanLeft(0)(_ + _.length)
    val codes = array((0 until m).map(j =>
      (col(s"__code_$j") + lit(offsets(j))).cast("int")): _*)
    // ‖x̂‖² = Σ_j ‖qc[cid]_sub_j + cb_j[code_j]‖² — per-subspace pieces
    // are orthogonal by construction, and each term is a function of
    // (cid, j, code): one flattened driver-side literal table, indexed
    // cid·(m·ks) + j·ks + code, summed in subspace order (the oracle's
    // ordered fold).
    val dsub = dim / m
    val ks = cbs.head.length
    val flatNorm = qc.flatMap(qcv => (0 until m).flatMap(j => cbs(j).map { cv =>
      var a = 0.0
      var i = 0
      while (i < dsub) { val t = qcv(j * dsub + i) + cv(i); a += t * t; i += 1 }
      a
    }))
    val litNorm = array(flatNorm.map(lit).toIndexedSeq: _*)
    val rnorm2 = (0 until m).map(j =>
      element_at(litNorm,
        col("__cid") * (m * ks) + lit(j * ks) + col(s"__code_$j") + 1))
      .reduceLeft(_ + _)
    (assigned.select(col("__cid").as("cid"), col(idCol),
      codes.as("codes"), sqrt(rnorm2).as("rnorm")), coarse, qc, cbs)
  }

  /** Query a residual-encoded index ([[ivfPqEncodeResidual]]'s frame):
    * [[pqProbe]] plus the per-(query, probed list) whole-vector term —
    * sim = (q·qc[cid] + gather(lut, codes)) / ‖x̂‖, the §IV
    * decomposition. The q·qc dots run through ONE codegen
    * [[graft.functions.MatDotsExpr]] against the quantized-centroid
    * matrix on the PROBE-SIZED side; the corpus side still streams
    * m ints + one double per row. */
  def pqProbeResidual(index: DataFrame, centroids: Array[Array[Double]],
      qCentroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      oversample: Int = 20, rerankCorpus: Option[DataFrame] = None,
      maxQueryRows: Int = 1000000, broadcastProbe: Boolean = false): DataFrame =
    search("pqProbeResidual", queries, idCol, vecCol, k,
        Some(maxQueryRows -> ProbeFix), oversample) { q =>
      pqFamily("pqProbeResidual", q, index, centroids, Some(qCentroids), codebooks,
        idCol, vecCol, nProbe, probeHint(q, broadcastProbe), rerankCorpus)
    }

  /** [[ivfPqTopK]]'s one-call form for the residual tier:
    * [[ivfPqEncodeResidual]] + [[pqProbeResidual]] with exact rerank. */
  def ivfPqTopKResidual(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 4, ksub: Int = 16, oversample: Int = 20, seed: Long = 42,
      iters: Int = 1, dim: Int = 64, maxQueryRows: Int = 1000000): DataFrame = {
    val (enc, coarse, qc, cbs) = ivfPqEncodeResidual(
      corpus, idCol, vecCol, seed, nCentroids, m, ksub, iters, dim)
    pqProbeResidual(enc, coarse, qc, cbs, queries, idCol, vecCol, k,
      nProbe, oversample, rerankCorpus = Some(corpus), maxQueryRows)
  }

  /** IVF + PQ — the two scale levers composed (the FAISS IndexIVFPQ
    * shape, Jégou et al. 2011 §IV, minus residual encoding — codes are
    * global [[pqCodebooks]] codes, so one codebook set serves every
    * list and the oracle replays training once, not per-list): the
    * coarse quantizer ([[sampleCentroids]] + [[withNearestCentroids]],
    * [[ivfTopK]]'s verbatim — same seed, same cosine assignment)
    * restricts each query's candidates to its `nProbe` nearest inverted
    * lists, ADC scores those candidates through the same broadcast-LUT
    * + [[graft.functions.GatherSumExpr]] kernel as [[pqTopK]], and the
    * shortlist exact-reranks at full dimension.
    *
    * Why both levers: [[pqTopK]] still STREAMS the whole corpus (every
    * row's codes pass the LUTs); [[ivfTopK]] still reads full-width
    * vectors for every candidate. Composed, a query touches
    * ~nProbe/nCentroids of the corpus at m bytes + one double per row —
    * the 100 TB serving shape (scan cut × byte cut). The corpus is
    * coarse-assigned and encoded in ONE projection pass (cid rides
    * [[quantize]]'s `keep` through [[pqAssigned]]) and never shuffles:
    * the candidate join is cid-equality against the broadcast probe
    * frame, so each (query, neighbor) pair meets at most once (one cid
    * per corpus row, distinct probe list — [[ivfTopK]]'s no-dedup
    * argument).
    *
    * Recall: a true neighbor outside the probed lists is lost (the
    * standard IVF trade, tuned by nProbe) ON TOP of PQ's code-resolution
    * loss — measure with [[recallReport]] before choosing
    * (nProbe, m) for a deployment. Deterministic end-to-end, same
    * argument as [[pqTopK]]; the q228 oracle replays coarse assignment,
    * codebook training, encoding, ADC, and rerank. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 4, ksub: Int = 16, oversample: Int = 20, seed: Long = 42,
      iters: Int = 1, dim: Int = 64, maxQueryRows: Int = 1000000): DataFrame =
    search("ivfPqTopK", queries, idCol, vecCol, k, Some(maxQueryRows -> Unbounded),
        oversample) { q =>
      val (enc, coarse, cbs) =
        ivfPqEncode(corpus, idCol, vecCol, seed, nCentroids, m, ksub, iters, dim)
      pqFamily("ivfPqTopK", q, enc, coarse, None, cbs, idCol, vecCol, nProbe,
        hint = true, Some(corpus))
    }

  /** The IVF-PQ probe family of [[ivfPqTopK]], [[pqProbe]] and
    * [[pqProbeResidual]]: the probe-sized query side ([[pqQueryLut]])
    * equi-joins the encoded lists on their coarse list id `__cid` and
    * scores by ADC ([[adcCosine]]), residual when `qCentroids` is given. */
  private def pqFamily(op: String, bounded: DataFrame, index: DataFrame,
      centroids: Array[Array[Double]], qCentroids: Option[Array[Array[Double]]],
      codebooks: Array[Array[Array[Double]]], idCol: String, vecCol: String,
      nProbe: Int, hint: Boolean, rerank: Option[DataFrame]): Family =
    Family(pqQueryLut(op, bounded, idCol, vecCol, centroids, qCentroids, nProbe,
        codebooks),
      index.select(col("cid").as("__cid"), col(idCol).as("neighbor_id"),
        col("codes"), col("rnorm")),
      Seq("__cid"), adcCosine(qCentroids.isDefined), hint, rerank)

  /** The probe-sized query frame of the IVF-PQ tier: one row per
    * (query, probed list) with the query's flattened ADC lookup table —
    * (query_id, __cid, __lut), plus `__qdotc` = q·qc[cid] against the
    * quantized centroids when they are given (the residual tier). The
    * LUT is m codegen [[graft.functions.MatDotsExpr]] dots per QUERY
    * (probe-sized side — never the corpus). */
  private def pqQueryLut(op: String, bounded: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      qCentroids: Option[Array[Array[Double]]], nProbe: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val qdotc = qCentroids.map(qc =>
      element_at(graft.functions.VecExpressions.matDots(
          col("qvec").cast("array<double>"), qc),
        col("__cid") + 1).as("__qdotc"))
    quantize(probed(op, bounded, vecCol, centroids, nProbe), idCol, vecCol,
        keep = Seq("__probe"))
      .select(col(idCol).as("query_id"), explode(col("__probe")).as("__cid"),
        col("qvec"))
      .select(Seq(col("query_id"), col("__cid"), pqLut(codebooks).as("__lut")) ++
        qdotc: _*)
  }

  /** `df` with `__probe` = the ids of its `nProbe` nearest centroids —
    * the query side of every IVF probe. */
  private def probed(op: String, df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= centroids.length,
      s"$op: nProbe must be in [1, ${centroids.length}], got $nProbe")
    withNearestCentroids(df, vecCol, centroids, nProbe, "__probe")
  }

  /** The query fix named by the bound of the probes of a persisted index. */
  private val ProbeFix = "probe in bounded query batches"

  /** Broadcast cap of `broadcastProbe`, in counted query rows; the
    * broadcast LUT frame holds nProbe rows per query. */
  private val ProbeHintMaxRows = 10000

  /** Whether a probe broadcasts its query side. `broadcastProbe = true` is
    * the serving shape for a KNOWN-small batch: the index side — bucketed
    * artifact or a persisted encode frame — then never shuffles and never
    * sorts (measured at sf0.1: the unhinted join planned the probe-LUT
    * frame too conservatively and shuffled the ENCODED INDEX by cid
    * instead, ~0.7 s per probe). The default stays unhinted: a batch near
    * maxQueryRows carries nProbe·(m·ksub + dim/m) doubles per row and must
    * be allowed to degrade to a probe-side shuffle instead of an executor
    * OOM. The hint is also capped by the batch's counted size (a
    * corpus-proportional batch — q229/q233's 5% slice — grows with sf):
    * past [[ProbeHintMaxRows]] the probe plans unhinted. The batch is
    * counted only when the hint is asked for. */
  private def probeHint(bounded: DataFrame, broadcastProbe: Boolean): Boolean =
    broadcastProbe && bounded.count() <= ProbeHintMaxRows

  /** The IVF-PQ index as a PERSISTED artifact — [[writeIvfIndex]]'s
    * train-once contract for the COMPRESSED tier: what lands on disk is
    * m ints + one double per vector (codes + reconstructed norm), NOT
    * the float vectors — at 100 TB the artifact is the ~20-60× smaller
    * object, which is the entire point of persisting codes. Three
    * pieces: `<table>` holds (cid, idCol, codes, rnorm) bucketed AND
    * sorted by cid (HashPartitioning(cid) satisfies [[pqProbe]]'s join
    * distribution — the list side reads its buckets in place, only the
    * probe frame moves); `<path>_centroids` the coarse quantizer;
    * `<path>_codebooks` the PQ codebooks (j, cid, cv). Train + assign +
    * encode are [[ivfPqTopK]]'s verbatim, so a probe of the reloaded
    * artifact is bit-identical to the in-memory tier — q229 pins that
    * loop closure against the from-raw SQL rebuild. Reload through
    * [[readPqIndex]] (`spark.table`, the [[graft.sources.Store]]
    * contract), never a bare parquet path.
    *
    * `growing` batch-partitions the encoded lists: at 100 TB the
    * code-only index is the one that gets appended daily, so it takes
    * [[appendPqBatch]]'s incremental path, with the seed corpus in
    * partition `__batch_id = -1`. */
  def writePqIndex(corpus: DataFrame, table: String, path: String,
      idCol: String, vecCol: String, seed: Long = 42, nCentroids: Int = 16,
      m: Int = 4, ksub: Int = 16, iters: Int = 1, dim: Int = 64,
      buckets: Int = 16, growing: Boolean = false): Unit = {
    val (_, coarse, cbs) =
      ivfPqEncode(corpus, idCol, vecCol, seed, nCentroids, m, ksub, iters, dim)
    writeQuantizer(corpus.sparkSession, path, coarse, cbs)
    Store.write(corpus, pqLists(coarse, cbs, idCol, vecCol), table, path,
      buckets, growing)
  }

  /** [[writePqIndex]] with `growing = true`. */
  def writePqIndexPartitioned(corpus: DataFrame, table: String, path: String,
      idCol: String, vecCol: String, seed: Long = 42, nCentroids: Int = 16,
      m: Int = 4, ksub: Int = 16, iters: Int = 1, dim: Int = 64,
      buckets: Int = 16): Unit =
    writePqIndex(corpus, table, path, idCol, vecCol, seed, nCentroids, m,
      ksub, iters, dim, buckets, growing = true)

  /** The PQ inverted lists' [[graft.sources.Store]] layout: a
    * [[pqEncodeFrozen]] pass (cid, idCol, codes, rnorm), bucketed and
    * sorted by cid. The first write and [[appendPqBatch]] both encode
    * through it, so an appended row is exactly what a rebuild over the
    * same quantizers would store. */
  private def pqLists(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], idCol: String,
      vecCol: String): StoreKind =
    StoreKind("pq", pqEncodeFrozen(_, idCol, vecCol, centroids, codebooks),
      Seq("cid"), sorted = true)

  /** The KB-sized quantizer sidecars of a persisted IVF or PQ index:
    * `<path>_centroids` (cid, cvec) and, for PQ, `<path>_codebooks` (j,
    * cid, cv). `coalesce(1)` is correct here — these are driver-side
    * arrays, not data. */
  private def writeQuantizer(spark: org.apache.spark.sql.SparkSession,
      path: String, coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]] = Array.empty): Unit = {
    import spark.implicits._
    coarse.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }
      .toDF("cid", "cvec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${path}_centroids")
    if (codebooks.nonEmpty)
      codebooks.zipWithIndex.flatMap { case (cb, j) =>
          cb.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
        }.toSeq.toDF("j", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${path}_codebooks")
  }

  /** Land one batch of NEW vectors in a growing [[writePqIndex]] index:
    * assignment AND encoding use the FROZEN quantizers
    * ([[pqEncodeFrozen]] — an index's centroids and codebooks are a
    * contract; retraining them would re-encode every stored row, which
    * is a rebuild, not an append). The landing is
    * [[graft.sources.Store.land]]: the batch's own partition is
    * overwritten, so a replayed batch overwrites rather than duplicates,
    * and the stored lists never move. */
  def appendPqBatch(batch: DataFrame, table: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], batchId: Long,
      idCol: String, vecCol: String): Unit =
    Store.land(batch, pqLists(centroids, codebooks, idCol, vecCol), table, batchId)

  /** Reload a [[writePqIndex]] artifact: the encoded lists with their
    * bucket spec intact, plus the coarse quantizer and the PQ codebooks
    * as the driver-side arrays [[pqProbe]] takes. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      path: String): (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (lists, cents) = readIvfIndex(spark, table, path)
    val cbRows = spark.read.parquet(s"${path}_codebooks")
      .orderBy("j", "cid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = cbRows.iterator.map(_._1).max + 1
    val cbs = Array.tabulate(m)(j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._3))
    (lists, cents, cbs)
  }

  /** Query a persisted IVF-PQ index ([[readPqIndex]]'s output): probe-
    * list projection + LUT on the query batch, cid join against the
    * bucketed encoded lists (in place — no Exchange on the list side),
    * ADC scoring through [[graft.functions.GatherSumExpr]]. With
    * `rerankCorpus` the `k·oversample` ADC shortlist exact-reranks at
    * full dimension against that frame ([[ivfPqTopK]]'s two-tier
    * contract, bit-identical to it — q229's pin); without it the ADC
    * ranking itself is the answer (the FAISS IndexPQ no-refine mode —
    * the serving shape when the float vectors genuinely aren't kept). */
  def pqProbe(index: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      oversample: Int = 20, rerankCorpus: Option[DataFrame] = None,
      maxQueryRows: Int = 1000000, broadcastProbe: Boolean = false): DataFrame =
    search("pqProbe", queries, idCol, vecCol, k, Some(maxQueryRows -> ProbeFix),
        oversample) { q =>
      pqFamily("pqProbe", q, index, centroids, None, codebooks, idCol, vecCol,
        nProbe, probeHint(q, broadcastProbe), rerankCorpus)
    }

  /** Semantic (embedding-space) benchmark decontamination: flags every
    * corpus row whose int8-quantized embedding ([[quantize]]'s `qvec`)
    * has cosine ≥ tauNum/tauDen with ANY benchmark embedding — the
    * embedding twin of [[graft.dedup.Dedup.contaminated]], for the
    * contamination n-grams miss (paraphrases, translations,
    * re-formatted eval items). Output: (idCol, n_hits), n_hits = the
    * number of benchmark vectors at or above the threshold.
    *
    * Deliberately EXACT — no LSH pruning: decontamination must not have
    * false negatives, and the benchmark side is bounded (eval suites),
    * so the right plan is a broadcast nested-loop with the threshold as
    * the join condition — each corpus row streams past the broadcast
    * bench vectors once, codegen'd integer dots, no shuffle of the
    * corpus at all; only HIT rows reach the one keyed agg. The bench
    * row bound is enforced in the plan
    * ([[graft.dedup.Dedup.contaminated]]'s contract).
    *
    * The threshold compare is PURE INTEGER arithmetic (exact in double,
    * so the oracle reproduces every flag bit-for-bit): cos ≥ τ ⟺
    * dot ≥ 0 ∧ den²·dot² ≥ num²·|a|²·|b|², no sqrt, no division.
    * Exactness bound: den²·(dim·127²)² < 2^53 — at tauDen ≤ 10 that
    * holds through dim 512; larger dims need a coarser denominator
    * (the require carries the rule). Zero vectors never flag (cosine
    * undefined — excluded by the positive-norm guard). */
  def contaminatedSemantic(corpus: DataFrame, idCol: String, qvecCol: String,
      benchmark: DataFrame, benchIdCol: String, benchQvecCol: String,
      tauNum: Int = 9, tauDen: Int = 10,
      maxBenchRows: Int = 100000): DataFrame = {
    require(tauNum >= 0 && tauDen > 0 && tauNum <= tauDen,
      s"contaminatedSemantic: threshold $tauNum/$tauDen is not in [0, 1]")
    require(tauDen <= 10,
      s"contaminatedSemantic: tauDen=$tauDen — the integer compare " +
        "den²·dot² vs num²·|a|²·|b|² must stay below 2^53 for bit-exact " +
        "double arithmetic; keep the denominator ≤ 10 (e.g. 9/10, 4/5)")
    val msg =
      s"contaminatedSemantic: benchmark exceeds $maxBenchRows rows — a " +
        "corpus-sized 'benchmark' cannot broadcast; use nearDupPairs' " +
        "LSH machinery for corpus-vs-corpus similarity, or raise " +
        "maxBenchRows if the eval side genuinely fits the broadcast budget"
    val c = corpus.select(col(idCol), col(qvecCol).cast("array<double>").as("__cv"))
    val b = Guards.atMost(benchmark, maxBenchRows, msg)
      .select(col(benchIdCol).as("__bid"),
        col(benchQvecCol).cast("array<double>").as("__bv"))
    val d = dot(col("__cv"), col("__bv"))
    val na2 = dot(col("__cv"), col("__cv"))
    val nb2 = dot(col("__bv"), col("__bv"))
    val cond = na2 > 0d && nb2 > 0d && d >= 0d &&
      lit((tauDen.toLong * tauDen).toDouble) * d * d >=
        lit((tauNum.toLong * tauNum).toDouble) * na2 * nb2
    c.join(broadcast(b), cond)
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }

  /** The embedding-admission retention artifact —
    * [[graft.dedup.Dedup.signatureStore]]'s third parity tier, for
    * corpora that dedup by embedding COSINE rather than estimated
    * Jaccard or Hamming distance: (idCol, xkey, qvec) per corpus
    * vector. `qvec` is the int8 [[quantize]] form — 4× smaller through
    * every admission shuffle, cosine preserved exactly (integer dots
    * are exact in double, the q62 rule) — and `xkey` is md5 of the
    * comma-joined quantized components: the "exact" tier is
    * direction-identity at int8 resolution, which is what embedding
    * duplication MEANS (a re-scaled copy quantizes to the same qvec —
    * [[quantize]] is scale-invariant — so it lands in the exact tier,
    * not the near tier). Pure projection: one scan, no shuffle. */
  def embeddingStore(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantize(df, idCol, vecCol)
      .select(col(idCol),
        md5(concat_ws(",", col("qvec").cast("array<string>"))).as("xkey"),
        col("qvec"))

  /** The embedding near tier's [[graft.sources.Store]] layout: an
    * [[embeddingStore]]'s sign-LSH bucket rows (tbl, bucket, vec_id,
    * qvec) — [[graft.dedup.Dedup.bandStore]]'s cosine edition — bucketed
    * by the FULL (tbl, bucket) join key. The int8 qvec (dim bytes) rides
    * the shuffle instead of the cast doubles (8× fewer bytes); consumers
    * cast at the verify, where integer dots stay exact in double.
    * Admission's store-side near join reads buckets in place; only the
    * batch shuffles. Pass `Store.read(spark, table)` to
    * [[graft.text.Curation.admitEmbedding]]'s `storeBuckets`. The exact
    * tier is [[graft.dedup.Dedup.exactStore]]`("qvec", "vec_id")`. */
  def signBucketStore(seed: Long = 42, tables: Int = 6, planes: Int = 8,
      dim: Int = 64): StoreKind = {
    val hp = hyperplanes(seed, tables, planes, dim)
    StoreKind("sign_buckets",
      signBucketed(_, hp, col("qvec").cast("array<double>"), col("vec_id"), col("qvec"))
        .select(col("table").as("tbl"), col("bucket"), col("vec_id"), col("qvec")),
      Seq("tbl", "bucket"), sorted = false)
  }

  /** `carry` plus one (table, bucket) row per hash table of `hp`: bucket =
    * the sign bits of `vec` against that table's planes
    * ([[graft.functions.SignBuckets]]). The one sign-LSH bucketing of the
    * banded operators, cards and stores here. */
  private def signBucketed(df: DataFrame, hp: Array[Array[Array[Double]]],
      vec: Column, carry: Column*): DataFrame =
    df.select(carry :+
      posexplode(graft.functions.SignBuckets(vec, hp)).as(Seq("table", "bucket")): _*)

  /** Deterministic hyperplane matrix: `tables` x `planes` hyperplanes of
    * dimension `dim`, components in [-1, 1) derived from splitmix-style
    * hashing of (seed, table, plane, dim index). Pure Scala — the same
    * constants can be inlined into an external engine's query. */
  def hyperplanes(seed: Long, tables: Int, planes: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, planes, dim) { (t, p, d) =>
      // splitmix64 of the packed coordinates; top 53 bits -> [0,1).
      // splitmix(x) mixes x + GOLDEN, so passing packed*GOLDEN gives the
      // same bits as the original inline (packed+1)*GOLDEN derivation.
      val z = graft.functions.Stable.splitmix(
        seed + 0x9e3779b97f4a7c15L * ((t.toLong * 1024 + p) * 4096 + d))
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }

  /** Sign-LSH bucket key for one hash table: bit p = sign(v . plane_p).
    * The dimension guard fails loudly on a vec/plane length mismatch —
    * otherwise zip_with pads with nulls, every dot goes NULL, and every
    * row lands in bucket 0 (a silent all-pairs degeneration). */
  def bucketKey(vec: Column, tablePlanes: Array[Array[Double]]): Column = {
    val dim = tablePlanes.head.length
    val checked = when(size(vec) === dim, vec).otherwise(
      raise_error(concat(lit(s"LSH dim mismatch: expected $dim, got "), size(vec))))
    tablePlanes.zipWithIndex.map { case (plane, p) =>
      val d = dot(checked, array(plane.toIndexedSeq.map(lit): _*))
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** IVF-style approximate top-k: a deterministic coarse quantizer
    * (centroids = the `nCentroids` corpus vectors with the smallest
    * id-hash — a seeded sample), corpus rows assigned to their nearest
    * centroid's inverted list, queries probing the `nProbe` nearest lists,
    * exact rerank within the probed lists.
    *
    * Scale shape: centroid selection is a tiny top-k; assignment is a
    * per-row projection against broadcast centroid literals; the
    * candidate join is key-partitioned on the centroid id. The classic
    * IVF trade (vs [[lshTopK]]'s hyperplanes): data-adapted buckets,
    * recall tuned by nProbe. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long = 42, nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    search("ivfTopK", queries, idCol, vecCol, k, None) { q =>
      val centroids = sampleCentroids(corpus, idCol, vecCol, seed, nCentroids)
      // The corpus's lists are assigned lazily, in the probe's own pass.
      ivfFamily("ivfTopK", ivfLists(centroids, idCol, vecCol).project(corpus),
        centroids, idCol, vecCol, nProbe)(q)
    }

  /** The IVF probe family of [[ivfTopK]] and [[ivfProbe]]: the queries'
    * `nProbe` nearest lists equi-join the inverted lists (cid, idCol,
    * vecCol) on `cid`, and the pair scores by full-vector cosine. No
    * pair-dedup is needed: each corpus row has exactly ONE list and a
    * query's probe lists are distinct, so a (query, neighbor) pair meets
    * at most once — one shuffle fewer than a dedup would cost. */
  private def ivfFamily(op: String, index: DataFrame,
      centroids: Array[Array[Double]], idCol: String, vecCol: String,
      nProbe: Int)(q: DataFrame): Family =
    Family(probed(op, q, vecCol, centroids, nProbe)
        .select(col(idCol).as("query_id"), col(vecCol).as("__qvec"),
          explode(col("__probe")).as("cid")),
      index.select(col("cid"), col(idCol).as("neighbor_id"), col(vecCol).as("__cvec")),
      Seq("cid"), VecCosine, hint = false)

  /** The IVF index as a PERSISTED artifact — the ANN analog of the
    * signature stores: train once (the centroid sample and the
    * corpus-wide nearest-centroid assignment — everything in
    * [[ivfTopK]] that touches the whole corpus), keep it, and serve
    * every future query batch by probe + in-list rerank with no
    * re-clustering and no corpus movement.
    *
    * Two pieces: `<table>` holds the inverted lists (cid, idCol, vecCol)
    * bucketed AND sorted by cid — HashPartitioning(cid) satisfies the
    * probe join's distribution, so the corpus side reads its buckets in
    * place and only the (small) query batch shuffles. `<path>_centroids`
    * holds the quantizer itself, (cid, cvec): nCentroids rows by the
    * [[sampleCentroids]] contract, which future sessions reload to
    * compute probe lists as a pure projection. Re-read through
    * [[readIvfIndex]] (`spark.table`, the [[graft.sources.Store]]
    * contract), never a bare parquet path. Vectors persist in their
    * source type (float arrays stay float — exact under the double cast
    * every kernel applies), so the artifact costs the corpus's own
    * vector bytes, not 2x.
    *
    * `growing` batch-partitions the lists: the corpus seeds partition
    * `__batch_id = -1` and each later vector batch lands via
    * [[appendIvfBatch]]. The bucket spec (cid) is shared by every
    * partition, so [[ivfProbe]]'s list-side join stays exchange-free as
    * the index grows. */
  def writeIvfIndex(corpus: DataFrame, table: String, path: String,
      idCol: String, vecCol: String, seed: Long = 42, nCentroids: Int = 16,
      buckets: Int = 16, refineIters: Int = 0, growing: Boolean = false): Unit = {
    val sampled = sampleCentroids(corpus, idCol, vecCol, seed, nCentroids)
    // refineIters > 0: balance the inverted lists with [[kmeansRefine]]'s
    // Lloyd steps over the int8-quantized corpus before assignment — a
    // data-adapted quantizer costs one extra corpus scan per step at
    // train time (the ONE place that cost amortizes) and stays bit-exact,
    // so the artifact is as reproducible as the raw sample.
    val centroids =
      if (refineIters == 0) sampled
      else kmeansRefine(quantize(corpus, idCol, vecCol), idCol, "qvec",
        sampled, refineIters)
    writeQuantizer(corpus.sparkSession, path, centroids)
    Store.write(corpus, ivfLists(centroids, idCol, vecCol), table, path,
      buckets, growing)
  }

  /** The IVF inverted lists' [[graft.sources.Store]] layout: each row's
    * nearest centroid as (cid, idCol, vecCol), bucketed and sorted by
    * cid — shared by [[writeIvfIndex]] and [[appendIvfBatch]]. */
  private def ivfLists(centroids: Array[Array[Double]], idCol: String,
      vecCol: String): StoreKind =
    StoreKind("ivf", withNearestCentroids(_, vecCol, centroids, 1, "__near")
        .select(element_at(col("__near"), 1).as("cid"), col(idCol), col(vecCol)),
      Seq("cid"), sorted = true)

  /** Land one batch of NEW vectors in a growing [[writeIvfIndex]] index:
    * assignment uses the FROZEN quantizer (an IVF index's centroids are
    * a contract — retraining them would re-bucket every stored list,
    * which is a rebuild, not an append), and the landing is
    * [[graft.sources.Store.land]] of the batch's own partition, so a
    * replayed batch overwrites rather than duplicates. */
  def appendIvfBatch(batch: DataFrame, table: String,
      centroids: Array[Array[Double]], batchId: Long,
      idCol: String, vecCol: String): Unit =
    Store.land(batch, ivfLists(centroids, idCol, vecCol), table, batchId)

  /** Embedding hygiene report — the one-row health check before any
    * ANN tier runs: zero-norm vectors make cosine undefined (every
    * kernel here guards them, but the CORPUS should know it has them),
    * dimension mismatches break dot kernels at runtime, and a
    * degenerate quantization scale flags vectors that arrived already
    * broken. Built over [[quantize]]'s output so every column is
    * bit-exact: qscale = maxAbs/127 (a max and one division — no float
    * SUM anywhere), qnorm² = Σ q_i² an exact integer (≤ dim·127²), the
    * mean a deci-integer. One map-side-combined agg over a projection
    * — the corpus never shuffles. */
  def embeddingHealth(df: DataFrame, idCol: String, vecCol: String,
      dim: Int = 64): DataFrame =
    quantize(df, idCol, vecCol)
      .select(col("qscale"), size(col("qvec")).as("__d"),
        aggregate(col("qvec").cast("array<long>"), lit(0L),
          (a, x) => a + x * x).as("__qn2"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("qscale") === 0d, 1L).otherwise(0L)), lit(0L))
          .as("n_zero"),
        coalesce(sum(when(col("__d") =!= dim, 1L).otherwise(0L)), lit(0L))
          .as("n_wrong_dim"),
        min(when(col("qscale") > 0d, col("qscale"))).as("min_qscale"),
        max(col("qscale")).as("max_qscale"),
        min(col("__qn2")).as("min_qnorm2"),
        max(col("__qn2")).as("max_qnorm2"),
        coalesce(sum(col("__qn2")), lit(0L)).as("__sq"))
      .withColumn("mean_qnorm2_x10", expr("(__sq * 10) div n_vecs"))
      .drop("__sq")

  /** Embedding Gram/covariance matrix — the d×d second-moment table
    * behind PCA whitening, decorrelation audits, and the isotropy
    * check an embedding space gets before ANN indexing ("are half my
    * dimensions redundant?"). Coordinates land on a fixed micro-grid
    * first (q_i = ⌊10³·x_i⌋ — floor of one double product,
    * deterministic), so every accumulated sum is a LONG — exact and
    * agg-order-free where a float Gram is neither. Output: one row per
    * unordered dimension pair i ≤ j — (i, j, n, g = Σq_i·q_j,
    * si = Σq_i, sj = Σq_j, cov = (n·g − si·sj)/n² on the quantized
    * grid) — the q161 moments reformulation lifted to the bilinear
    * case; the double division happens once at the output edge.
    *
    * Scale shape: ONE corpus scan into [[graft.functions.GramSum]] —
    * a typed single-buffer aggregator (`[G | S | n]`, d(d+1)/2 + d + 1
    * longs) that does every multiply-accumulate in place, so there is
    * NO row amplification anywhere: each map task emits exactly one
    * buffer, the merge is elementwise. (The previous declarative form
    * exploded the 2 080 upper-triangle structs per row into a hash
    * agg — same sums, but a 2 080× amplification that measured 197 s
    * at the sf10 probe's 200k vectors; the aggregator form measures
    * 1.9 s there, identical output.) The fixed 2 080-row result table
    * is then unpacked from the one-row buffer by a bounded explode.
    * Overflow headroom: |q|≤10³·maxAbs, so the accumulated g stays
    * under 2⁶³ up to ~10¹² rows at unit-norm inputs — enforced loudly
    * (addExact/multiplyExact, the q163 ANSI discipline). The closing
    * cov arithmetic (n·g − si·sj) is computed in DOUBLE, not long —
    * n·g wraps a long at only ~10⁷–10⁸ unit-norm rows, far below g's
    * own headroom, so the exact-integer tier ends at the agg outputs
    * and the one output-edge division carries double semantics (same
    * fixed operation order on the oracle side → bit-identical). */
  def gramMatrix(df: DataFrame, vecCol: String, dim: Int,
      scale: Long = 1000L): DataFrame = {
    val nPairs = dim * (dim + 1) / 2
    val acc = df
      .select(expr(s"transform($vecCol, x -> " +
        s"CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT))").as("q"))
      .agg(graft.functions.GramSum.gramSum(dim)(col("q")).as("acc"))
    // Unpack the buffer onto the (i, j) pair domain. Triangular index:
    // row i starts at Σ_{k<i}(dim−k) = i·dim − i(i−1)/2 (exact: i(i−1)
    // is even). Array indexing is 0-based; n = acc[nPairs + dim].
    acc.select(explode(expr(
        s"flatten(transform(sequence(0, ${dim - 1}), i -> " +
          s"transform(sequence(i, ${dim - 1}), j -> " +
          s"struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
          s"acc[$nPairs + $dim] AS n, " +
          s"acc[i * $dim - (i * (i - 1)) div 2 + j - i] AS g, " +
          s"acc[$nPairs + i] AS si, acc[$nPairs + j] AS sj))))")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.n").as("n"),
        col("e.g").as("g"), col("e.si").as("si"), col("e.sj").as("sj"))
      // An empty corpus must yield an empty table (the groupBy form's
      // behavior), not 2 080 rows of zeros.
      .filter(col("n") > 0)
      .withColumn("cov",
        (col("n").cast("double") * col("g").cast("double") -
          col("si").cast("double") * col("sj").cast("double")) /
          (col("n").cast("double") * col("n").cast("double")))
  }

  /** IVF cluster-balance report — the index health check run before
    * trusting an IVF deployment: per centroid, its inverted-list size
    * and share of the corpus. A skewed quantizer (one giant list)
    * makes nProbe recall collapse onto scan cost — this table is how
    * `refineIters`' Lloyd steps get justified with a measurement
    * instead of a guess (the [[recallReport]] discipline applied to
    * the index layout). One map-side-combined cid-keyed count agg over
    * the assignment projection + a broadcast one-row total; share is a
    * long/long division — exact. */
  def ivfBalance(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Long = 42, nCentroids: Int = 16): DataFrame = {
    val centroids = sampleCentroids(corpus, idCol, vecCol, seed, nCentroids)
    val counts = withNearestCentroids(corpus, vecCol, centroids, 1, "__near")
      .select(element_at(col("__near"), 1).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n_vecs"))
    counts.crossJoin(broadcast(counts.agg(sum(col("n_vecs")).as("__t"))))
      .select(col("cid").cast("bigint").as("cid"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("__t").cast("double")).as("share"))
  }

  /** Reload a [[writeIvfIndex]] artifact: the inverted lists with their
    * bucket spec intact, plus the quantizer as the driver-side array
    * every probe helper takes (nCentroids rows by contract). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      path: String): (DataFrame, Array[Array[Double]]) = {
    val cents = spark.read.parquet(s"${path}_centroids")
      .orderBy("cid").select("cvec").collect()
      .map(_.getSeq[Double](0).toArray)
    (Store.read(spark, table), cents)
  }

  /** Query a persisted IVF index ([[readIvfIndex]]'s output): probe-list
    * projection on the batch, cid join against the bucketed inverted
    * lists (the corpus side reads in place — no Exchange), exact in-list
    * rerank. Scoring is [[ivfTopK]]'s bit-for-bit — same assignment,
    * same cosine, same tie order — minus its train-time work; q78 pins
    * the loop closure against a from-raw SQL rebuild. */
  def ivfProbe(index: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4): DataFrame =
    search("ivfProbe", queries, idCol, vecCol, k, None)(
      ivfFamily("ivfProbe", index, centroids, idCol, vecCol, nProbe))

  /** The deterministic coarse quantizer shared by [[ivfTopK]] and
    * [[semanticDedupPairs]]: centroids = the `nCentroids` corpus vectors
    * with the smallest seeded id-hash (a seeded sample). Driver-side
    * collect of exactly `nCentroids` vectors, bounded by contract. */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Long, nCentroids: Int): Array[Array[Double]] =
    corpus
      .select(col(idCol), col(vecCol),
        graft.functions.Stable.seededHash(seed, col(idCol)).as("__h"))
      .orderBy("__h").limit(nCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Adds `out` = ids of the `n` nearest centroids by cosine (ties break
    * to the lower centroid id).
    *
    * Centroid similarities run via ONE MatDotsExpr node (the matrix is a
    * codegen reference object, not nCentroids*dim literal nodes — see
    * SignBucketsExpr for the plan-size rationale); the sim formula is
    * dot / (norm(v) * cn), each dot the same sequential accumulation
    * DotExpr does against a literal row. (cn, cid) ride as ONE literal
    * struct array, so the (-sim, cid) argsort structs are built by a
    * single zip_with pass OVER the dots array: matDots is the direct
    * argument of the zip_with, consumed exactly once, so the dots cannot
    * be re-evaluated no matter what CollapseProject inlines (the r4
    * hazard: a separate `__sims` column referenced once inside a
    * transform lambda was legal to inline INTO the lambda, re-running
    * matDots per element). `__nv` is referenced nCentroids× (non-cheap)
    * which keeps it a real projection — but correctness no longer depends
    * on that; PlanSpec counts the graft_mat_dots nodes. The heavy kernels
    * (the dots, the vector norm) run codegen'd OUTSIDE the interpreted
    * HOF lambdas, which only do scalar arithmetic over the results. */
  def withNearestCentroids(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], n: Int, out: String): DataFrame = {
    val cns = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val centStructs = array(cns.zipWithIndex.map { case (cn, i) =>
      struct(lit(cn).as("cn"), lit(i).as("cid"))
    }.toIndexedSeq: _*)
    df.withColumn("__nv", norm(col(vecCol)))
      .withColumn(out,
        slice(transform(array_sort(
            zip_with(graft.functions.VecExpressions.matDots(col(vecCol), centroids),
              centStructs,
              (d, c) => struct((-(d / (col("__nv") * c.getField("cn")))).as("neg"),
                c.getField("cid").as("cid")))),
          e => e.getField("cid")), 1, n))
      .drop("__nv")
  }

  /** kNN label propagation (weak supervision / label transfer): each
    * corpus row takes the majority label among its `k` nearest LABELED
    * vectors by cosine — how a small hand-labeled seed set (quality
    * tiers, domains, toxicity flags) extends to a whole corpus without
    * training a model.
    *
    * Scale shape: the labeled side is bounded (a seed set — an in-plan
    * row bound, [[contaminatedSemantic]]'s enforced contract) and
    * broadcasts; the corpus streams past it once (BroadcastNestedLoopJoin — the q30
    * pattern), [[graft.functions.TopK]] bounds every group to k rows
    * BEFORE the shuffle (map-side partial aggregation), and the vote is
    * a per-id count + argmax over ≤ k rows. The corpus itself never
    * shuffles — only (id, label, sim) triples already reduced to k per
    * id.
    *
    * Determinism: neighbors rank by (sim DESC, label ASC) — TopK's
    * tie-break key IS the label, so equal-similarity neighbors resolve
    * by label, not by row order — and the vote breaks count ties to the
    * smaller label. Output: (idCol, label_pred, n_votes). */
  def knnPropagate(corpus: DataFrame, idCol: String, vecCol: String,
      labeled: DataFrame, labeledIdCol: String, labeledVecCol: String,
      labelCol: String, k: Int = 5, maxLabeledRows: Int = 100000): DataFrame = {
    val msg =
      s"knnPropagate: labeled set exceeds $maxLabeledRows rows — a " +
        "corpus-sized 'seed set' cannot broadcast; label propagation " +
        "wants a bounded hand-labeled side, or raise maxLabeledRows if " +
        "it genuinely fits the broadcast budget"
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
    val l = Guards.atMost(labeled, maxLabeledRows, msg)
      .select(col(labeledIdCol).as("__lid"),
        col(labeledVecCol).cast("array<double>").as("__lv"),
        col(labelCol).cast("long").as("__lab"))
    majorityVote(c.join(broadcast(l), col(idCol) =!= col("__lid")), idCol, k)
  }

  /** The kNN vote of [[knnPropagate]] and [[knnPropagateLsh]] over
    * (idCol, __cv, __lab, __lv) candidate pairs: TopK(k) neighbors by
    * (cosine DESC, label ASC), then the majority label per id with count
    * ties to the smaller label — (idCol, label_pred, n_votes). */
  private def majorityVote(pairs: DataFrame, idCol: String, k: Int): DataFrame =
    pairs
      .select(col(idCol), col("__lab"), cosine(col("__cv"), col("__lv")).as("sim"))
      .groupBy(idCol).agg(TopK.topK(k)(col("sim"), col("__lab")).as("top"))
      .select(col(idCol), explode(col("top")).as("e"))
      .select(col(idCol), col("e._2").as("lab"))
      .groupBy(col(idCol), col("lab")).agg(count(lit(1)).as("n_votes"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("n_votes").desc, col("lab").asc)))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lab").as("label_pred"), col("n_votes"))

  /** Banded kNN label propagation — [[knnPropagate]] for a labeled set
    * too large to broadcast (weak supervision at corpus scale: millions
    * of machine-labeled seeds instead of a bounded hand-labeled set,
    * the regime [[knnPropagate]]'s probe deliberately REJECTS). Both
    * sides bucket through shared seed-derived sign-LSH hyperplanes;
    * candidates are the (table, bucket) key join (occupancy-guarded on
    * the labeled side — candidate pairs grow quadratically in
    * occupancy), ids-only and deduped BEFORE the vector rejoin (the
    * [[lshTopK]] shape: vectors cross the shuffle once per surviving
    * candidate, not once per table). The vote is [[knnPropagate]]'s
    * verbatim: TopK(k) by (sim DESC, label ASC), majority with count
    * ties to the smaller label.
    *
    * Semantics vs the exact tier: a corpus row only votes among seeds
    * sharing ANY band bucket (tuned by tables/planes — the standard
    * LSH recall trade), and rows with NO candidate seed are ABSENT
    * from the output (no vote, no guess) rather than silently labeled
    * from nothing — the honest contract for a recall-bounded
    * propagator. Deterministic end-to-end: hyperplanes are seed-derived
    * constants, so an external engine rebuilds buckets, candidates,
    * ranks and votes exactly. Output: (idCol, label_pred, n_votes). */
  def knnPropagateLsh(corpus: DataFrame, idCol: String, vecCol: String,
      labeled: DataFrame, labeledIdCol: String, labeledVecCol: String,
      labelCol: String, k: Int = 5, seed: Long = 42, tables: Int = 4,
      planes: Int = 12, dim: Int = 64, maxBucket: Int = 100000): DataFrame = {
    require(k >= 1, s"knnPropagateLsh: k must be >= 1, got $k")
    require(tables >= 1, s"knnPropagateLsh: tables must be >= 1, got $tables")
    // planes = 0 auto-derives from the larger side (the corpus usually,
    // but a labeled set bigger than the corpus also overfills buckets).
    val np = resolvePlanes("knnPropagateLsh", planes,
      math.max(corpus.count(), labeled.count()))
    val hp = hyperplanes(seed, tables, np, dim)
    val lb = Guards.occupancy(
      signBucketed(labeled, hp, col(labeledVecCol).cast("array<double>"),
        col(labeledIdCol).as("__lid")),
      Seq("table", "bucket"), "__lid", "maxBucket", maxBucket,
      "knnPropagateLsh: labeled-bucket", AddPlanes)
    val cb = signBucketed(corpus, hp, col(vecCol).cast("array<double>"), col(idCol))
    val cand = cb.join(lb, Seq("table", "bucket"))
      .filter(col(idCol) =!= col("__lid"))
      .select(col(idCol), col("__lid")).distinct()
    majorityVote(cand
      .join(corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv")),
        Seq(idCol))
      .join(labeled.select(col(labeledIdCol).as("__lid"),
        col(labeledVecCol).cast("array<double>").as("__lv"),
        col(labelCol).cast("long").as("__lab")), Seq("__lid")), idCol, k)
  }

  /** One Lloyd assignment's sufficient statistics over int8-quantized
    * vectors: every vector goes to its nearest centroid by cosine
    * ([[withNearestCentroids]]' tie-break), and the output is the
    * per-(cluster, component) count and INTEGER component sum —
    * (cid, pos, n, s) — from which the refined centroid is s/n.
    *
    * Why sufficient statistics instead of the mean: float sums are
    * order-dependent under Spark's unordered aggregation, but int8
    * component sums are exact longs — invariant under partitioning,
    * retries, and engine choice — so the Lloyd step stays bit-exact
    * end-to-end and the division to a mean happens ONCE, driver-side.
    * This is also the right distributed shape: the corpus never
    * shuffles (assignment is a projection against the literal centroid
    * matrix); only nPartitions × nCentroids × dim partial-sum rows move
    * (map-side combined), and the result is nCentroids × dim rows. */
  def lloydStats(qz: DataFrame, idCol: String, qvecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    withNearestCentroids(
        qz.select(col(idCol), col(qvecCol).cast("array<double>").as("__qv")),
        "__qv", centroids, 1, "__near")
      .select(element_at(col("__near"), 1).as("cid"),
        posexplode(col("__qv")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(count(lit(1)).as("n"), sum(col("x").cast("long")).as("s"))

  /** Deterministic k-means refinement: `iters` Lloyd steps over the
    * int8-quantized corpus, starting from `init` (typically
    * [[sampleCentroids]]' seeded sample). Each step collects
    * [[lloydStats]]' nCentroids × dim integer rows (bounded driver
    * action, like [[sampleCentroids]]' own collect) and divides once;
    * an empty cluster keeps its previous centroid (the standard Lloyd
    * convention — re-seeding would break retry determinism). Cosine
    * assignment is scale-invariant, so the refined centroids can feed
    * [[withNearestCentroids]] / [[ivfTopK]] / [[semanticDedupPairs]]
    * unchanged — a better-balanced coarse quantizer than the raw
    * sample, at one corpus scan per step. */
  def kmeansRefine(qz: DataFrame, idCol: String, qvecCol: String,
      init: Array[Array[Double]], iters: Int = 1): Array[Array[Double]] = {
    require(iters >= 1, s"kmeansRefine: iters must be >= 1, got $iters")
    require(init.nonEmpty, "kmeansRefine: empty initial centroid set")
    val dim = init.head.length
    var cents = init
    for (_ <- 0 until iters) {
      val rows = lloydStats(qz, idCol, qvecCol, cents).collect()
      val next = Array.tabulate(cents.length)(i => cents(i).clone())
      rows.groupBy(_.getInt(0)).foreach { case (cid, rs) =>
        val c = new Array[Double](dim)
        rs.foreach(r => c(r.getInt(1)) = r.getLong(3).toDouble / r.getLong(2).toDouble)
        next(cid) = c
      }
      cents = next
    }
    cents
  }

  /** SemDeDup-style semantic deduplication pairs (the published curation
    * stage — Abbas et al. 2023, "SemDeDup": cluster the embeddings, then
    * compare only WITHIN a cluster): assign every vector to its nearest
    * [[sampleCentroids]] centroid, self-join within each cluster
    * (key-partitioned on the centroid id — never corpus-wide all-pairs),
    * keep pairs with cosine >= `threshold`. Output (cid, id1, id2, cos),
    * id1 < id2; greedy dedup drops each pair's higher id (q51's
    * convention).
    *
    * Unlike [[nearDupPairs]], the vectors RIDE THROUGH the cluster
    * shuffle: each side moves the corpus once keyed by cid, and every
    * within-cluster pair then scores with no further shuffle. The
    * ids-only discipline would instead shuffle occupancy² candidate-pair
    * rows into two more vector joins — strictly more bytes once clusters
    * hold more than a couple of rows. ([[nearDupPairs]] faces the
    * opposite trade: its bucket rows are exploded `tables`×, so carrying
    * vectors would multiply them too — which is why IT rejoins.)
    *
    * SIZING: within-cluster candidates are quadratic in cluster occupancy
    * n / nCentroids, so `nCentroids` must grow LINEARLY with the corpus to
    * hold occupancy constant (SemDeDup's own regime — e.g. 50k clusters at
    * 10^8 embeddings for ~2k occupancy). The 16-centroid default suits the
    * 10^2–10^5 test scale. A skewed cluster (many vectors collapsing onto
    * one centroid) degrades toward quadratic: AQE's skew-join split
    * handles moderate skew; re-sample centroids with a different seed if
    * one cluster dominates. */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, seed: Long = 42, nCentroids: Int = 16): DataFrame =
    semanticDedupPairs(df, idCol, vecCol, threshold,
      sampleCentroids(df, idCol, vecCol, seed, nCentroids))

  /** [[semanticDedupPairs]] against an externally-trained quantizer —
    * e.g. centroids sampled from the FULL corpus while pairs are searched
    * among a filtered subset ([[graft.text.Curation.semanticDedupe]]'s
    * shape, so gating doesn't move the cluster boundaries). */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: Array[Array[Double]]): DataFrame = {
    val assigned = withNearestCentroids(df, vecCol, centroids, 1, "__near")
      .select(element_at(col("__near"), 1).as("cid"), col(idCol), col(vecCol))
    val a = assigned.select(col("cid"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = assigned.select(col("cid"), col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, Seq("cid"))
      .filter(col("id1") < col("id2"))
      .select(col("cid").cast("bigint").as("cid"), col("id1"), col("id2"),
        cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding near-duplicate pairs: sign-LSH bucketed candidate join,
    * exact cosine verify at `threshold` — the embedding analog of
    * MinHash+Jaccard dedup; never all-pairs.
    *
    * SIZING: candidate volume is quadratic in bucket occupancy, so
    * `planes` must grow with the corpus — pick
    * `planes ≈ log2(n / targetBucketSize)` (e.g. 2^12 buckets holds ~24/
    * bucket at n=100k; at 10^9 vectors use ~planes=26) and raise `tables`
    * to recover the recall each added plane costs. The defaults suit
    * ~10^4-10^5 rows. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      seed: Long = 42, tables: Int = 6, planes: Int = 8, dim: Int = 64): DataFrame = {
    val np = resolvePlanes("nearDupPairs", planes, df.count())
    val hp = hyperplanes(seed, tables, np, dim)
    // Bucket join and pair-dedup on IDS ONLY (16 bytes/row through the
    // shuffles), then fetch each side's vector once per surviving pair for
    // the exact verify — carrying the vectors through the bucket join and
    // the dedup would shuffle dim*4 bytes per candidate per table.
    val bucketed = signBucketed(df, hp, col(vecCol), col(idCol).as("__id"))
    val a = bucketed.select(col("table"), col("bucket"), col("__id").as("id1"))
    val b = bucketed.select(col("table"), col("bucket"), col("__id").as("id2"))
    val pairs = a.join(b, Seq("table", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    pairs
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("v1")), Seq("id1"))
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("v2")), Seq("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Approximate top-k: bucket the corpus and queries in `tables`
    * sign-LSH tables, take candidates sharing a bucket in ANY table, then
    * exact-rerank. All joins are key-partitioned on (table, bucket).
    *
    * CONTRACT: with `broadcastQueries = true` (default) `queries` must be
    * driver-broadcastable (a bounded query set — the standard ANN-serving
    * shape, and the same assumption [[bruteForceTopK]] makes); the hint
    * keeps the corpus bucket stream from ever shuffling — map-side
    * candidate generation at any corpus size. For an unbounded query set,
    * pass `broadcastQueries = false` to plan ordinary key-partitioned
    * shuffle joins instead of OOMing the driver with a forced broadcast
    * (a corpus-vs-ITSELF search still belongs in [[nearDupPairs]] — the
    * self-join shape dedups pairs instead of ranking twice). The contract
    * is ENFORCED in the plan ([[graft.functions.Guards.atMost]]) whenever
    * the hint is on. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long = 42, tables: Int = 4, planes: Int = 12, dim: Int = 64,
      broadcastQueries: Boolean = true, maxQueryRows: Int = 1000000): DataFrame =
    search("lshTopK", queries, idCol, vecCol, k,
        Option.when(broadcastQueries)(maxQueryRows ->
          "pass broadcastQueries = false to plan key-partitioned shuffle joins")) { q =>
      // planes = 0 auto-derives from the corpus (queries are the bounded
      // side by the broadcast contract; corpus occupancy governs the work).
      val np = resolvePlanes("lshTopK", planes, corpus.count())
      val hp = hyperplanes(seed, tables, np, dim)
      def bucketed(df: DataFrame, idAs: String): DataFrame =
        signBucketed(df, hp, col(vecCol), col(idCol).as(idAs))
      val qb = bucketed(q, "query_id")
      // Candidates and dedup on ids only; vectors then join once per
      // surviving pair: the corpus's by key, the queries' as the family's
      // query side, broadcast or shuffled per the contract above. That
      // side is the RAW query frame: the in-plan bound rides the candidate
      // subtree, which always executes, so a second bounded reference
      // would only repeat the bound's counting scan. The body's self-pair
      // filter after the query_id join is implied by the candidates' own;
      // the optimizer drops it.
      val candidates = bucketed(corpus, "neighbor_id")
        .join(if (broadcastQueries) broadcast(qb) else qb, Seq("table", "bucket"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id").distinct()
      Family(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qvec")),
        candidates.join(
          corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec")),
          Seq("neighbor_id")),
        Seq("query_id"), VecCosine, hint = broadcastQueries)
    }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998) —
    * the DIVERSE top-k the plain rankers cannot produce: greedily pick
    * the candidate maximizing relevance while penalizing similarity to
    * what is already picked,
    *
    *   mmr(c) = lNum·rel(c) − (lDen−lNum)·max_{s ∈ selected} cos(c, s)
    *
    * (the λ = lNum/lDen trade scaled through by lDen, so both
    * coefficients are EXACT small-integer doubles — a literal `1 − λ`
    * would already disagree across engines at λ = 0.7). Curation uses:
    * diverse eval-exemplar and few-shot selection, dedup-aware corpus
    * sampling, seed selection for active learning.
    *
    * Determinism: cosine is the engine's IEEE-double contract (the q30
    * oracle discipline — both engines sum the dot left-to-right), the
    * per-round argmax orders by (score DESC, id ASC) — a total order —
    * and `greatest` over the selected set is order-independent, so an
    * external engine replays every round bit-for-bit. Candidates whose
    * score is NULL/NaN (zero-norm vectors) are excluded, deterministically.
    *
    * Scale shape: greedy selection is inherently sequential (k
    * driver-looped rounds, each one jobs over the pool), so the pool is
    * a BOUNDED CANDIDATE TIER by contract — the output of an ANN /
    * BM25 / RRF top-k, not a corpus — enforced by an in-plan row bound
    * on the pool, which fails the first round. Each round is one
    * map-side-combined min-struct agg over the persisted pool (selected
    * vectors ride in as
    * literals); nothing shuffles. Output: (rank, idCol) — rank 1..k in
    * selection order. */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambdaNum: Long = 7, lambdaDen: Long = 10,
      maxCandidates: Int = 100000): DataFrame = {
    require(k >= 1, s"mmrSelect: k must be >= 1, got $k")
    require(0 < lambdaNum && lambdaNum <= lambdaDen,
      s"mmrSelect: need 0 < lambdaNum <= lambdaDen, got $lambdaNum/$lambdaDen")
    val spark = candidates.sparkSession
    import spark.implicits._
    val pool = Guards.atMost(candidates, maxCandidates,
        s"mmrSelect: candidate pool exceeds $maxCandidates rows — greedy " +
          "selection runs k passes over the pool; feed it a bounded candidate " +
          "tier (an ANN/BM25/RRF top-k), or raise maxCandidates deliberately")
      .select(col(idCol).cast("bigint").as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        col(relCol).cast("double").as("__rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val penalty = (lambdaDen - lambdaNum).toDouble
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val taken = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (rank, id)
    var exhausted = false
    try {
      for (t <- 1 to k if !exhausted) {
        val maxSim: Column =
          if (selected.isEmpty) lit(0.0)
          else {
            val sims = selected.map { case (_, v) => cosine(col("__v"), typedlit(v)) }
            if (sims.size == 1) sims.head else greatest(sims.toSeq: _*)
          }
        val score = lit(lambdaNum.toDouble) * col("__rel") - lit(penalty) * maxSim
        val remaining =
          if (selected.isEmpty) pool
          else pool.filter(!col("__id").isInCollection(selected.map(_._1)))
        val best = remaining
          .select(col("__id"), col("__v"), score.as("__m"))
          .filter(col("__m").isNotNull && !isnan(col("__m")))
          .agg(min(struct((-col("__m")).as("n"), col("__id").as("i"), col("__v").as("v"))).as("b"))
          .head().getStruct(0)
        if (best == null) exhausted = true
        else {
          val id = best.getLong(1)
          taken += ((t.toLong, id))
          selected += ((id, best.getSeq[Double](2)))
        }
      }
    } finally pool.unpersist()
    taken.toSeq.toDF("rank", idCol)
  }
}
