package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Guards, Stable}
import graft.sources.StoreKind

/** Deduplication for training-data pipelines: exact, MinHash+LSH banding,
  * SimHash, n-gram Jaccard verification, benchmark decontamination, and
  * the incremental-admission machinery ([[signatureStore]] /
  * [[exactStore]] / [[bandStore]] / [[sigAgreement]]) that lets
  * future batches dedup against a frozen corpus without re-reading it.
  *
  * Scale discipline (the reason these exist as first-class operators):
  * near-dup detection must NEVER be all-pairs. The LSH path is
  * shingle → minhash signature (per-row projection) → band keys →
  * `groupBy(band)` bucket join → per-candidate-pair exact verify. Every
  * stage is a narrow projection or a key-partitioned shuffle; no
  * CartesianProduct appears in any plan.
  *
  * All hashing is md5-derived ([[Stable.hash64]]) so signatures and band
  * keys are deterministic under retries/speculation and reproducible by
  * external engines (the DuckDB oracle recomputes them bit-for-bit).
  */
object Dedup {

  /** Exact dedup on an arbitrary key expression: one hash-partitioned
    * groupBy; keeps the minimum id as cluster representative.
    * Output: (key_hash, keep_id, n_dups).
    *
    * Deliberately NOT a `row_number() over (partition by key)` — that
    * form would survive with one corpus scan instead of the agg + id-join
    * two (see Curation's scan pin), but it shuffles the FULL rows keyed
    * by the dedup key, and dedup keys are precisely the skewed ones in a
    * real corpus (boilerplate pages, empty strings): one hot key pins
    * every duplicate's text on one partition. The agg form collapses the
    * skewed key map-side (partial min/count) and the consumer's join back
    * moves full rows keyed by the UNIFORM id — at 100 TB, key skew beats
    * a saved scan. */
  def exact(df: DataFrame, idCol: Column, key: Column): DataFrame =
    df.groupBy(md5(key.cast("string")).as("key_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-group duplicate-rate card — the dataset-card row quantifying
    * what [[exact]] would remove, per source ("how much of source X is
    * copies?"): n_docs, distinct contents, docs sharing their content
    * hash with ANY doc corpus-wide (cross-source copies count — a
    * mirror site's rate should read 100%, not 0), and the ppm rate.
    * Output: (groupCol, n_docs, n_distinct, n_dup_docs, dup_ppm).
    *
    * Scale shape: the corpus collapses ONCE to the (group, hash)
    * count table (map-side combined — the [[exact]] skew argument:
    * the hot hash never gathers its rows anywhere); corpus-wide hash
    * totals re-aggregate that COLLAPSED table, the join back is
    * collapsed-vs-collapsed keyed by hash, and the closing agg is
    * group-keyed. No corpus row crosses a second shuffle — the q66
    * lesson applied to the report tier. */
  def duplicateRateCard(df: DataFrame, groupCol: String,
      key: Column): DataFrame = {
    val sh = df.groupBy(col(groupCol), md5(key.cast("string")).as("__h"))
      .agg(count(lit(1)).as("__c"))
    val totals = sh.groupBy("__h").agg(sum(col("__c")).as("__ch"))
    sh.join(totals, Seq("__h"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_docs"), count(lit(1)).as("n_distinct"),
        coalesce(sum(when(col("__ch") >= 2, col("__c")).otherwise(0L)),
          lit(0L)).as("n_dup_docs"))
      .select(col(groupCol), col("n_docs"), col("n_distinct"),
        col("n_dup_docs"),
        expr("(1000000 * n_dup_docs) div n_docs").as("dup_ppm"))
  }

  /** Cross-source overlap matrix — the corpus-overlap study every
    * multi-source recipe publishes (how much of source A's content
    * recurs verbatim in source B — double-counted tokens inflate a
    * mixture's effective diversity): one row per ORDERED source pair
    * (a, b) with `n_docs_overlap` = a's docs whose exact text also
    * appears in b, and `n_shared_texts` = distinct texts present in
    * both. Pairs with zero overlap emit no row.
    *
    * Scale shape: texts collapse to md5 keys immediately (the [[exact]]
    * key — no full text ever shuffles); the doc side joins the
    * DISTINCT (source, key) presence frame keyed by the uniform hash,
    * and per-key fan-out is bounded by (docs-with-key × sources-with-
    * key), the latter ≤ |sources|; the matrix itself is ≤ |sources|²
    * rows. The same hot-text caveat as [[exact]] applies to a text
    * duplicated across MANY docs — its key carries docs×sources rows;
    * dedup within source first ([[exact]]) when that is the corpus. */
  def overlapMatrix(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(groupCol).as("a"), md5(col(textCol)).as("__k"))
    val presence = keyed.select(col("a").as("b"), col("__k")).distinct()
    keyed.join(presence, Seq("__k"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_docs_overlap"),
        count_distinct(col("__k")).as("n_shared_texts"))
  }

  /** Word k-shingles of a token array: contiguous k-grams joined by a
    * space. Docs shorter than k shingle to the whole sequence. */
  def shingles(toks: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Hashed k-shingles without shingle strings: explode tokens once, md5
    * each token in codegen, fold to 30 bits (lo XOR hi), and combine the k
    * consecutive folded hashes per window position with 31-bit constants
    * mod 2^61-1 — all inside a per-doc window (small, numerous partitions).
    * Docs shorter than k keep one window at pos 0 with missing terms as 0
    * (the whole-sequence analog of [[shingles]]). Output: one row per
    * shingle occurrence, (idCol, sh). Every md5 and every combination is
    * whole-stage codegen; the only shuffle is the window's doc-key
    * partitioning. */
  def shingleHashes(df: DataFrame, idCol: String, toksCol: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("pos")
    val folded = df
      .select(col(idCol), posexplode(col(toksCol)).as(Seq("pos", "__t")))
      .select(col(idCol), col("pos"), {
        val h = Stable.hash64(col("__t"))
        pmod(h, lit(1073741824L)).bitwiseXOR(shiftright(h, 30)).as("f")
      })
    val leads = (1 until k).foldLeft(folded) { (d, i) =>
      d.withColumn(s"__l$i", lead(col("f"), i).over(w))
    }
    val combined = (0 until k).map { i =>
      val (a, _, _) = Stable.familyConstants(100 + i)
      lit(a) * coalesce(if (i == 0) col("f") else col(s"__l$i"), lit(0L))
    }.reduce(_ + _)
    leads
      .filter(col(s"__l${k - 1}").isNotNull || col("pos") === 0)
      .select(col(idCol), pmod(combined, lit(2305843009213693951L)).as("sh"))
  }

  /** A doc's MinHash signature AND distinct (sorted) shingle-hash set as
    * ONE shuffle-free projection — [[graft.functions.MinhashFeaturesExpr]],
    * bit-equal to [[shingleHashes]] → [[minhashFromBases]] / collect_set
    * (pinned in TextDedupSpec). The canonical chain's per-doc window
    * shuffles the corpus token stream once PER CONSUMER; this is the form
    * every composed operator uses. Null for empty token arrays. */
  def minhashFeatures(toks: Column, k: Int = 3, numHashes: Int = 8): Column =
    graft.functions.MinhashFeaturesExpr.minhashFeatures(toks, k, numHashes)

  /** MinHash signatures from pre-hashed shingle rows (idCol, baseCol):
    * `numHashes` codegen'd min-aggregates over the universal hash family,
    * one map-side-combined shuffle. */
  def minhashFromBases(rows: DataFrame, idCol: String, baseCol: String,
      numHashes: Int, sigCol: String = "sig"): DataFrame = {
    val mins = (0 until numHashes).map { j =>
      min(Stable.familyHash(col(baseCol), j)).as(s"__m$j")
    }
    rows.groupBy(idCol).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"__m$j")): _*).as(sigCol))
  }

  /** MinHash signature over a shingle-array column: ONE md5 per shingle
    * feeds a universal hash family ([[Stable.familyHash]]); signature[j] =
    * min over shingles of family hash j. Interpreted (HOF) — prefer
    * [[minhashSignatures]] for large corpora. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    val bases = transform(shingleCol, s => Stable.hash64(s))
    array((0 until numHashes).map { j =>
      array_min(transform(bases, b => Stable.familyHash(b, j)))
    }: _*)
  }

  /** MinHash signatures via explode + codegen'd min-aggregates: one md5 per
    * shingle (whole-stage codegen) + `numHashes` cheap integer family
    * hashes, one map-side-combined shuffle keyed by `idCol`. Returns
    * (idCol, sigCol array<bigint>). Rows with empty shingle arrays drop
    * out (explode of empty). */
  def minhashSignatures(df: DataFrame, idCol: String, shingleCol: String,
      numHashes: Int, sigCol: String = "sig"): DataFrame = {
    val exploded = df.select(col(idCol), explode(col(shingleCol)).as("__s"))
      .select(col(idCol), Stable.hash64(col("__s")).as("__b"))
    val mins = (0 until numHashes).map { j =>
      min(Stable.familyHash(col("__b"), j)).as(s"__m$j")
    }
    exploded.groupBy(idCol).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"__m$j")): _*).as(sigCol))
  }

  /** LSH band keys: split the signature into `bands` rows-per-band groups
    * and hash each group. Docs sharing ANY band key are candidates. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      Stable.hash64(concat_ws(",",
        lit(b.toString),
        concat_ws(",", transform(slice(sig, b * rowsPerBand + 1, rowsPerBand),
          x => x.cast("string")))))
    }: _*)

  /** Banded signature rows: one (idCol, carry…, sigCol, band, bkey) row
    * per band, with the degeneration guard — slicing past the signature
    * would give every doc identical band keys (a silent all-pairs join),
    * so undersized signatures raise instead. The signature column rides
    * along (8 longs — cheap) for consumers that verify by
    * [[sigAgreement]]; consumers that don't, project it away and column
    * pruning removes it from the explode. */
  def banded(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int, op: String = "banded",
      carryCols: Seq[String] = Nil): DataFrame = {
    val sig = when(size(col(sigCol)) >= bands * rowsPerBand, col(sigCol)).otherwise(
      raise_error(concat(
        lit(s"$op: bands*rowsPerBand=${bands * rowsPerBand} exceeds signature length "),
        size(col(sigCol)))))
    df.select(col(idCol) +: carryCols.map(col) :+ col(sigCol) :+
      posexplode(bandKeys(sig, bands, rowsPerBand)).as(Seq("band", "bkey")): _*)
  }

  /** The default bucket bound of the banded pair families. */
  private[graft] val MaxBucket = 100000

  /** A banded near-dup pair family for [[nearPairs]]: key `rows`
    * (groups…, keys…, idCol, carry…); `what` and `fix` word the
    * occupancy guard's message; `carry` reaches both candidate sides
    * suffixed 1 and 2 for the lossless `prune`. */
  private[graft] final case class PairFamily(rows: DataFrame, idCol: String,
      groups: Seq[String], keys: Seq[String], what: String, fix: String,
      maxBucket: Int, carry: Seq[String] = Nil, prune: Option[Column] = None,
      verify: Option[PairVerify] = None)

  /** A [[PairFamily]]'s verify: `sides` project each side's signatures out
    * of `sigs` (keyed by `idCol`), `keep` filters the rejoined `scores`. */
  private[graft] final case class PairVerify(sigs: DataFrame, idCol: String,
      sides: (Seq[Column], Seq[Column]), scores: Seq[Column], keep: Column)

  /** The one banded near-dup pair body, which every corpus-vs-itself
    * banded search runs: side a's key rows go through the occupancy guard
    * ([[graft.functions.Guards.occupancy]], on the partitioning the join
    * shuffles on) — candidate volume is quadratic in occupancy, so a
    * bucket past `maxBucket` (a clone family skipped the exact-dedup-first
    * ORDERING RULE, or the banding is undersized) raises before the join
    * can multiply it; every bucket appears on side a, so one guarded side
    * suffices. Then the ids-only self-join on (groups…, keys…) with
    * id1 < id2, the prune and `distinct`, and the verify's signature
    * rejoin and filter. Output: (groups…, id1, id2, scores…). */
  private[graft] def nearPairs(f: PairFamily): DataFrame = {
    val on = f.groups ++ f.keys
    def side(rows: DataFrame, i: Int): DataFrame =
      rows.select((on.map(col) :+ col(f.idCol).as(s"id$i")) ++
        f.carry.map(c => col(c).as(s"$c$i")): _*)
    val a = side(Guards.occupancy(f.rows, on, on.last, "maxBucket", f.maxBucket,
      f.what, f.fix), 1)
    val joined = a.join(side(f.rows, 2), on).filter(col("id1") < col("id2"))
    val pairCols = (f.groups :+ "id1" :+ "id2").map(col)
    val cand = f.prune.fold(joined)(joined.filter).select(pairCols: _*).distinct()
    f.verify.fold(cand) { v =>
      cand.join(v.sigs.select(col(v.idCol).as("id1") +: v.sides._1: _*), Seq("id1"))
        .join(v.sigs.select(col(v.idCol).as("id2") +: v.sides._2: _*), Seq("id2"))
        .select(pairCols ++ v.scores: _*)
        .filter(v.keep)
    }
  }

  /** The fix named by the MinHash and SimHash families' guard. */
  private val ExactFirst = "Run Dedup.exact BEFORE near-dup banding (clone " +
    "families are the classic cause), or resize the banding / raise maxBucket"

  /** The MinHash family: [[banded]] rows keyed by (groups…, band, bkey). */
  private def minhashFamily(df: DataFrame, idCol: String, sigCol: String,
      groups: Seq[String], bands: Int, rowsPerBand: Int, maxBucket: Int,
      op: String): PairFamily =
    PairFamily(banded(df, idCol, sigCol, bands, rowsPerBand, op, groups), idCol,
      groups, Seq("band", "bkey"), s"$op: bucket", ExactFirst, maxBucket)

  /** The exact-Jaccard verifies' sides: each pair's shingle-hash sets. */
  private val ShingleSides = (Seq(col("sh").as("sh1")), Seq(col("sh").as("sh2")))

  /** Candidate pairs from banded LSH: explode band keys, self-join per
    * bucket (id1 < id2), distinct. The join is key-partitioned on the band
    * hash — bucket sizes, not corpus size, bound the pair blow-up.
    *
    * ORDERING RULE: run [[exact]] dedup BEFORE this. Identical documents
    * are the hot-bucket pathology — a k-times-duplicated page puts k
    * identical signatures in every band bucket it touches (k² candidate
    * pairs no banding parameter can dilute), and web corpora duplicate
    * exactly that way. Exact-dedup-first collapses each clone family to
    * one representative, which is why [[graft.text.Curation]] stages it
    * third, ahead of the MinHash stage. The rule is ENFORCED, not
    * advisory: any bucket past `maxBucket` ids raises at runtime
    * ([[nearPairs]]' guard) before the quadratic join can materialize. */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int, maxBucket: Int = 100000): DataFrame =
    nearPairs(minhashFamily(df, idCol, sigCol, Nil, bands, rowsPerBand, maxBucket,
      "lshCandidates"))

  /** [[lshCandidates]] restricted WITHIN groups — the sharded-dedup
    * shape the published pipelines actually run (FineWeb dedups per CC
    * snapshot, Penedo et al. 2024 §3.4; CCNet shards per language):
    * candidate pairs form only between documents sharing `groupCol`.
    * The group value rides the bucket join key, so the join shuffles on
    * (group, band, bkey) — cross-group signature collisions never meet,
    * each shard's buckets stay independent, and the plan shape is
    * IDENTICAL to the ungrouped form (one more key column, no new
    * exchange). Sharding also CONTAINS the hot-bucket pathology: the
    * occupancy guard counts per (group, band, bucket), so one shard's
    * boilerplate explosion raises without inflating any other shard's
    * buckets. The same ordering rule applies — run [[exact]] (per
    * group: key on (group, content-hash)) before this. */
  def lshCandidatesGrouped(df: DataFrame, idCol: String, sigCol: String,
      groupCol: String, bands: Int, rowsPerBand: Int,
      maxBucket: Int = 100000): DataFrame =
    nearPairs(minhashFamily(df, idCol, sigCol, Seq(groupCol), bands, rowsPerBand,
      maxBucket, "lshCandidatesGrouped"))

  /** MinHash near-dup pairs verified by exact Jaccard, over a frame of
    * [[minhashFeatures]] (`featCol`, keyed by `idCol`): [[lshCandidates]]
    * at 4 bands × 2 rows — [[lshCandidatesGrouped]] per `groupCols` shard
    * when given — then each candidate's distinct shingle-hash sets rejoin
    * and pairs at Jaccard >= 0.5 stay. Output: (groupCols…, id1, id2,
    * jaccard), id1 < id2. The feature frame feeds three plan consumers
    * (the signatures and both verify sides); whether it persists is the
    * caller's call. */
  def minhashPairs(feat: DataFrame, idCol: String, featCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val sig = feat.select((col(idCol) +: groupCols.map(col)) :+
      col(featCol)("sig").as("sig"): _*)
    val op = if (groupCols.isEmpty) "lshCandidates" else "lshCandidatesGrouped"
    nearPairs(minhashFamily(sig, idCol, "sig", groupCols, 4, 2, MaxBucket, op).copy(
      verify = Some(PairVerify(feat.select(col(idCol), col(featCol)("shingles").as("sh")),
        idCol, ShingleSides, Seq(jaccard(col("sh1"), col("sh2")).as("jaccard")),
        col("jaccard") >= 0.5))))
  }

  /** Exact n-gram Jaccard similarity join (AllPairs prefix filtering,
    * Bayardo et al. WWW 2007): EVERY pair of documents whose distinct
    * k-shingle-hash sets reach Jaccard >= tNum/tDen — the
    * zero-recall-loss tier of the near-dup family. [[lshCandidates]]
    * trades recall for bounded candidate volume (pairs the banding
    * misses are simply gone); this tier trades bounded volume for
    * exactness, so it fits verification sweeps and moderate corpora,
    * while LSH stays the 100 TB default (candidates here grow with
    * shared-shingle pair counts, which no parameter bounds).
    *
    * Lossless pruning, all integer (ceil(t·n) = (tNum·n + tDen-1) div
    * tDen; the verify compare is cross-multiplied — no float anywhere):
    *  - Global order = shingle hash ascending, the sorted array
    *    [[minhashFeatures]] already emits as a projection. An
    *    md5-derived order is a seeded random permutation of the shingle
    *    vocabulary, so no document-frequency table (and its corpus-wide
    *    frequency join) is needed; df-ordered prefixes would prune
    *    harder at that extra cost.
    *  - Prefix theorem: if J(A,B) >= t then |A∩B| >= ceil(t·|A|), and
    *    only |A| - prefix slots sit past A's first |A| - ceil(t·|A|) + 1
    *    elements — too few to hold the whole intersection, so the
    *    SMALLEST common element lies in BOTH prefixes. Candidates =
    *    prefix explode, self-join keyed on the prefix hash, id1 < id2;
    *    only ids and set sizes ride the shuffle.
    *  - Length filter before the distinct: tNum·max(|A|,|B|) <=
    *    tDen·min(|A|,|B|) — size-incompatible pairs can't reach t.
    *  - Verify = join the sorted sets back by id (the q28 shape):
    *    tDen·|A∩B| >= tNum·(|A|+|B|-|A∩B|).
    *
    * The prefix-bucket join carries the same hot-key pathology as LSH
    * buckets (a boilerplate shingle with a small hash lands in MANY
    * prefixes), so the probe side runs under the same occupancy guard,
    * and the exact-dedup-first ORDERING RULE applies unchanged — clone
    * families put identical prefixes in every bucket they touch.
    *
    * Output: (id1, id2, inter, n1, n2) per qualifying pair — integer
    * intersection and set sizes; derive the ratio at the edge if needed.
    */
  def jaccardJoin(df: DataFrame, idCol: String, toksCol: String,
      k: Int = 3, tNum: Int = 1, tDen: Int = 2,
      maxBucket: Int = 100000): DataFrame = {
    require(tNum > 0 && tNum < tDen,
      s"jaccardJoin: threshold must be in (0,1), got $tNum/$tDen")
    // The shingle-set frame feeds FOUR plan consumers (both prefix-join
    // sides derive from `prefixes`, and each verify side re-attaches the
    // sets) — and its projection is the md5-per-gram digest pass, the
    // most expensive per-row work in the operator. Persist it so the
    // corpus hashes once, not four times ([[nearDeduped]]'s measured
    // persist rationale; same MEMORY_AND_DISK trade at scale).
    val sets = graft.transform.Cache()(df
      .select(col(idCol), minhashFeatures(col(toksCol), k, numHashes = 1).as("mf"))
      .filter(col("mf").isNotNull)
      .select(col(idCol), col("mf")("shingles").as("sh")))
    val prefixes = sets.select(col(idCol), size(col("sh")).as("n"),
      explode(expr(
        s"slice(sh, 1, size(sh) - ((size(sh) * $tNum + ${tDen - 1}) div $tDen) + 1)"))
        .as("ph"))
    nearPairs(PairFamily(prefixes, idCol, Nil, Seq("ph"), "jaccardJoin: prefix bucket",
      "Run Dedup.exact first (clone families are the classic cause), raise the " +
        "threshold, or move this corpus to the LSH tier", maxBucket,
      carry = Seq("n"),
      prune = Some(greatest(col("n1"), col("n2")) * tNum <= least(col("n1"), col("n2")) * tDen),
      verify = Some(PairVerify(sets, idCol, ShingleSides, Seq(
          size(array_intersect(col("sh1"), col("sh2"))).cast("bigint").as("inter"),
          size(col("sh1")).cast("bigint").as("n1"),
          size(col("sh2")).cast("bigint").as("n2")),
        col("inter") * tDen >= (col("n1") + col("n2") - col("inter")) * tNum))))
  }

  /** Benchmark decontamination — the curation stage that finds corpus
    * documents overlapping an EVALUATION set (eval leakage): pool the
    * benchmark's distinct k-shingle hashes, count each corpus doc's
    * DISTINCT matching shingles, keep docs at >= `minOverlap`. Output:
    * (idCol, n_hits) — anti-join it to scrub
    * (`corpus.join(contaminated(...), Seq(id), "left_anti")`).
    *
    * Scale shape: the benchmark side is broadcast — eval sets are
    * thousands of rows, not corpora, BY CONTRACT (a corpus-sized
    * "benchmark" belongs in [[lshCandidates]]' near-dup machinery
    * instead). The corpus shingle stream therefore never shuffles to
    * find its matches; only the HIT rows (a tiny fraction) shuffle into
    * the per-doc distinct count. `minOverlap > 1` guards against
    * single-shingle coincidences in overlapping vocabularies.
    *
    * The broadcast contract is ENFORCED, not advisory: an in-plan row
    * bound on the benchmark ([[graft.functions.Guards.atMost]]) fails
    * the first action with the fix in the message — the alternative is
    * the broadcast either OOMing the driver or silently exceeding
    * Spark's broadcast threshold mid-job, an error that would point at
    * an executor instead of at the oversized benchmark. The bound counts
    * benchmark rows, so `benchIdCol` is not read; it stays in the
    * signature for existing callers, as in [[benchmarkOverlap]]. */
  def contaminated(corpus: DataFrame, idCol: String, toksCol: String,
      benchmark: DataFrame, benchIdCol: String, benchToksCol: String,
      k: Int = 3, minOverlap: Int = 2, maxBenchRows: Int = 1000000): DataFrame = {
    val bench = Guards.atMost(benchmark, maxBenchRows,
      s"contaminated: benchmark exceeds $maxBenchRows rows — a corpus-sized " +
        "'benchmark' cannot broadcast; use Dedup.lshCandidates' near-dup " +
        "machinery for corpus-vs-corpus overlap, or raise maxBenchRows if " +
        "the eval side genuinely fits the broadcast budget")
    // minhashFeatures' shingle sets are per-doc DISTINCT and come from a
    // pure projection — the old shingleHashes form paid a per-doc window
    // shuffle of the exploded token stream before the broadcast join
    corpus.select(col(idCol),
        explode_outer(minhashFeatures(col(toksCol), k, 1)("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
      .join(broadcast(
          bench.select(
              explode_outer(minhashFeatures(col(benchToksCol), k, 1)("shingles")).as("sh"))
            .filter(col("sh").isNotNull)
            .distinct()),
        Seq("sh"))
      .groupBy(idCol).agg(count_distinct(col("sh")).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
  }

  /** GRADED benchmark contamination — the per-doc overlap SCORE where
    * [[contaminated]] is the boolean gate: for every doc with ≥ 1
    * k-gram, the fraction of its DISTINCT k-gram shingles that appear
    * anywhere in the benchmark. The published contamination studies
    * report exactly this distribution (how much of each doc is eval
    * text) and threshold it per-release; `overlap = 1.0` is a verbatim
    * inclusion, small positive values are shared boilerplate.
    *
    * Scale shape: identical to [[contaminated]] — the benchmark's
    * distinct gram set broadcasts under the same ENFORCED `maxBenchRows`
    * bound, the corpus gram stream is a pure projection
    * (minhashFeatures' per-doc-distinct shingles) that never shuffles to
    * find its matches, and the only shuffle is the per-doc count agg,
    * map-side combined to ~one row per doc. The fraction is a long/long
    * double division — IEEE-exact cross-engine. */
  def benchmarkOverlap(corpus: DataFrame, idCol: String, toksCol: String,
      benchmark: DataFrame, benchIdCol: String, benchToksCol: String,
      k: Int = 3, maxBenchRows: Int = 1000000): DataFrame = {
    val benchGrams = Guards.atMost(benchmark, maxBenchRows,
        s"benchmarkOverlap: benchmark exceeds $maxBenchRows rows — a " +
          "corpus-sized 'benchmark' cannot broadcast; use Dedup.lshCandidates' " +
          "near-dup machinery for corpus-vs-corpus overlap, or raise " +
          "maxBenchRows if the eval side genuinely fits the broadcast budget")
      .select(explode_outer(minhashFeatures(col(benchToksCol), k, 1)("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
      .distinct().withColumn("__hit", lit(1L))
    corpus.select(col(idCol),
        explode_outer(minhashFeatures(col(toksCol), k, 1)("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
      .join(broadcast(benchGrams), Seq("sh"), "left")
      .groupBy(idCol).agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .withColumn("overlap",
        col("n_hits").cast("double") / col("n_grams").cast("double"))
  }

  /** Family indices reserved for the Bloom decontamination hashes —
    * disjoint from the MinHash signature members (0..numHashes-1) and the
    * shingle-combination constants (100..102), so the Bloom positions are
    * independent of every other derived hash in the engine. */
  private val BloomFamilyBase = 200

  /** Bloom bitset of a benchmark's k-gram shingle hashes — the
    * decontamination scale path past [[contaminated]]'s broadcast join.
    *
    * [[contaminated]] broadcasts the benchmark's distinct gram hashes as a
    * join relation: B grams cost ~8B bytes of longs PLUS the hash-relation
    * overhead (~3-4× in practice), so a 100M-gram eval suite is a
    * multi-GB broadcast. The Bloom form compresses the same membership
    * test to `mBits/8` bytes FIXED — at the standard 16 bits/gram,
    * numHashes=4 sizing that's 200 MB for 100M grams at ~2.4e-3
    * false-positive rate — and turns the corpus-side check into a pure
    * projection ([[contaminatedBloom]]): no join in the plan at all.
    *
    * False positives are DETERMINISTIC (the bitset is a pure function of
    * the benchmark), so a run is reproducible under retries and an
    * external engine re-derives the identical flag set — the oracle
    * reproduces even the false positives bit-for-bit. False negatives:
    * none, by construction (every real benchmark gram sets its own bits),
    * so the flagged set is a superset of [[contaminated]]'s — the safe
    * direction for decontamination.
    *
    * Driver-side action is bounded: the distinct bit POSITIONS (at most
    * `mBits` longs, i.e. ≤ mBits·8 bytes) collect to the driver and fold
    * into the word array. The benchmark row bound is enforced in the
    * plan, [[contaminated]]-style, so an oversized benchmark fails the
    * collect. */
  def bloomBits(benchmark: DataFrame, toksCol: String, k: Int = 3,
      mBits: Int = 1 << 20, numHashes: Int = 4,
      maxBenchRows: Int = 1000000): Array[Long] = {
    require(mBits >= 64 && mBits % 64 == 0,
      s"bloomBits: mBits must be a positive multiple of 64, got $mBits")
    require(numHashes >= 1 && numHashes <= 16,
      s"bloomBits: numHashes out of range: $numHashes")
    val positions = Guards.atMost(benchmark, maxBenchRows,
        s"bloomBits: benchmark exceeds $maxBenchRows rows — a corpus-sized " +
          "'benchmark' is not a decontamination list; raise maxBenchRows " +
          "only if the eval side is genuinely bounded")
      .select(explode_outer(minhashFeatures(col(toksCol), k, 1)("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
      .distinct()
      .select(explode(array((0 until numHashes).map(j =>
        pmod(Stable.familyHash(col("sh"), BloomFamilyBase + j),
          lit(mBits.toLong))): _*)).as("p"))
      .distinct()
      .collect().map(_.getLong(0))
    val bits = new Array[Long](mBits / 64)
    positions.foreach(p => bits((p >>> 6).toInt) |= (1L << (p & 63)))
    bits
  }

  /** Corpus-side Bloom membership check over [[bloomBits]]' bitset: flags
    * every doc with at least `minOverlap` distinct grams whose numHashes
    * Bloom positions are ALL set. Same output contract as
    * [[contaminated]] — (idCol, n_hits) — but the plan is
    * scan → explode → codegen'd bit tests → one map-side-combined agg:
    * NO join. The word array rides the plan as a literal, which Spark
    * ships inside the torrent-broadcast task binary — one copy per
    * executor, not per task; the bit test itself is built-ins only
    * (element_at / shiftright / bit_get), fully codegen'd. */
  def contaminatedBloom(corpus: DataFrame, idCol: String, toksCol: String,
      bits: Array[Long], numHashes: Int = 4, k: Int = 3,
      minOverlap: Int = 2): DataFrame = {
    val mBits = bits.length.toLong * 64L
    val bitsLit = typedLit(bits.toSeq)
    val hit = (0 until numHashes).map { j =>
      val p = pmod(Stable.familyHash(col("sh"), BloomFamilyBase + j), lit(mBits))
      bit_get(element_at(bitsLit, shiftright(p, 6).cast("int") + 1),
        pmod(p, lit(64L)).cast("int")) === 1
    }.reduce(_ && _)
    corpus.select(col(idCol),
        explode_outer(minhashFeatures(col(toksCol), k, 1)("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
      .filter(hit)
      .groupBy(idCol).agg(count_distinct(col("sh")).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
  }

  /** Exact Jaccard similarity of two shingle-set columns (arrays must be
    * distinct): |a ∩ b| / |a ∪ b| — int/int double division, deterministic. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** SimHash over a token array: `bits`-wide signature where bit j is set
    * iff sum over tokens of ±1 (sign = bit j of the token's md5 hash) is
    * positive. Runs as the native codegen expression
    * [[graft.functions.SimhashExpr]] — one md5 per token, bit votes in a
    * registers-only loop, no explode, NO SHUFFLE: this is the scale path
    * every composed operator uses. Null for an empty token array (0 is a
    * legitimate signature, so it cannot mark emptiness — the
    * [[simhashStore]] rationale). Bit-equal to [[simhash]], the canonical
    * explode + keyed-agg chain the q29 oracle is written against
    * (pinned in TextDedupSpec). */
  def simhashColumn(toks: Column, bits: Int, part: Int = 0): Column =
    graft.functions.SimhashExpr.simhash(toks, bits, part)

  /** SimHash via explode + codegen'd hash aggregation: one md5 per token
    * (whole-stage codegen), `bits` partial-aggregable ±1 sums, one
    * map-side-combined shuffle keyed by `idCol`, final bit-fold as a cheap
    * projection. The CANONICAL chain the q29 oracle checks; composed
    * operators use the shuffle-free [[simhashColumn]] projection instead
    * (bit-equal, pinned in TextDedupSpec; note this form DROPS
    * empty-token docs via its inner explode where the projection yields
    * null). */
  def simhash(df: DataFrame, idCol: String, toksCol: String, bits: Int,
      out: String = "simhash"): DataFrame = {
    require(bits > 0 && bits <= 60, "simhash supports 1..60 bits")
    val exploded = df.select(col(idCol), explode(col(toksCol)).as("__t"))
      .select(col(idCol), Stable.hash64(col("__t")).as("__h"))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"__c$j")
    }
    exploded.groupBy(idCol).agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until bits).map { j =>
          when(col(s"__c$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as(out))
  }

  /** Deterministic event-time dedup — the batch twin of
    * [[graft.streaming.Streaming.dedupStream]]: keep each key's EARLIEST
    * row by (tsCol, tieCol) and count the suppressed duplicates as
    * `n_dups`. The tie-break column makes the result well-defined where
    * the streaming form keeps whichever duplicate ARRIVED first; on an
    * event-time-ordered replay the two agree (StreamingSpec).
    *
    * Per-key window — scale-safe in the event-log shape (many keys, few
    * rows per key). For corpus-scale dedup on a possibly-skewed content
    * key, use [[exact]] instead — see its skew note. */
  def firstPerKey(df: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("__rn",
        row_number().over(byKey.orderBy(col(tsCol), col(tieCol))))
      .withColumn("n_dups", count(lit(1)).over(byKey))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Hamming distance between two simhash values (for near-dup banding). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("bigint")

  /** Banded rows of a simhash column — [[banded]]'s Hamming analog:
    * (idCol, simCol, band, bval) with the one-long signature riding
    * along, so a consumer verifying by [[hammingDistance]] filters the
    * joined row instead of rejoining ([[graft.text.Curation.admitSimhash]]).
    * Band extraction is a pure bit-shift projection. */
  def simhashBanded(df: DataFrame, idCol: String, simCol: String,
      bands: Int, bitsPerBand: Int): DataFrame =
    df.select(col(idCol), col(simCol),
      posexplode(array((0 until bands).map { b =>
        shiftright(col(simCol), b * bitsPerBand).bitwiseAND(lit((1L << bitsPerBand) - 1))
      }: _*)).as(Seq("band", "bval")))

  /** Banded SimHash near-dup pairs — the [[simhash]] family's analog of
    * [[lshCandidates]]+verify: split the signature into `bands` contiguous
    * `bitsPerBand`-bit bands; docs agreeing on ANY band are candidates
    * (pigeonhole: a pair within Hamming `bands - 1` MUST agree on at least
    * one band, so recall is exactly 1 for `maxHamming <= bands - 1` —
    * asserted by the `require`); verify exact [[hammingDistance]] <=
    * `maxHamming`. Output: (id1, id2, hamming), id1 < id2.
    *
    * Scale shape, same as the MinHash path: band extraction is a pure
    * bit-shift projection, the candidate join is key-partitioned on
    * (band, band value) — never all-pairs — and the pair dedup + verify
    * rejoin carry ids and one bigint each.
    *
    * SIZING (the [[graft.ann.Ann.nearDupPairs]] rule, Hamming edition):
    * candidate volume is quadratic in bucket occupancy n / 2^bitsPerBand,
    * so `bitsPerBand` must grow with log2(n) — widen the SIGNATURE
    * (simhash supports up to 60 bits) rather than shrinking the band
    * count, because the `bands - 1` Hamming guarantee is what the band
    * count buys. 4 × 8-bit bands suit ~10^3 docs; 4 × 15-bit bands
    * (60-bit simhash) hold occupancy O(1) to ~10^6 per partition-sized
    * corpus slice; beyond that, 64-bit+ signatures via two packed longs.
    * Undersized banding (or skipped exact dedup) fails loudly at runtime
    * via the shared `maxBucket` occupancy guard ([[nearPairs]]). */
  def simhashNearDup(df: DataFrame, idCol: String, simCol: String,
      bands: Int, bitsPerBand: Int, maxHamming: Int,
      maxBucket: Int = 100000): DataFrame = {
    require(maxHamming <= bands - 1,
      s"banding with $bands bands only guarantees recall for Hamming <= ${bands - 1}, " +
        s"got maxHamming=$maxHamming (raise bands or lower maxHamming)")
    // bitsPerBand = 0 is the q220 AUTO sentinel: derive the band width
    // from the corpus cardinality (one bit per corpus doubling), capped
    // at what the 60-bit signature can carry for this band count. An
    // eager bounded count, the resolvePlanes contract.
    require(bitsPerBand >= 0,
      s"simhashNearDup: bitsPerBand must be >= 1, or 0 to auto-derive, got $bitsPerBand")
    val bpb =
      if (bitsPerBand > 0) bitsPerBand
      else math.min(60 / bands, graft.ann.Ann.planesForOccupancy(
        math.max(1L, df.count())))
    nearPairs(PairFamily(simhashBanded(df, idCol, simCol, bands, bpb), idCol, Nil,
      Seq("band", "bval"), "simhashNearDup: bucket", ExactFirst, maxBucket,
      verify = Some(PairVerify(df, idCol, (Seq(col(simCol).as("s1")), Seq(col(simCol).as("s2"))),
        Seq(hammingDistance(col("s1"), col("s2")).as("hamming")),
        col("hamming") <= maxHamming))))
  }

  /** WIDE-signature banded SimHash near-dup — the scale tier
    * [[simhashNearDup]]'s sizing scaladoc names ("beyond that, 64-bit+
    * signatures via two packed longs"): two independent 60-bit simhash
    * parts (both halves of each token's ONE md5 digest —
    * [[graft.functions.Hash64Expr.hashPair]]'s windows, so the wide
    * signature costs no extra hashing), bands split across the parts
    * (first half over part 0, rest over part 1), hamming verified over
    * the full 120 bits. Same pigeonhole recall contract: a pair within
    * Hamming `bands - 1` over ALL counted bits must agree on at least
    * one band — diffs OUTSIDE the banded bit ranges only consume
    * hamming budget without crowding a band, so partial coverage
    * (bands·bitsPerBand < 120) keeps recall 1 for
    * `maxHamming <= bands - 1`.
    *
    * Why it exists, measured: a 60-bit signature caps 4-band banding at
    * 15 bits/band, and on a corpus whose token distributions overlap
    * (so the simhash MIDDLE bits are low-entropy) the hot band values
    * stop splitting — the q52 fixture at sf1 measures 27.5M candidate
    * pairs at 4×15 bits (max occupancy 2847) vs 2.86M at this tier's
    * 4×25 bits over 120 bits (max occupancy 784): 9.6× less quadratic
    * work from wider, higher-entropy bands. Output and scale shape are
    * [[simhashNearDup]]'s: (id1, id2, hamming), id1 < id2; band
    * extraction a pure projection, candidate join key-partitioned on
    * (band, band value) with the shared occupancy guard, ids-only pair
    * dedup, two signature rejoins for the verify. */
  def simhashNearDupWide(df: DataFrame, idCol: String,
      sim0Col: String, sim1Col: String,
      bands: Int, bitsPerBand: Int, maxHamming: Int,
      maxBucket: Int = 100000): DataFrame = {
    require(bands >= 2, s"wide banding needs bands >= 2, got $bands")
    require(maxHamming <= bands - 1,
      s"banding with $bands bands only guarantees recall for Hamming <= ${bands - 1}, " +
        s"got maxHamming=$maxHamming (raise bands or lower maxHamming)")
    val b0 = (bands + 1) / 2 // part-0 bands; part 1 carries the rest
    // bitsPerBand = 0 is the q220 AUTO sentinel (one bit per corpus
    // doubling, capped at the per-part budget) — see simhashNearDup.
    val bpb =
      if (bitsPerBand > 0) bitsPerBand
      else math.min(60 / b0, graft.ann.Ann.planesForOccupancy(
        math.max(1L, df.count())))
    require(bpb >= 1 && bpb * b0 <= 60,
      s"$b0 bands x $bpb bits exceed one 60-bit part " +
        s"(need bitsPerBand <= ${60 / b0})")
    val mask = lit((1L << bpb) - 1)
    val banded = df.select(col(idCol),
      posexplode(array((0 until bands).map { b =>
        if (b < b0) shiftright(col(sim0Col), b * bpb).bitwiseAND(mask)
        else shiftright(col(sim1Col), (b - b0) * bpb).bitwiseAND(mask)
      }: _*)).as(Seq("band", "bval")))
    nearPairs(PairFamily(banded, idCol, Nil, Seq("band", "bval"),
      "simhashNearDupWide: bucket", ExactFirst, maxBucket,
      verify = Some(PairVerify(df, idCol,
        (Seq(col(sim0Col).as("__s0a"), col(sim1Col).as("__s1a")),
          Seq(col(sim0Col).as("__s0b"), col(sim1Col).as("__s1b"))),
        Seq((hammingDistance(col("__s0a"), col("__s0b")) +
          hammingDistance(col("__s1a"), col("__s1b"))).as("hamming")),
        col("hamming") <= maxHamming))))
  }

  /** Tier + band width for a banded simhash near-dup over an `nDocs`
    * corpus — the q52-vs-q222 crossover as derived BEHAVIOR instead of
    * README knowledge (VERDICT r12 #6), by
    * [[graft.ann.Ann.planesForOccupancy]]'s integer-exact rule: per-band
    * bucket occupancy is ~ n / 2^bitsPerBand, so holding it at
    * `targetOccupancy` across corpus growth means one extra bit per
    * corpus doubling. The narrow 60-bit signature carries at most
    * 60/bands bits per band; when the derived width exceeds that cap,
    * the call crosses to the WIDE two-part 120-bit tier (ceil(bands/2)
    * bands per part, cap 60/ceil(bands/2)) — at the default 4 bands and
    * target 16 that boundary is n > 16·2^15 ≈ 5×10⁵, the measured
    * "wide at ≥10⁵-docs-per-slice" README rule made exact. Returns
    * (wide?, bitsPerBand), the width clamped to the chosen tier's cap
    * (the occupancy GUARD still backs corpora past the wide cap). */
  def simhashBandsForCorpus(nDocs: Long, bands: Int = 4,
      targetOccupancy: Long = 16): (Boolean, Int) = {
    require(bands >= 2 && bands <= 60,
      s"simhashBandsForCorpus: need bands in [2, 60], got $bands")
    val want = graft.ann.Ann.planesForOccupancy(math.max(1L, nDocs), targetOccupancy)
    val narrowCap = 60 / bands
    if (want <= narrowCap) (false, math.max(1, want))
    else (true, math.min(60 / ((bands + 1) / 2), want))
  }

  /** Auto-tiered banded SimHash near-dup over a TOKEN column: counts the
    * corpus once (eager bounded action, the resolvePlanes contract),
    * picks narrow-vs-wide and the band width via
    * [[simhashBandsForCorpus]], computes the signature(s) in the
    * codegen projection ([[simhashColumn]] — the wide tier's second
    * 60-bit part is the other half of the SAME md5 digest, so it costs
    * no extra hashing), and dispatches to [[simhashNearDup]] /
    * [[simhashNearDupWide]]. Output schema is theirs: (id1, id2,
    * hamming), id1 < id2 — note `hamming` is measured over the chosen
    * tier's signature (60 or 120 bits), which is the tier contract, not
    * a bug: the pigeonhole recall bound `maxHamming <= bands - 1` holds
    * in both. Empty-token docs are dropped (null signature), as in
    * every composed simhash chain. */
  def simhashNearDupAuto(df: DataFrame, idCol: String, toksCol: String,
      bands: Int = 4, maxHamming: Int = 3, targetOccupancy: Long = 16,
      maxBucket: Int = 100000): DataFrame = {
    val (wide, bpb) = simhashBandsForCorpus(
      math.max(1L, df.count()), bands, targetOccupancy)
    if (!wide) {
      val sh = df.select(col(idCol),
          simhashColumn(col(toksCol), 60, part = 0).as("__s0"))
        .filter(col("__s0").isNotNull)
      simhashNearDup(sh, idCol, "__s0", bands, bpb, maxHamming, maxBucket)
    } else {
      val sh = df.select(col(idCol),
          simhashColumn(col(toksCol), 60, part = 0).as("__s0"),
          simhashColumn(col(toksCol), 60, part = 1).as("__s1"))
        .filter(col("__s0").isNotNull)
      simhashNearDupWide(sh, idCol, "__s0", "__s1", bands, bpb,
        maxHamming, maxBucket)
    }
  }

  /** Generic candidate-key occupancy card — [[graft.ann.Ann
    * .bucketOccupancyCard]]'s histogram for ANY banded candidate family
    * (winnowing fingerprints, minhash band buckets, simhash bands,
    * linkage block keys): feed it the exploded candidate-key stream a
    * pair join would group on, get back one row per observed occupancy —
    * (occupancy, n_buckets, pair_share_ppm) where pair_share_ppm is the
    * class's share of the quadratic pair work Σ occ·(occ−1)/2. Reads
    * the same way everywhere: cost in the typical occupancy means
    * re-tune the key width (bits / window / shingle size — one
    * doubling-resolution step per corpus doubling, the
    * planesForOccupancy rule); cost in a few hot keys means dedup exact
    * clones first / rely on the raise_error guards.
    *
    * Scale shape: one key-grouped count agg (map-side combined), then
    * aggs over the BOUNDED occupancy table; all-LONG arithmetic with
    * the q219 headroom argument. */
  def keyOccupancyCard(keyed: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyOccupancyCard: need at least one key column")
    val occ = keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("occupancy"))
    val hist = occ.groupBy("occupancy").agg(count(lit(1)).as("n_buckets"))
      .withColumn("__p", expr("occupancy * (occupancy - 1) div 2 * n_buckets"))
    val tot = hist.agg(sum(col("__p")).as("__tp"))
    hist.crossJoin(broadcast(tot))
      .select(col("occupancy"), col("n_buckets"),
        when(col("__tp") <= 0L, lit(0L))
          .otherwise(expr("__p * 1000000 div __tp")).as("pair_share_ppm"))
  }

  // ------------------------------------------------- incremental admission

  /** Estimated Jaccard similarity from two MinHash signatures: the
    * fraction of agreeing components (its expectation IS the true Jaccard
    * — the MinHash identity). This is the verify step when the original
    * text is gone and only signatures were retained (the incremental
    * [[signatureStore]] case); the estimate's stderr is
    * ~sqrt(j(1-j)/numHashes), so size `numHashes` to the decision margin
    * (8 components resolve 0.5-vs-0.9; admission gates near 0.5 on a
    * production corpus want 64+). Interpreted HOF — fine here because it
    * runs per CANDIDATE PAIR (post-banding), never per corpus row. */
  def sigAgreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)).cast("double") /
      size(a).cast("double")

  /** The signature store — the artifact an incremental pipeline retains
    * per curated document so FUTURE batches can dedup against the corpus
    * without re-reading it: (idCol, xkey, sig) where `xkey` is the exact
    * dedup key (md5 of the 40-char text prefix, [[graft.text.Curation]]'s
    * convention) and `sig` the `numHashes`-component MinHash signature
    * over hashed k-shingles. Rows whose token array is empty keep a null
    * `sig` (nothing to shingle) — [[graft.text.Curation.admit]]'s near
    * tier ignores them and exact matching still applies.
    *
    * PURE PROJECTION: the shingle math is [[shingleHashes]]' (same fold,
    * same family constants — the q60 oracle and AdmitSpec pin the
    * bit-equality) fused per-row by [[minhashFeatures]], so the store
    * build is one scan with NO explode, NO window, NO shuffle at all —
    * empty-token docs keep their null signature straight from the
    * expression. (The previous fused form still shuffled the exploded
    * token stream through a per-doc window.)
    *
    * Scale shape: at 100 TB the store is ~1/1000th the corpus bytes and
    * should be written bucketed by `xkey` (and optionally pre-banded) so
    * admission joins co-locate without reshuffling the store.
    *
    * This store is MinHash: its near-dup verify is [[sigAgreement]]
    * (estimated Jaccard from retained signatures — the original text is
    * gone), and MinHash is the sketch whose component-agreement IS an
    * unbiased Jaccard estimator. Corpora that dedup by Hamming distance
    * instead ([[simhashNearDup]]) retain [[simhashStore]]'s one-long
    * signature and admit via
    * [[graft.text.Curation.admitSimhash]] — same staging, Hamming
    * verify. */
  def signatureStore(docs: DataFrame, idCol: String, textCol: String,
      toksCol: String, numHashes: Int = 8, k: Int = 3): DataFrame =
    docs.select(col(idCol),
      md5(substring(col(textCol), 1, 40).cast("string")).as("xkey"),
      minhashFeatures(col(toksCol), k, numHashes)("sig").as("sig"))

  /** [[signatureStore]] at SimHash parity — the retention artifact for a
    * Hamming-based corpus: (idCol, xkey, simhash) with `xkey` the exact
    * dedup key and `simhash` the `bits`-bit signature ([[simhash]]'s
    * math). Zero-token docs keep a null simhash — a doc whose every
    * bit-count is non-positive legitimately hashes to 0, so 0 cannot
    * mark emptiness; the null is what [[graft.text.Curation.admitSimhash]]
    * filters before banding. PURE PROJECTION via [[simhashColumn]]
    * ([[signatureStore]]'s shape): one scan, no explode, no shuffle —
    * the null signature comes straight from the expression; bit-equal to
    * the canonical [[simhash]] chain (AdmitSpec pins it on the real
    * corpus). */
  def simhashStore(docs: DataFrame, idCol: String, textCol: String,
      toksCol: String, bits: Int = 60): DataFrame =
    docs.select(col(idCol),
      md5(substring(col(textCol), 1, 40)).as("xkey"),
      simhashColumn(col(toksCol), bits).as("simhash"))

  /** The exact tier's [[graft.sources.Store]] layout: (idCol, xkey,
    * sigCol) rows of a [[signatureStore]], [[simhashStore]] or
    * [[graft.ann.Ann.embeddingStore]], bucketed AND sorted by xkey.
    * Admission's exact-cross anti-join then reads the store's buckets in
    * place: HashPartitioning on xkey satisfies the join's distribution,
    * so only the small batch side shuffles (StoreSpec pins the plan). At
    * 100 TB the store is the big, stable side of every admission join,
    * so this is the difference between re-shuffling the corpus's
    * signatures per batch and never moving them at all. */
  def exactStore(sigCol: String = "sig", idCol: String = "doc_id"): StoreKind =
    StoreKind("exact", _.select(idCol, "xkey", sigCol), Seq("xkey"), sorted = true)

  /** The near join's store layout: the store's [[banded]] rows (band,
    * bkey, doc_id, sig), bucketed by the FULL (band, bkey) join key.
    * Admission's store-side near join then reads buckets in place;
    * without it, every admitted batch re-shuffles the corpus-sized
    * banded signature stream (bands × corpus rows), which at 100 TB
    * dwarfs the batch itself. Pass `Store.read(spark, table)` to
    * [[graft.text.Curation.admit]]'s `storeBands`; AdmitSpec pins both
    * the plan and the equal-results-with-the-fused-path property. */
  def bandStore(bands: Int, rowsPerBand: Int): StoreKind =
    StoreKind("bands", df => banded(df.filter(col("sig").isNotNull), "doc_id",
        "sig", bands, rowsPerBand, "bandStore")
      .select(col("band"), col("bkey"), col("doc_id"), col("sig")),
      Seq("band", "bkey"), sorted = false)

  /** [[bandStore]] at SimHash parity: the store's [[simhashBanded]] rows
    * (band, bval, doc_id, simhash) bucketed by the FULL (band, bval)
    * join key, for [[graft.text.Curation.admitSimhash]]'s `storeBands`. */
  def simhashBandStore(bands: Int, bitsPerBand: Int): StoreKind =
    StoreKind("simhash_bands", df => simhashBanded(
        df.filter(col("simhash").isNotNull), "doc_id", "simhash", bands, bitsPerBand)
      .select(col("band"), col("bval"), col("doc_id"), col("simhash")),
      Seq("band", "bval"), sorted = false)
}
