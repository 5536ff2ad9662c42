package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.Guards
import graft.sources.{SplitSource, StoreKind}
import graft.transform.Cache

/** The flagship five-stage LLM-corpus curation pipeline, as a first-class
  * composition of the engine's own operators: language gate (stopword
  * argmax) → quality gate (token floor) → exact dedup (40-char-prefix
  * hash, min id kept) → MinHash/LSH near-dup removal (greedy: every
  * pair's higher id dropped) → distributed token packing. The reference's
  * converter story ends the same way — a curated artifact on disk fed back
  * into the training loop (fuel/converters/base.py:50-104 `fill_hdf5_file`
  * → fuel/datasets/base.py:83-95) — which [[materialize]] closes here.
  *
  * Scale shape: gates are pure codegen projections; both dedups are
  * key-partitioned bucket joins with loud-fail degeneration guards; the
  * final pack is the distributed prefix sum (never a single-partition
  * window). PlanSpec pins the corpus scan count so the [[Reuse]] choice
  * below stays a conscious number.
  *
  * Beyond the single-run chain ([[curateFull]]), the object carries the
  * pipeline's OPERATIONAL surface: [[report]] (per-stage counts),
  * [[admit]] (incremental admission of new batches against a frozen
  * corpus's signature store), and [[mix]] (deterministic domain mixing
  * to a token budget).
  */
object Curation {

  /** Reuse policy for a multi-consumer frame: re-derive it per consumer,
    * or materialize it once and share it. The trade (README "Recompute vs
    * persist", measured at sf0.1):
    *   - [[Recompute]] wins while N·(re-derivation) < materialize + N·read.
    *     The chain entry points ([[curatedDocs]], [[curate]],
    *     [[materialize]], [[materializeTokens]]) always recompute the
    *     gated frame, which feeds ~5 consumers (the exact-dedup key build,
    *     the exact-kept join, the shingle rows for signatures, and both
    *     sides of the Jaccard verify join): its gates are cheap codegen
    *     over a scan of 2 pruned columns.
    *   - [[Persist]] materializes via the [[Cache]] transformer. It wins
    *     once the re-derivation dominates — wide rows, remote storage, or
    *     a stage too expensive to re-run: [[curateFull]] persists its
    *     regex scrub and [[nearDedupedGrouped]] its MinHash features.
    * Only [[nearDeduped]] takes the policy as a parameter, because its
    * callers differ: [[dedupe]] persists the feature frame, while
    * [[report]] and [[reportPublished]] recompute it from a stage they
    * have already cached.
    */
  sealed trait Reuse
  case object Recompute extends Reuse
  case object Persist extends Reuse

  /** Stage 0: scrub — PII redaction ([[TextOps.redact]]) THEN text
    * normalization ([[TextOps.normalize]]), in that order: normalization
    * strips the `@`/digit structure the redaction rules key on, so
    * redact-first is the only order in which both stages fire. Emits
    * (doc_id, text, ts) with `text` the scrubbed form and `ts` its
    * whitespace tokens — the shape every downstream stage consumes.
    * Pure codegen projection; free to push past joins. */
  def scrub(docs: DataFrame,
      rules: Seq[(String, String)] = TextOps.DefaultRedactions): DataFrame =
    docs.select(col("doc_id"),
        TextOps.normalize(TextOps.redact(col("text"), rules)).as("text"))
      .withColumn("ts", TextOps.tokens(col("text")))

  /** Stage 0 in the PUBLISHED pipeline order ([[curatePublished]]): PII
    * redaction first ([[scrub]]'s ordering argument), then CCNet-style
    * LINE-level boilerplate removal on the still-line-structured text —
    * [[TextOps.dedupLines]] MUST run before [[TextOps.normalize]], whose
    * character classes collapse the newlines the line scrubber keys on —
    * then normalization + tokenization. Emits the (doc_id, text, ts)
    * shape [[gate]] consumes. Docs whose every line was corpus-wide
    * boilerplate drop here (they had no content).
    *
    * Scale shape: [[TextOps.dedupLines]]' broadcast-anti-join form plus
    * two pure projections; the per-doc reassembly groupBy is the only
    * shuffle. */
  def scrubLines(docs: DataFrame,
      rules: Seq[(String, String)] = TextOps.DefaultRedactions,
      maxLineOccurrences: Long = 1): DataFrame = {
    val redacted = docs.select(col("doc_id"),
      TextOps.redact(col("text"), rules).as("text"))
    TextOps.dedupLines(redacted, "doc_id", "text", maxLineOccurrences, out = "text")
      .select(col("doc_id"), TextOps.normalize(col("text")).as("text"))
      .withColumn("ts", TextOps.tokens(col("text")))
  }

  /** Stage 2b in the published order: the Gopher-style repetition gate —
    * drop docs whose most-frequent-2-gram share or duplicate-3-gram
    * share exceeds the thresholds ([[TextOps.repetitionColumns]]' two
    * signals, the published duplicate-n-gram corpus rules). Runs on
    * [[gate]] survivors: the language/token-floor gates are pure codegen
    * projections, so they go first and the explode + aggs here only see
    * docs that already cleared them. Docs with fewer than 3 tokens have
    * no repetition row and drop — subsumed by the token floor upstream.
    *
    * Scale shape: a PURE FILTER — the signals come from
    * [[graft.functions.RepetitionStatsExpr]] (per-doc counts in-row), so
    * the gate is a projection + filter with no join and no shuffle,
    * exactly like the language/token-floor gates it composes with. (The
    * previous form joined the survivor ids back — a doc-keyed self-join
    * whose signal side shuffled one row per corpus gram.) The fraction
    * comparisons are the same int/int double divisions
    * [[TextOps.repetitionColumns]] exposes, so gate and q65 signal agree
    * bit-for-bit. */
  def repetitionGate(docs: DataFrame, maxTop2GramFrac: Double = 0.15,
      maxDup3GramFrac: Double = 0.15): DataFrame =
    docs.withColumn("__rs",
        graft.functions.RepetitionStatsExpr.repetitionStats(col("ts")))
      .filter(element_at(col("__rs"), 3) > 0 &&
        (element_at(col("__rs"), 2).cast("double") /
          element_at(col("__rs"), 1).cast("double")) <= maxTop2GramFrac &&
        (element_at(col("__rs"), 4).cast("double") /
          element_at(col("__rs"), 3).cast("double")) <= maxDup3GramFrac)
      .drop("__rs")

  /** Stages 1–2: language gate (stopword argmax = `lang`) + quality gate
    * (token floor). Pure projections over (doc_id, text, ts); `carry`
    * columns (e.g. a snapshot key for [[curateFineWeb]]) ride through. */
  def gate(docs: DataFrame, lang: String = "en", minTokens: Int = 30,
      carry: Seq[String] = Nil): DataFrame =
    docs.select(Seq(col("doc_id"), col("text"), col("ts")) ++ carry.map(col) ++
        TextOps.langId(col("ts")) ++ TextOps.qualityColumns(col("text"), col("ts")): _*)
      .filter(col("lang_pred") === lang && col("n_tokens") >= minTokens)
      .select(("doc_id" +: "text" +: "ts" +: carry).map(col): _*)

  /** Stage 3 alone: exact dedup (40-char-prefix hash, min id kept).
    * Survivors keep (doc_id, text, ts). */
  def exactDeduped(gated: DataFrame): DataFrame = {
    val keep = Dedup.exact(gated, col("doc_id"), substring(col("text"), 1, 40))
      .select(col("keep_id").as("doc_id"))
    gated.join(keep, "doc_id")
  }

  /** Stages 3–4: exact dedup then MinHash/LSH near-dup removal (4 bands ×
    * 2 rows, Jaccard ≥ 0.5, higher id of each verified pair dropped).
    * Survivors keep (doc_id, text, ts). */
  def dedupe(gated: DataFrame): DataFrame = nearDeduped(exactDeduped(gated))

  /** Stage 4 alone: MinHash/LSH near-dup removal over an exact-deduped
    * frame ([[exactDeduped]] first — the enforced ordering rule).
    *
    * Signatures and shingle sets come from [[Dedup.minhashFeatures]] —
    * a pure projection, so the corpus token stream never shuffles: the
    * previous canonical-chain form paid a per-doc window shuffle of the
    * exploded token stream once per consumer (signature mins + both
    * verify-join sides = three). The only exchanges left are the band
    * bucket join and the candidate verify joins, which are genuinely
    * relational.
    *
    * The feature frame PERSISTS by default — the opposite call from the
    * chain's scan-reuse rule, and for the measured reason: this is not
    * a narrow cheap projection but ~2n md5 digests per doc feeding
    * THREE consumers (sig mins + both verify-join sides), and the
    * verify joins shuffle the shingle arrays regardless, so persisting
    * trades one cached write for two full re-hashings of the corpus
    * (sf0.1 stage probe: 3.4 s → 2.6 s for the stage; the win
    * compounds across every chain that embeds this stage). At 100 TB
    * the cache is corpus-token-scale — MEMORY_AND_DISK absorbs it; pass
    * `reuse = Recompute` when executor disk, not CPU, is the bound. */
  def nearDeduped(exactKept: DataFrame, reuse: Reuse = Persist): DataFrame = {
    val feat0 = exactKept
      .select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("__mf"))
      .filter(col("__mf").isNotNull)
    val feat = reuse match {
      case Persist => Cache()(feat0)
      case Recompute => feat0
    }
    val shSets = feat.select(col("doc_id"), col("__mf")("shingles").as("sh"))
    val sig = feat.select(col("doc_id"), col("__mf")("sig").as("sig"))
    val cand = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 4, rowsPerBand = 2)
    val dropIds = cand
      .join(shSets.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(shSets.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .filter(Dedup.jaccard(col("sh1"), col("sh2")) >= 0.5)
      .select(col("id2").as("doc_id")).distinct()
    exactKept.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** [[nearDeduped]] SHARDED by `groupCol` — candidate pairs form only
    * within a shard ([[graft.dedup.Dedup.lshCandidatesGrouped]]'s
    * semantics: the group value rides the bucket join key, so
    * cross-shard collisions never meet and the occupancy guard counts
    * per shard). The ordering rule still applies, per shard: exact
    * dedup first, keyed on (group, content-key). */
  def nearDedupedGrouped(exactKept: DataFrame, groupCol: String): DataFrame = {
    // persisted, for the same three-consumer rationale as [[nearDeduped]]
    val feat = Cache()(exactKept
      .select(col("doc_id"), col(groupCol), Dedup.minhashFeatures(col("ts")).as("__mf"))
      .filter(col("__mf").isNotNull))
    val shSets = feat.select(col("doc_id"), col("__mf")("shingles").as("sh"))
    val sig = feat.select(col("doc_id"), col(groupCol), col("__mf")("sig").as("sig"))
    val cand = Dedup.lshCandidatesGrouped(sig, "doc_id", "sig", groupCol,
      bands = 4, rowsPerBand = 2)
    val dropIds = cand
      .join(shSets.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(shSets.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .filter(Dedup.jaccard(col("sh1"), col("sh2")) >= 0.5)
      .select(col("id2").as("doc_id")).distinct()
    exactKept.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Optional stage 4b — SemDeDup-style semantic dedup between near-dup
    * removal and packing: drop the higher id of every within-cluster
    * embedding pair at cosine >= `threshold` among the survivors
    * ([[graft.ann.Ann.semanticDedupPairs]]). The quantizer is
    * corpus-trained — centroids sample the FULL embedding table — so
    * gating upstream doesn't move the cluster boundaries.
    *
    * `embeddings` rows are (vec_id, embedding) with vec_id == doc_id;
    * survivors without an embedding pass through (they can't pair). The
    * machinery is verified hash-exact with planted clones in q55; this
    * composition is spec-tested in CurationSpec (organic synthetic data
    * has no pair above ~0.51, so the stage is a checked no-op there). */
  def semanticDedupe(survivors: DataFrame, embeddings: DataFrame,
      threshold: Double = 0.99, seed: Long = 42, nCentroids: Int = 16): DataFrame = {
    val cents = graft.ann.Ann.sampleCentroids(embeddings, "vec_id", "embedding",
      seed, nCentroids)
    val se = embeddings.select(col("vec_id"), col("embedding"))
      .join(survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val drop = graft.ann.Ann
      .semanticDedupPairs(se, "vec_id", "embedding", threshold, cents)
      .select(col("id2").as("doc_id")).distinct()
    survivors.join(drop, Seq("doc_id"), "left_anti")
  }

  /** The curated survivor set (doc_id, text, ts). The multi-consumer
    * gated frame is [[Recompute]]d, not persisted (see [[Reuse]]). */
  def curatedDocs(docs: DataFrame): DataFrame = dedupe(gate(docs))

  /** Stage 4c — benchmark decontamination ([[Dedup.contaminated]]):
    * drop survivors sharing >= `minOverlap` distinct k-shingles with the
    * evaluation set. `benchmark` must carry (doc_id, ts) tokenized the
    * same way as the corpus (run it through [[scrub]] when the corpus
    * is scrubbed — eval prompts carry the same formatting noise).
    * The eval side is broadcast by [[Dedup.contaminated]]'s contract.
    *
    * Redaction-token-overlap caveat: redaction rewrites distinct PII to
    * IDENTICAL tokens (`<email>`, `<num>`), so a shared template ("contact
    * X ref Y" boilerplate) scrubs to the same k-shingles in every doc —
    * and if any eval doc carries it too, decontamination flags the whole
    * corpus. That is the operator working as specified (the overlap is
    * real post-scrub); mitigate by raising `minOverlap` above the
    * boilerplate shingle count or by decontaminating on pre-redaction
    * text. q59 demonstrates the safe shape: isolated redaction tokens
    * never form a fully-boilerplate k-shingle. */
  def decontaminate(survivors: DataFrame, benchmark: DataFrame,
      k: Int = 3, minOverlap: Int = 2): DataFrame =
    survivors.join(
      Dedup.contaminated(survivors, "doc_id", "ts",
          benchmark, "doc_id", "ts", k, minOverlap)
        .select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** The curation run REPORT — per-stage survivor and token counts for
    * the [[curateFull]] chain, the artifact an operator reads after every
    * production run (and the one that catches a mis-sized gate or a
    * dedup gone degenerate before the corpus freezes). One row per
    * stage: (stage, n_docs, n_tokens), stage names prefixed for stable
    * ordering.
    *
    * Scale shape: each stage's stat is one map-side-combined aggregate
    * producing a single row; the staged frames persist once each (they
    * feed both their stat and the next stage), so the chain executes
    * exactly once — the report costs five one-row aggs on top of the
    * run it describes. */
  def report(docs: DataFrame, benchmark: DataFrame,
      k: Int = 3, minOverlap: Int = 2): DataFrame = {
    val scrubbed = Cache()(scrub(docs))
    val gated = Cache()(gate(scrubbed))
    val ex = Cache()(exactDeduped(gated))
    // Recompute, not Persist, for the feature frame HERE: the report
    // already caches every stage boundary, so feat's three consumers
    // re-project from the in-memory `ex` rows — cheaper than writing
    // the corpus-scale shingle arrays to a second cache (measured at
    // sf0.1: the persist default cost q68 ~+1 s; the chain queries,
    // whose ex is not a cached stage, measure the opposite).
    val nd = Cache()(nearDeduped(ex, Recompute))
    val clean = decontaminate(nd, scrub(benchmark), k, minOverlap)
    def stat(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("ts")).cast("bigint")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    stat("0_scrubbed", scrubbed)
      .unionByName(stat("1_gated", gated))
      .unionByName(stat("2_exact_dedup", ex))
      .unionByName(stat("3_near_dedup", nd))
      .unionByName(stat("4_decontaminated", clean))
  }

  /** The COMPLETE published curation chain, composed end-to-end:
    * scrub (redact → normalize) → language gate → quality gate → exact
    * dedup → MinHash/LSH near-dup removal → benchmark decontamination →
    * token packing. This is [[curate]] plus the stages a production run
    * cannot skip — PII scrubbing before anything hashes the text, and
    * eval-set decontamination after dedup, before the corpus is frozen
    * into sequences (the reference's analog is the default transformer
    * chain folding, fuel/datasets/base.py:83-95).
    *
    * `docs` and `benchmark` are RAW (doc_id, text); both sides scrub
    * identically so shingle overlap is computed on the text that
    * actually packs. Output: q51's shape — (doc_id, n_tokens,
    * tok_offset, first_seq, last_seq) over the curated survivors. */
  def curateFull(docs: DataFrame, benchmark: DataFrame, seqLen: Int = 512,
      k: Int = 3, minOverlap: Int = 2): DataFrame = {
    // Two cache boundaries, each with its own reason (stage-timed at
    // sf0.1/local[32] — the full chain went 17.2 s → ~4 s):
    //
    // 1. The SCRUB output is what caches — not the gated frame. The
    //    gate's filter predicate is substituted through the projection
    //    by predicate pushdown, and filter codegen does no
    //    subexpression elimination, so every reference in the predicate
    //    re-evaluates the `ts` tree it was substituted with. With scrub
    //    inlined that tree is 4 regex passes + a split PER REFERENCE
    //    (measured: gate alone 3.7-7.2 s); with scrub cached, `ts` is an
    //    in-memory ATTRIBUTE and the same predicate costs 0.9 s. q51
    //    ([[curate]]) recomputes because its `ts` is one regex-free split.
    //
    // 2. The survivor frame persists UNCONDITIONALLY: it feeds three
    //    consumers (decontamination's shingle stream, its anti-join, and
    //    the pack), and unlike the projection-lineage trade the [[Reuse]]
    //    policy governs, its lineage holds every dedup SHUFFLE — one
    //    cache write of the chain's smallest frame beats re-executing
    //    its joins and aggregations twice over at any scale.
    val scrubbed = Cache()(scrub(docs))
    val survivors = Cache()(curatedDocs(scrubbed))
    val clean = decontaminate(survivors, scrub(benchmark), k, minOverlap)
    TextOps.packSequences(
        clean.select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens", seqLen)
      .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
  }

  /** The PUBLISHED pipeline order, fully composed — [[curateFull]]'s
    * chain with the two stages the published recipes place differently:
    * CCNet runs LINE-level dedup before any document-level stage
    * (redact → line scrub → normalize, [[scrubLines]]), and Gopher
    * applies the duplicate-n-gram repetition rules inside the quality
    * gate ([[repetitionGate]]). Full order: scrub+line dedup → language
    * gate → quality gate → repetition gate → exact dedup → MinHash/LSH
    * near-dup removal → benchmark decontamination → token packing. The
    * reference's analog is the same default-chain folding
    * (fuel/datasets/base.py:83-95) that [[curateFull]] mirrors.
    *
    * `docs` and `benchmark` are RAW (doc_id, text). The benchmark
    * scrubs WITHOUT line dedup ([[scrub]]): an eval set is small and
    * external, so corpus line statistics are not its statistics — and
    * corpus-side line dedup already removed the boilerplate shingles,
    * so eval boilerplate cannot contaminate; only CONTENT overlap
    * (which line dedup preserves) triggers decontamination.
    *
    * The scrubbed frame persists unconditionally (vs [[curateFull]]'s
    * policy choice): beyond the gate-predicate re-evaluation trap, its
    * lineage now holds [[TextOps.dedupLines]]' count shuffle and
    * reassembly groupBy — recomputing it per consumer would re-run the
    * line scrub five times. The survivor frame persists for
    * [[curateFull]]'s reason (three consumers, dedup shuffles in its
    * lineage). Output: q51/q59's packed shape. */
  def curatePublished(docs: DataFrame, benchmark: DataFrame, seqLen: Int = 512,
      k: Int = 3, minOverlap: Int = 2, maxLineOccurrences: Long = 1,
      maxTop2GramFrac: Double = 0.15, maxDup3GramFrac: Double = 0.15): DataFrame = {
    val scrubbed = Cache()(scrubLines(docs, maxLineOccurrences = maxLineOccurrences))
    // The repetition-gated frame persists too — [[dedupe]] expands it
    // into ~5 plan consumers. The gate is now a pure filter (no shuffle
    // in its lineage), but its projection is md5-heavy (one digest per
    // gram, ~2n per doc): persisting the filtered frame trades one
    // cached write for five recomputes of that hashing over the cached
    // scrub — the measured side of the q59 recompute-vs-persist rule.
    val gated = Cache()(repetitionGate(gate(scrubbed), maxTop2GramFrac, maxDup3GramFrac))
    val survivors = Cache()(dedupe(gated))
    val clean = decontaminate(survivors, scrub(benchmark), k, minOverlap)
    TextOps.packSequences(
        clean.select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens", seqLen)
      .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
  }

  /** The RefinedWeb order (Penedo et al. 2023): [[curatePublished]]'s
    * chain finished with EXACT SUBSTRING deduplication — the paper runs
    * fuzzy (MinHash) doc-level dedup first, THEN cuts duplicated
    * k-token spans corpus-wide ([[TextOps.dedupSpans]]), because span
    * cutting changes documents and must not perturb the doc-level
    * signatures it follows. Here the span stage runs over the
    * DECONTAMINATED survivors and packing sizes use the SURVIVING token
    * counts (original minus removed spans); docs cut to nothing drop.
    *
    * Scale shape: every stage keeps its own contract (the span stage
    * adds [[TextOps.dedupSpans]]' one hash-keyed ids-only shuffle); the
    * decontaminated frame persists because the span stage's occurrence
    * stream has two consumers plus the final count join. */
  def curateRefined(docs: DataFrame, benchmark: DataFrame, seqLen: Int = 512,
      k: Int = 3, minOverlap: Int = 2, maxLineOccurrences: Long = 1,
      maxTop2GramFrac: Double = 0.15, maxDup3GramFrac: Double = 0.15,
      spanK: Int = 20): DataFrame = {
    val scrubbed = Cache()(scrubLines(docs, maxLineOccurrences = maxLineOccurrences))
    val gated = Cache()(repetitionGate(gate(scrubbed), maxTop2GramFrac, maxDup3GramFrac))
    val survivors = Cache()(dedupe(gated))
    val clean = Cache()(decontaminate(survivors, scrub(benchmark), k, minOverlap))
    val spanned = TextOps.dedupSpans(clean, "doc_id", "ts", spanK)
      .select(col("doc_id"), (col("n_tokens") - col("n_removed")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
    TextOps.packSequences(spanned, "doc_id", "n_tokens", seqLen)
      .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
  }

  /** The CCNet order end-to-end (Wenzek et al. 2020) — the chain that
    * paper actually runs: line-level hash dedup ([[scrubLines]]),
    * language identification with EVERY language kept and tagged (CCNet
    * emits one corpus per language, not an English filter), then the LM
    * tier — a bigram model ([[Perplexity.bigramCounts]]) trained on a
    * REFERENCE corpus (CCNet's Wikipedia KenLM analog) scores each doc
    * and [[Perplexity.buckets]] splits each language into
    * head/middle/tail by histogram cutoffs; the TAIL bucket drops
    * (CCNet retains head+middle — the tail is where boilerplate,
    * gibberish, and mis-identified language concentrate). Token packing
    * closes the chain.
    *
    * The reference frame is RAW (doc_id, text) and scrubs through
    * [[scrub]] — the SAME normalization as the corpus: perplexity
    * against a differently-normalized LM mis-scores casing and
    * punctuation, the classic deployment bug. Model size is enforced by
    * [[Perplexity.score]]'s in-plan maxModelRows bound (the KenLM vocabulary
    * contract).
    *
    * Scale shape: the line scrub is [[curatePublished]]'s stage 0 (and
    * caches for its reason); language ID and the token floor are pure
    * projections; the LM tier adds one projection + two broadcast joins
    * + one doc-keyed map-side agg (the corpus token stream never
    * shuffles), and bucket cutoffs come from a bounded per-language
    * histogram — no corpus-wide sort anywhere ([[Perplexity.buckets]]'s
    * rationale). Output: q51's packed shape over the kept docs. */
  def curateCCNet(docs: DataFrame, reference: DataFrame, seqLen: Int = 512,
      maxLineOccurrences: Long = 1, minTokens: Int = 30,
      nBuckets: Int = 3): DataFrame = {
    val kept = ccnetBucketed(docs, reference, maxLineOccurrences, minTokens,
        nBuckets)
      .filter(col("bucket") >= 1 && col("bucket") < nBuckets)
    TextOps.packSequences(kept.select("doc_id", "n_tokens"),
        "doc_id", "n_tokens", seqLen)
      .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
  }

  /** The FineWeb order end-to-end (Penedo et al. 2024) — the chain that
    * paper actually runs, with its two ordering departures from every
    * other composed chain here:
    *
    *  1. **No normalization, PII LAST.** FineWeb preserves the extracted
    *     text through the whole pipeline and anonymizes (emails, long
    *     digit runs) only on OUTPUT — so the text that flows through
    *     gates and dedup is the raw form, and redaction cannot perturb
    *     signatures. (Every scrub-first chain here does the opposite,
    *     because normalization feeds their downstream LM/line stages;
    *     FineWeb has neither.) Consequence: [[TextOps.redact]] runs on
    *     still-structured text, after the last dedup stage.
    *  2. **Dedup is SHARDED per snapshot** (§3.4: MinHash per CC dump —
    *     global dedup measurably hurt their benchmarks): exact dedup
    *     keys on (shard, content-prefix) and the near stage is
    *     [[nearDedupedGrouped]], so cross-shard duplicates SURVIVE by
    *     design.
    *
    * Full order: blocklist filter (the URL/domain blocklist analog over
    * the provenance column) → language gate → token floor →
    * Gopher repetition gate → per-shard exact dedup → per-shard
    * MinHash/LSH near-dup → output anonymization. Output: (doc_id,
    * groupCol, clean, n_tokens) — the anonymized surviving documents
    * with their post-redaction token counts (FineWeb ships text, not
    * packed sequences — packing is the consumer's recipe).
    *
    * Scale shape: blocklist/gates are pure projections; the repetition
    * gate is [[repetitionGate]]'s in-row filter; the gated frame
    * persists (its RepetitionStatsExpr projection is md5-heavy and the
    * dedup stages expand it into ~4 consumers); the only shuffles are
    * the exact-dedup key agg and the (group, band, bkey)-keyed bucket
    * join — same count as the unsharded chain. */
  def curateFineWeb(docs: DataFrame, groupCol: String = "source",
      blocked: Seq[String] = Nil, lang: String = "en", minTokens: Int = 30,
      maxTop2GramFrac: Double = 0.15, maxDup3GramFrac: Double = 0.15,
      rules: Seq[(String, String)] = TextOps.DefaultRedactions): DataFrame = {
    val admitted =
      if (blocked.isEmpty) docs else docs.filter(!col(groupCol).isin(blocked: _*))
    val withTs = admitted.select(col("doc_id"), col(groupCol), col("text"))
      .withColumn("ts", TextOps.tokens(col("text")))
    val gated = Cache()(repetitionGate(
      gate(withTs, lang, minTokens, carry = Seq(groupCol)),
      maxTop2GramFrac, maxDup3GramFrac))
    // separator-joined pair key: "src1"+"0..." must not collide with
    // "src10"+"..." (\u0001 occurs in neither part).
    val keep = Dedup.exact(gated, col("doc_id"),
        concat_ws("\u0001", col(groupCol), substring(col("text"), 1, 40)))
      .select(col("keep_id").as("doc_id"))
    val survivors = nearDedupedGrouped(gated.join(keep, Seq("doc_id")), groupCol)
    survivors.select(col("doc_id"), col(groupCol),
        TextOps.redact(col("text"), rules).as("clean"))
      .withColumn("n_tokens", size(TextOps.tokens(col("clean"))).cast("bigint"))
  }

  /** C4's published pipeline composed end-to-end (Raffel et al. 2020
    * §2.2) — the fourth published-order chain (q67 CCNet-ish, q73
    * RefinedWeb, q79 CCNet, q86 FineWeb), and the order C4 actually ran:
    *
    *   1. page + line structural rules ([[TextOps.c4LineFilter]]:
    *      terminal punctuation, ≥ 3 words, banned line terms,
    *      lorem-ipsum/brace pages);
    *   2. bad-WORD page filter (`bannedWords` — C4's blocklist drops the
    *      whole page, and it runs on the line-cleaned text, so a junk
    *      line already removed cannot kill a good page);
    *   3. language filter ([[TextOps.langId]], keep `lang` — C4 kept
    *      only English);
    *   4. three-SPAN dedup at line granularity: C4 removed every
    *      repeated three-sentence span except one occurrence corpus-wide
    *      — exactly [[TextOps.dedupSpans]] over the doc's LINE array
    *      (k = 3, newline reassembly), lines standing in for sentences.
    *
    * Output: (idCol, clean_text, n_lines, n_lines_removed, n_spans).
    * Scale shape: stages 1–3 are pure projections/filters; stage 4 is
    * dedupSpans' single count/min window pass over LINE windows — strictly
    * cheaper than the token-granularity q71 (windows per doc = lines,
    * not tokens). */
  def curateC4(raw: DataFrame, bannedWords: Seq[String] = Nil,
      lang: String = "en", idCol: String = "doc_id"): DataFrame = {
    val lineClean = TextOps.c4LineFilter(raw, idCol, "text")
    val safe = bannedWords.foldLeft(lineClean) { (df, w) =>
      df.filter(!col("clean_text").contains(w))
    }
    val kept = safe
      .select(col(idCol) +: col("clean_text") +:
        TextOps.langId(TextOps.tokens(col("clean_text"))): _*)
      .filter(col("lang_pred") === lang)
      .select(col(idCol), split(col("clean_text"), "\n").as("__lines"))
    TextOps.dedupSpans(kept, idCol, "__lines", k = 3, sep = "\n")
      .withColumnRenamed("n_tokens", "n_lines")
      .withColumnRenamed("n_removed", "n_lines_removed")
  }

  /** [[curateCCNet]]'s shared interior: every doc that cleared the line
    * scrub and token floor, scored and bucketed — (doc_id, lang_pred,
    * n_tokens, n_bigrams, total_bits, score_q, bucket). */
  private[graft] def ccnetBucketed(docs: DataFrame, reference: DataFrame,
      maxLineOccurrences: Long, minTokens: Int, nBuckets: Int): DataFrame = {
    val scrubbed = Cache()(scrubLines(docs, maxLineOccurrences = maxLineOccurrences))
    val tagged = scrubbed
      .select(Seq(col("doc_id"), col("ts"),
        size(col("ts")).cast("bigint").as("n_tokens")) ++
        TextOps.langId(col("ts")): _*)
      .filter(col("n_tokens") >= minTokens)
      .select("doc_id", "lang_pred", "n_tokens", "ts")
    val model = Perplexity.bigramCounts(scrub(reference))
    Perplexity.buckets(
      Perplexity.score(tagged, model), groupCol = "lang_pred", nBuckets)
  }

  /** The CCNet corpus report — the paper's per-language table: document
    * and token counts per (predicted language, perplexity bucket), the
    * artifact an operator reads to size the head/middle/tail trade
    * before freezing a per-language corpus (and the one that catches a
    * mis-trained LM: a reference that doesn't match the corpus's
    * normalization pushes EVERYTHING into the tail, visible here as one
    * giant bucket-3 row). One bounded agg over [[curateCCNet]]'s shared
    * interior — output rows = languages x buckets. */
  def reportCCNet(docs: DataFrame, reference: DataFrame,
      maxLineOccurrences: Long = 1, minTokens: Int = 30,
      nBuckets: Int = 3): DataFrame =
    ccnetBucketed(docs, reference, maxLineOccurrences, minTokens, nBuckets)
      .groupBy("lang_pred", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))

  /** [[report]] for the published order: one row per [[curatePublished]]
    * stage boundary — the line scrub and the repetition gate get their
    * own rows, so a mis-sized repetition threshold or a line scrub run
    * after normalization (which would silently no-op: no newlines left)
    * shows up as a count mismatch. Same one-agg-per-stage scale shape
    * as [[report]]. */
  def reportPublished(docs: DataFrame, benchmark: DataFrame,
      k: Int = 3, minOverlap: Int = 2, maxLineOccurrences: Long = 1,
      maxTop2GramFrac: Double = 0.15, maxDup3GramFrac: Double = 0.15): DataFrame = {
    val scrubbed = Cache()(scrubLines(docs, maxLineOccurrences = maxLineOccurrences))
    val gated = Cache()(gate(scrubbed))
    val rg = Cache()(repetitionGate(gated, maxTop2GramFrac, maxDup3GramFrac))
    val ex = Cache()(exactDeduped(rg))
    // Recompute for the same reason as [[report]]: ex is a cached stage.
    val nd = Cache()(nearDeduped(ex, Recompute))
    val clean = decontaminate(nd, scrub(benchmark), k, minOverlap)
    def stat(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("ts")).cast("bigint")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    stat("0_line_scrubbed", scrubbed)
      .unionByName(stat("1_gated", gated))
      .unionByName(stat("2_repetition_gated", rg))
      .unionByName(stat("3_exact_dedup", ex))
      .unionByName(stat("4_near_dedup", nd))
      .unionByName(stat("5_decontaminated", clean))
  }

  /** Stage 5: survivors packed into `seqLen`-token training sequences —
    * each doc's global token offset (distributed prefix sum) and the
    * first/last sequence ids it lands in. */
  def curate(docs: DataFrame, seqLen: Int = 512): DataFrame =
    TextOps.packSequences(
        curatedDocs(docs)
          .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens", seqLen)
      .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")

  /** Incremental admission — dedup a NEW batch against an already-curated
    * corpus without re-reading the corpus, the way curation actually runs
    * in production (data arrives in shards; the curated corpus is frozen).
    * `fresh` is (doc_id, text, ts); `store` is the retained
    * [[graft.dedup.Dedup.signatureStore]] of the existing corpus
    * (doc_id, xkey, sig). Returns the admitted fresh rows; the stages are
    * [[Admission]]'s. MinHash edition: the key rows are
    * [[graft.dedup.Dedup.bandStore]]'s (band, bkey), and a batch doc is a
    * near-dup when its signature agrees >= `sigAgree`
    * ([[graft.dedup.Dedup.sigAgreement]], the estimated Jaccard — the
    * store keeps no text, so the estimate IS the contract; size
    * numHashes accordingly). Pass `storeBands` (a bandStore table) to
    * read the store's banded rows bucketed in place. */
  def admit(fresh: DataFrame, store: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 2, numHashes: Int = 8, k: Int = 3,
      sigAgree: Double = 0.5, storeBands: Option[DataFrame] = None): DataFrame =
    Admission.minhash(bands, rowsPerBand, numHashes, k, sigAgree)(fresh, store, storeBands)

  /** [[admit]] by Hamming distance ([[graft.dedup.Dedup.simhashNearDup]]'s
    * family). `store` is a [[graft.dedup.Dedup.simhashStore]] (doc_id,
    * xkey, simhash); the key rows are
    * [[graft.dedup.Dedup.simhashBandStore]]'s (band, bval), and a batch
    * doc is a near-dup within `maxHamming` bits. Recall is exactly 1 for
    * `maxHamming <= bands - 1` (pigeonhole, enforced). */
  def admitSimhash(fresh: DataFrame, store: DataFrame, bits: Int = 60,
      bands: Int = 4, bitsPerBand: Int = 15, maxHamming: Int = 3,
      storeBands: Option[DataFrame] = None): DataFrame =
    Admission.simhash(bits, bands, bitsPerBand, maxHamming)(fresh, store, storeBands)

  /** [[admit]] by embedding cosine ([[graft.ann.Ann.nearDupPairs]]'
    * family, SemDeDup's regime). `fresh` is (vec_id, embedding) raw float
    * vectors; `store` is a [[graft.ann.Ann.embeddingStore]] (vec_id,
    * xkey, qvec), whose xkey is direction identity at int8 resolution, so
    * re-scaled copies drop as exact. The key rows are
    * [[graft.ann.Ann.signBucketStore]]'s (tbl, bucket) over the quantized
    * vectors, and a batch vector is a near-dup at cosine >= `threshold`
    * (integer dots, bit-exact cross-engine). `planes` grows with
    * log2(corpus) ([[graft.ann.Ann.nearDupPairs]]' rule); raise `tables`
    * to buy back per-plane recall. */
  def admitEmbedding(fresh: DataFrame, store: DataFrame,
      threshold: Double = 0.99, seed: Long = 42, tables: Int = 6,
      planes: Int = 8, dim: Int = 64,
      storeBuckets: Option[DataFrame] = None): DataFrame =
    Admission.embedding(threshold, seed, tables, planes, dim)(fresh, store, storeBuckets)

  /** Deterministic domain mixing — the pretraining stage that combines
    * curated corpora at target TOKEN proportions under a total budget
    * (the "data mixture" every published LM recipe specifies). Each
    * source `s` with target share `share_s` gets acceptance rate
    * r_s = min(1, budget·share_s / tokens_s); a doc is kept iff
    * seededHash(seed, source, id) mod 10^6 < floor(r_s·10^6) — the q38
    * integer-threshold Bernoulli, reproducible bit-for-bit by an
    * external engine and stable under retries. Sources whose corpus is
    * smaller than their target allotment keep everything (rate clamps
    * at 1 — the mixture then under-delivers that domain rather than
    * inventing data). Output: the union of accepted rows with a
    * `source` tag.
    *
    * One bounded aggregation per source computes tokens_s on the driver
    * (a scalar per source — the ConcatenatedScheme-style documented
    * action); the mix itself is a pure per-row filter + union: no
    * shuffle at any scale. Expected token error vs the target is
    * O(sqrt(n_docs)) per source (Bernoulli on docs, not tokens). */
  def mix(sources: Seq[(String, DataFrame, Double)], idCol: String,
      nTokCol: String, budgetTokens: Long, seed: Long = 13): DataFrame = {
    require(sources.nonEmpty, "mix needs at least one source")
    require(math.abs(sources.map(_._3).sum - 1.0) < 1e-9,
      s"shares must sum to 1, got ${sources.map(_._3).sum}")
    mixAccept(sources.map { case (name, df, share) =>
      (name, df, share, sourceTokens(name, df, nTokCol, "mix"))
    }, idCol, budgetTokens, seed)
  }

  /** [[mix]] with TEMPERATURE-derived shares — the multilingual /
    * multi-domain balancing rule (Conneau & Lample 2019's sampling:
    * share_s ∝ tokens_s^alpha, renormalized): alpha = 1 reproduces
    * natural proportions, alpha → 0 approaches uniform, and the common
    * alpha = 0.5 upweights small sources at sub-linear cost to large
    * ones. The derived shares feed the SAME integer-threshold Bernoulli
    * as [[mix]].
    *
    * alpha is restricted to {1, 0.5, 0.25} — the IEEE-EXACT exponents:
    * sqrt is correctly rounded (so sqrt and sqrt∘sqrt are bit-stable
    * cross-engine), while pow(x, a) for general a is libm-dependent and
    * would break both the oracle contract and retry determinism. Token
    * totals compute once (one bounded agg per source) and flow to both
    * the share derivation and the acceptance rates. */
  def mixTemperature(sources: Seq[(String, DataFrame)], idCol: String,
      nTokCol: String, budgetTokens: Long, alpha: Double = 0.5,
      seed: Long = 13): DataFrame = {
    require(sources.nonEmpty, "mixTemperature needs at least one source")
    require(Set(1.0, 0.5, 0.25).contains(alpha),
      s"mixTemperature: alpha must be 1, 0.5 or 0.25 (the IEEE-exact " +
        s"roots — general pow is libm-dependent and breaks cross-engine " +
        s"reproducibility); got $alpha")
    val root: Double => Double =
      if (alpha == 1.0) identity
      else if (alpha == 0.5) math.sqrt
      else x => math.sqrt(math.sqrt(x))
    val totals = sources.map { case (name, df) =>
      (name, df, sourceTokens(name, df, nTokCol, "mixTemperature"))
    }
    val weights = totals.map { case (_, _, t) => root(t.toDouble) }
    val wsum = weights.sum // left-fold order — the oracle adds in the same order
    mixAccept(totals.zip(weights).map { case ((name, df, t), w) =>
      (name, df, w / wsum, t)
    }, idCol, budgetTokens, seed)
  }

  /** [[mix]] with EPOCH REPEATS — the up-sampling half of domain
    * mixing that [[mix]]'s rate clamp deliberately forgoes: published
    * recipes run small high-quality sources for MULTIPLE epochs
    * (LLaMA's Wikipedia ~2.4, books ~2.2; Gopher repeats its curated
    * sets) rather than under-delivering them. A source with acceptance
    * rate r = budget·share_s / tokens_s emits ⌊r⌋ FULL copies of every
    * doc (epoch = 0..⌊r⌋-1) plus a fractional epoch ⌊r⌋ admitted by the
    * same integer-threshold Bernoulli as [[mix]] keyed on (seed, source,
    * id) — so for r < 1 the output is exactly [[mix]]'s at epoch 0, and
    * an external engine replays the whole expansion bit-for-bit.
    *
    * Scale shape: one bounded agg per source for tokens_s; the epoch
    * expansion is a per-row `explode(sequence(0, ⌊r⌋))` — a pure
    * projection whose fan-out is the PER-SOURCE scalar ⌊r⌋, guarded by
    * `maxEpochs` (a mis-specified share would otherwise silently
    * multiply a 100 TB source) — and the fractional admission is a
    * filter: no shuffle anywhere. Output: (source, epoch, original
    * columns), one row per (doc, epoch) — downstream packing treats
    * (source, epoch, id) as the sequence key. */
  def mixWithRepeats(sources: Seq[(String, DataFrame, Double)], idCol: String,
      nTokCol: String, budgetTokens: Long, seed: Long = 13,
      maxEpochs: Int = 100): DataFrame = {
    require(sources.nonEmpty, "mixWithRepeats needs at least one source")
    require(math.abs(sources.map(_._3).sum - 1.0) < 1e-9,
      s"shares must sum to 1, got ${sources.map(_._3).sum}")
    sources.map { case (name, df, share) =>
      val total = sourceTokens(name, df, nTokCol, "mixWithRepeats")
      val rate = budgetTokens.toDouble * share / total.toDouble
      val full = math.floor(rate).toLong
      require(full <= maxEpochs,
        s"mixWithRepeats: source '$name' would repeat for $full full epochs " +
          s"(rate $rate > maxEpochs $maxEpochs) — a mis-sized share or budget; " +
          "raise maxEpochs only if the repetition is intended")
      val threshold = math.floor((rate - math.floor(rate)) * 1000000).toLong
      df.withColumn("epoch", explode(sequence(lit(0L), lit(full))))
        .filter(col("epoch") < full ||
          pmod(graft.functions.Stable.seededHash(seed, lit(name), col(idCol)),
            lit(1000000L)) < threshold)
        .withColumn("source", lit(name))
    }.reduce(_ unionByName _)
  }

  /** The published data-mixture table (LLaMA table 1's shape: per
    * source — available tokens, target share, sampling proportion,
    * epochs) measured from the ACTUAL mixture rather than transcribed
    * from intent: one row per source with the derived rate/epoch
    * scalars AND the realized acceptance counts from
    * [[mixWithRepeats]]' output, so a share typo or a skewed Bernoulli
    * shows up as intent-vs-realized disagreement in one table.
    *
    * Scale shape: the scalar half is [[mixWithRepeats]]' own bounded
    * per-source aggs; the realized half is ONE source-keyed agg over
    * the mixture (map-side combined, ≤ |sources| rows); the join is a
    * broadcast of the |sources|-row scalar frame. */
  def mixReport(sources: Seq[(String, DataFrame, Double)], idCol: String,
      nTokCol: String, budgetTokens: Long, seed: Long = 13,
      maxEpochs: Int = 100): DataFrame = {
    require(sources.nonEmpty, "mixReport needs at least one source")
    val spark = sources.head._2.sparkSession
    import spark.implicits._
    val scalars = sources.map { case (name, df, share) =>
      val total = sourceTokens(name, df, nTokCol, "mixReport")
      val rate = budgetTokens.toDouble * share / total.toDouble
      (name, total, share, rate, math.floor(rate).toLong,
        math.floor((rate - math.floor(rate)) * 1000000).toLong)
    }.toDF("source", "available_tokens", "share", "rate", "full_epochs",
      "frac_threshold")
    val realized = mixWithRepeats(sources, idCol, nTokCol, budgetTokens,
        seed, maxEpochs)
      .groupBy("source")
      .agg(count(lit(1)).as("accepted_rows"),
        coalesce(sum(col(nTokCol)), lit(0L)).as("accepted_tokens"))
    broadcast(scalars).join(realized, Seq("source"), "left")
      .withColumn("accepted_rows", coalesce(col("accepted_rows"), lit(0L)))
      .withColumn("accepted_tokens", coalesce(col("accepted_tokens"), lit(0L)))
  }

  /** One bounded agg: a source's token total (the driver-side scalar
    * both mixers consume). coalesce: sum() over zero rows (or all-null
    * tokens) is null, and a bare getLong would NPE before the require
    * names the empty source. */
  private def sourceTokens(name: String, df: DataFrame, nTokCol: String,
      op: String): Long = {
    val total = df.agg(coalesce(sum(col(nTokCol)), lit(0L)).cast("long"))
      .head().getLong(0)
    require(total > 0, s"$op source '$name' has no tokens")
    total
  }

  /** The shared acceptance tail: rate_s = min(1, budget·share_s /
    * tokens_s), kept iff seededHash(seed, source, id) mod 10^6 <
    * floor(rate_s·10^6) — a pure per-row filter + union, no shuffle. */
  private def mixAccept(sources: Seq[(String, DataFrame, Double, Long)],
      idCol: String, budgetTokens: Long, seed: Long): DataFrame =
    sources.map { case (name, df, share, total) =>
      val rate = math.min(1.0, (budgetTokens.toDouble * share) / total.toDouble)
      val threshold = math.floor(rate * 1000000).toLong
      df.filter(pmod(graft.functions.Stable.seededHash(seed, lit(name), col(idCol)),
          lit(1000000L)) < threshold)
        .withColumn("source", lit(name))
    }.reduce(_ unionByName _)

  /** Close the pipeline loop (the `fill_hdf5_file` step): pack the curated
    * corpus, assign train/valid/test splits by seeded hash of doc_id, and
    * write split-partitioned parquet — reloadable split-pruned via
    * [[SplitSource.read]] or a [[graft.sources.Catalog]] registration, and
    * iterable via [[graft.stream.DataStream]]. */
  def materialize(docs: DataFrame, path: String, seqLen: Int = 512,
      seed: Long = 7,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)): Unit =
    SplitSource.write(
      SplitSource.assignSplit(curate(docs, seqLen), col("doc_id"), seed, weights),
      path)

  /** [[materialize]] for the tensor-ready artifact: the curated corpus
    * tokenized against its own top-`topK` dictionary, packed into the
    * actual `seqLen`-token sequences ([[TextOps.packTokens]]), splits
    * assigned by seeded hash of seq_id (sequences cross doc boundaries,
    * so the SEQUENCE is the split unit), written split-partitioned.
    * The training loop reloads a split and iterates token-array batches
    * through [[graft.stream.DataStream]] (CurationSpec). */
  def materializeTokens(docs: DataFrame, path: String, seqLen: Int = 512,
      topK: Int = 50, seed: Long = 7,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)): Unit =
    writeTokenArtifact(curatedDocs(docs), path, seqLen, topK, seed, weights)

  /** The tensor-artifact tail shared by [[materializeTokens]] and
    * [[materializeMixture]]: dictionary over the given docs, tokenize,
    * pack, span, split-assign by seq_id, write split-partitioned. */
  private def writeTokenArtifact(docs: DataFrame, path: String, seqLen: Int,
      topK: Int, seed: Long, weights: Seq[(String, Double)]): Unit = {
    val dict = TextOps.buildDictionary(docs, "text", topK)
    val toks = Cache()(TextOps.tokenize(docs, "doc_id", "text", dict))
    val seqs = TextOps.packTokens(toks, "doc_id", "pos", "token_id", seqLen)
    // The trainer-facing artifact carries the cross-doc attention-mask
    // metadata ALONGSIDE the tokens: per sequence, the (start, end,
    // doc_id) spans — from the same per-doc counts packTokens' prefix
    // sum consumes, so spans and token positions agree by construction
    // (CurationSpec asserts the tiling against each row's token count).
    // The struct's field order makes array_sort order spans by start.
    val spans = TextOps.packDocSpans(
        toks.groupBy("doc_id").agg(count(lit(1)).cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens", seqLen)
      .groupBy("seq_id")
      .agg(array_sort(collect_list(struct(
        col("span_start"), col("span_end"), col("doc_id")))).as("spans"))
    SplitSource.write(
      SplitSource.assignSplit(seqs.join(spans, Seq("seq_id")),
        col("seq_id"), seed, weights), path)
  }

  /** Close the MIXTURE loop: [[mix]]'s accepted docs from every source,
    * tokenized against ONE dictionary built over the mixture (the vocab
    * a trainer of the mixed corpus actually sees), packed into `seqLen`
    * sequences with doc spans, split-assigned by seq_id and written
    * split-partitioned — [[materializeTokens]] for a multi-corpus data
    * recipe, the artifact a published mixing stage ultimately produces.
    *
    * `sources` are already-CURATED corpora (name, docs(doc_id, text),
    * target share) — curation is per-source, upstream
    * ([[curatePublished]]); the mixture stage only selects and packs.
    * doc_ids must be disjoint across sources (they key the packing
    * order) — enforced by a one-row probe before anything writes, since
    * a collision would silently interleave two documents' tokens into
    * one packed stream. */
  def materializeMixture(sources: Seq[(String, DataFrame, Double)], path: String,
      budgetTokens: Long, seqLen: Int = 512, topK: Int = 50, mixSeed: Long = 13,
      splitSeed: Long = 7,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)): Unit = {
    val prepped = sources.map { case (name, df, share) =>
      val ts = TextOps.tokens(col("text"))
      (name, df.select(col("doc_id"), col("text"), size(ts).cast("bigint").as("n_tokens")),
        share)
    }
    val mixed = Cache()(mix(prepped, "doc_id", "n_tokens", budgetTokens, mixSeed))
    val ids = mixed.agg(count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("d")).head()
    require(ids.getLong(0) == ids.getLong(1),
      "materializeMixture: doc_ids must be disjoint across sources — " +
        s"${ids.getLong(0)} accepted rows but only ${ids.getLong(1)} distinct ids; " +
        "re-key the colliding source before mixing")
    writeTokenArtifact(mixed, path, seqLen, topK, splitSeed, weights)
  }

  /** Competence-paced curriculum schedule (Bengio et al. 2009;
    * Platanios et al. 2019's competence pacing) — the training-order
    * stage after mixing: early epochs train on the EASIEST fraction of
    * each group and the admitted pool grows linearly to the full corpus
    * by the last epoch. A doc with difficulty score s joins at the
    * first epoch e whose competence fraction (e+1)/epochs covers its
    * score rank, and stays for every later epoch. Difficulty is any
    * integer column (token count is the classic length curriculum; a
    * perplexity or quality score plugs in unchanged). Complement of
    * [[TextOps.packSequencesOrdered]]: that orders tokens WITHIN one
    * pass by difficulty; this grows the admitted pool ACROSS epochs.
    *
    * Deterministic and oracle-exact: admission cutoffs are integer
    * histogram thresholds — cut_i = min score with cum·epochs ≥ n·i,
    * the SAME per-group rule as [[Perplexity.buckets]] — and the
    * within-epoch mixing key is [[graft.functions.Stable.seededHash]]
    * (seed, group, epoch, id): each epoch visits its pool in a fresh
    * reproducible order when the consumer sorts by `ord_key` (emitted
    * as a COLUMN, not an order — ordering is the iteration scheme's
    * job, and a corpus-wide sort here would be an unbudgeted range
    * shuffle).
    *
    * Scale shape: the histogram is bounded by the group × distinct
    * integer scores (quantized scores, not rows); its cumsum window
    * partitions by group; cuts broadcast back; admission is a pure
    * projection and the epoch fan-out an `explode(sequence(...))`
    * bounded by `epochs`. No global sort, no corpus-keyed window,
    * one corpus shuffle (the histogram agg, map-side combined).
    * Output: (groupCol, epoch, idCol, joined_at, ord_key) — one row
    * per (doc, epoch it participates in). */
  def curriculum(docs: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, epochs: Int, seed: Long = 29): DataFrame = {
    require(epochs >= 1, s"curriculum: epochs must be >= 1, got $epochs")
    val q = docs.select(col(groupCol), col(idCol),
        col(scoreCol).cast("bigint").as("__s"))
      .filter(col("__s").isNotNull)
    val hist = q.groupBy(col(groupCol), col("__s")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w.orderBy("__s")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(w))
    val cutAggs = (1 until epochs).map(i =>
      min(when(col("__cum") * epochs >= col("__n") * i, col("__s")))
        .as(s"__cut$i"))
    val joined =
      if (epochs == 1) q.withColumn("joined_at", lit(0))
      else {
        val cuts = cum.groupBy(groupCol).agg(cutAggs.head, cutAggs.tail: _*)
        val at = (1 until epochs).foldLeft(lit(0)) { (acc, i) =>
          acc + when(col("__s") > col(s"__cut$i"), 1).otherwise(0)
        }
        q.join(broadcast(cuts), Seq(groupCol))
          .withColumn("joined_at", at)
          .drop((1 until epochs).map(i => s"__cut$i"): _*)
      }
    joined
      .select(col(groupCol), col(idCol), col("joined_at").cast("int").as("joined_at"),
        explode(sequence(col("joined_at").cast("bigint"), lit(epochs.toLong - 1)))
          .as("epoch"))
      .select(col(groupCol), col("epoch"), col(idCol), col("joined_at"),
        graft.functions.Stable.seededHash(seed, col(groupCol), col("epoch"),
          col(idCol)).as("ord_key"))
  }

  /** Per-group document cap — the per-domain frequency discipline web
    * pipelines apply before mixing (C4 kept one page per URL; later
    * corpora cap documents per registered domain so no single site
    * dominates the mixture): keep at most `cap` docs per `groupCol`
    * value, chosen by seeded-hash order — a deterministic uniform
    * sample of each over-represented group, reproducible bit-for-bit
    * under retries and by the oracle.
    *
    * Scale shape: the selection is the bounded [[graft.functions.TopK]]
    * aggregator keyed on the group (value constant, tie-break = the
    * seeded hash → the `cap` SMALLEST hashes per group), so every map
    * task reduces its input to ≤ cap rows per group before the shuffle
    * — a `row_number() OVER (PARTITION BY domain ORDER BY hash)` window
    * would instead sort each domain's entire row set in one task, and
    * the hot domain IS the over-represented one this operator exists to
    * cap. The join-back keys on (group, hash), so even the hot group's
    * probe rows spread across partitions; the kept side is
    * groups·cap rows — bounded per group but NOT globally (millions of
    * domains at 100 TB), hence a plain shuffled join and no forced
    * broadcast (AQE converts when it fits). */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String, cap: Int,
      seed: Long = 17): DataFrame = {
    require(cap >= 1, s"capPerGroup: cap must be >= 1, got $cap")
    val keyed = df.withColumn("__h",
      graft.functions.Stable.seededHash(seed, col(groupCol), col(idCol)))
    val kept = keyed.groupBy(groupCol)
      .agg(graft.functions.TopK.topK(cap)(lit(0.0), col("__h")).as("__keep"))
      .select(col(groupCol), explode(col("__keep._2")).as("__h"))
    keyed.join(kept, Seq(groupCol, "__h")).drop("__h")
  }
}

/** One incremental-admission family: what [[Curation.admit]],
  * [[Curation.admitSimhash]] and [[Curation.admitEmbedding]] (and their
  * streams) do NOT share. `signatures` builds a batch's (idCol, xkey,
  * sigCol) rows, `near` is the stored layout of the near tier, whose
  * `project` turns those rows into key rows (its bucket columns, idCol,
  * sigCol), and `verify` decides a candidate pair from its two
  * signatures. [[apply]] is the one admission body. */
private[graft] final case class Admission(op: String, idCol: String,
    sigCol: String, signatures: DataFrame => DataFrame, near: StoreKind,
    verify: (Column, Column) => Column) {

  /** The exact tier's stored layout. */
  def exact: StoreKind = Dedup.exactStore(sigCol, idCol)

  /** Admit `fresh` against `store` (this family's exact-store rows) and
    * return the admitted fresh rows. Three drop stages:
    *   1. exact-within: duplicate xkeys inside the batch collapse to the
    *      min id ([[graft.dedup.Dedup.exact]] — the skew-safe agg form);
    *   2. exact-cross: anti-join surviving xkeys against the store's;
    *   3. near: ONE keyed candidate pass — a surviving batch row drops if
    *      `verify` holds against any STORE row or any LOWER-ID batch row
    *      sharing a key row. The within-batch rule is the one-pass greedy
    *      form: the shadowing lower-id row may itself be store-dropped, in
    *      which case the higher-id row is a near-dup of a near-dup —
    *      transitively similar, and dropping it is the conservative call.
    *
    * Exact-within runs FIRST for the reason [[Curation.dedupe]] stages
    * it first: clone families inside the batch are the hot-bucket
    * pathology the occupancy guard on the batch's key rows would
    * otherwise trip on. Both sides carry their signature through the key
    * shuffle, so the verify is a filter on the joined row — no rejoin.
    *
    * `storeNear` is the store's key rows read from a `near` table, which
    * is joined SEPARATELY so its bucket partitioning survives (a union
    * with the batch's rows would erase it): the corpus-sized stream then
    * never re-shuffles per batch. Without it the store's key rows are
    * built with `near.project` and joined in ONE fused pass against the
    * union of store and batch rows, which must shuffle anyway. Both
    * forms evaluate the same (batch × store) and (batch × batch) pairs;
    * on an unkeyed store the fused one plans the guarded batch rows once
    * instead of twice and ran faster (q60/q70/q82/q190 at sf0.1, 9 of
    * 10 interleaved pairs).
    * `store` is read twice (exact anti-join, key rows) — pass a cheap
    * rescan or a cached frame. The batch survivor frame persists: it is
    * the batch's smallest shape and feeds the key rows, the verify and
    * the final anti-join. */
  def apply(fresh: DataFrame, store: DataFrame,
      storeNear: Option[DataFrame]): DataFrame = {
    val keyCols = near.bucketCols
    val keys = keyCols.map(col)
    val sigs = Cache()(signatures(fresh))
    // 1. exact-within: min id per xkey survives.
    val w1 = sigs.join(Dedup.exact(sigs, col(idCol), col("xkey"))
      .select(col("keep_id").as(idCol)), Seq(idCol))
    // 2. exact-cross: batch xkeys absent from the store.
    val w2 = Cache()(w1.join(store.select("xkey"), Seq("xkey"), "left_anti"))
    // 3. near: against the store and the lower-id batch peers.
    val rows = near.project(w2)
    val left = Guards.occupancy(rows, keyCols, keyCols.last, "maxBucket",
        Admission.MaxBucket, s"$op: bucket", "The batch's exact tiers ran " +
          "first, so resize the banding for this corpus size")
      .select(keys :+ col(idCol).as("fid") :+ col(sigCol).as("fsig"): _*)
    val peers = rows.select(keys :+ col(idCol).as("rid") :+ col(sigCol).as("rsig"): _*)
    def verified(cand: DataFrame): DataFrame =
      cand.filter(verify(col("fsig"), col("rsig"))).select(col("fid").as(idCol))
    val drops = (storeNear match {
      case Some(sn) =>
        verified(left.join(sn.select(keys :+ col(sigCol).as("rsig"): _*), keyCols))
          .unionByName(verified(left.join(peers, keyCols).filter(col("rid") < col("fid"))))
      case None =>
        val right = near.project(store)
          .select(keys :+ col(idCol).as("rid") :+ col(sigCol).as("rsig"): _*)
          .withColumn("is_store", lit(true))
          .unionByName(peers.withColumn("is_store", lit(false)))
        verified(left.join(right, keyCols)
          .filter(col("is_store") || col("rid") < col("fid")))
    }).distinct()
    fresh.join(w2.join(drops, Seq(idCol), "left_anti").select(idCol), Seq(idCol))
  }
}

private[graft] object Admission {

  /** The batch-side bucket occupancy bound. */
  private val MaxBucket = 100000

  /** MinHash signatures, verified by estimated Jaccard. */
  def minhash(bands: Int = 4, rowsPerBand: Int = 2, numHashes: Int = 8,
      k: Int = 3, sigAgree: Double = 0.5): Admission =
    Admission("admit", "doc_id", "sig",
      Dedup.signatureStore(_, "doc_id", "text", "ts", numHashes, k),
      Dedup.bandStore(bands, rowsPerBand),
      (a, b) => Dedup.sigAgreement(a, b) >= sigAgree)

  /** SimHash signatures, verified by Hamming distance. */
  def simhash(bits: Int = 60, bands: Int = 4, bitsPerBand: Int = 15,
      maxHamming: Int = 3): Admission = {
    require(maxHamming <= bands - 1,
      s"banding with $bands bands only guarantees recall for Hamming <= ${bands - 1}, " +
        s"got maxHamming=$maxHamming (raise bands or lower maxHamming)")
    Admission("admitSimhash", "doc_id", "simhash",
      Dedup.simhashStore(_, "doc_id", "text", "ts", bits),
      Dedup.simhashBandStore(bands, bitsPerBand),
      (a, b) => Dedup.hammingDistance(a, b) <= maxHamming)
  }

  /** Int8-quantized embeddings, verified by cosine. */
  def embedding(threshold: Double = 0.99, seed: Long = 42, tables: Int = 6,
      planes: Int = 8, dim: Int = 64): Admission =
    Admission("admitEmbedding", "vec_id", "qvec",
      graft.ann.Ann.embeddingStore(_, "vec_id", "embedding"),
      graft.ann.Ann.signBucketStore(seed, tables, planes, dim),
      (a, b) => graft.ann.Ann.cosine(a.cast("array<double>"),
        b.cast("array<double>")) >= threshold)
}
